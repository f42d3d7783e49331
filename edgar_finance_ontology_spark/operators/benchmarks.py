"""Benchmark statistics per (industry, metric) and all-market scope.

Reference: compute_benchmarks (select_xbrl_tags.py:614-715) —
mean / median (interpolating) / max / min / index-based p25 & p75
(sorted[int(n*q)], NOT interpolated) / sample_size ≥ 2, computed over
the CSV-rounded (%.6f) values of the six KEY metrics, with the
all-market group fed only by rows that *have* an industry.

Drift note: the shipped reference raises NameError on the industry-
scope sector lookup (industry_sector_map undefined at module scope,
select_xbrl_tags.py:675) whenever any industry has ≥2 companies, so it
effectively never emits industry benchmarks. We implement the intended
semantics with a deterministic sector lookup (min sector per industry).

Spark shape: two scopes, two physical strategies.

  * industry scope: groupBy(industry, metric) + one Arrow-batched
    pandas UDF over the per-group sorted list — group cardinality is
    bounded by companies-per-industry, so the list is safe;
  * all-market scope: the group holds EVERY entity, so no list may
    ever materialize. operators/exact_stats.py computes the identical
    Python-exact numbers via a distributed range-sort + global-rank
    row selection + exact Fraction partial sums (one shuffle; only
    O(partitions x metrics) rows reach the driver).

Both paths reproduce statistics.mean (exact-rational) /
statistics.median / nearest-rank percentiles bit-for-bit — required
for byte-identical TTL literals.
"""

from __future__ import annotations

import statistics

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    DoubleType, IntegerType, StructField, StructType,
)

from ..vocab.metrics import BENCHMARK_RANKING_METRICS

_BENCH_DDL = (
    "industry string, sector string, metric string, fy int, "
    "average_value double, median_value double, max_value double, "
    "min_value double, percentile25 double, percentile75 double, "
    "sample_size int"
)

_STATS_TYPE = StructType([
    StructField("average_value", DoubleType()),
    StructField("median_value", DoubleType()),
    StructField("max_value", DoubleType()),
    StructField("min_value", DoubleType()),
    StructField("percentile25", DoubleType()),
    StructField("percentile75", DoubleType()),
    StructField("sample_size", IntegerType()),
])


@pandas_udf(_STATS_TYPE)
def _group_stats(values: pd.Series) -> pd.DataFrame:
    out = []
    for vals in values:
        vs = sorted(float(v) for v in vals)
        n = len(vs)
        out.append({
            "average_value": statistics.mean(vs),
            "median_value": statistics.median(vs),
            "max_value": max(vs),
            "min_value": min(vs),
            "percentile25": vs[int(n * 0.25)],
            "percentile75": vs[int(n * 0.75)],
            "sample_size": n,
        })
    return pd.DataFrame(out)


def _key_metric_values(observations: DataFrame) -> DataFrame:
    """KEY-metric rows with CSV-round-tripped values (%.6f write +
    float() parse, exact-binary rounding) and finite guard
    (select_xbrl_tags.py:640-668).

    The guard tests the raw value: the round trip maps null/NaN to
    null and ±inf to itself, and keeps every finite double finite, so
    it drops the same rows as a guard on the rounded value. The rounding
    UDF then runs once, in the select; a filter on its output would be
    pushed below that select with the UDF inlined, a second Python
    pass over the same rows."""
    from ..functions.iri import py_round6_col

    v = F.col("value")
    return observations.where(
        (F.col("industry") != "") & F.col("industry").isNotNull()
        & F.col("metric").isin(*BENCHMARK_RANKING_METRICS)
        & v.isNotNull() & ~F.isnan(v)
        & (v != float("inf")) & (v != float("-inf"))
    ).select("cik", "symbol", "industry", "sector", "metric",
             py_round6_col(v).alias("value"))


def compute_benchmarks(
    observations: DataFrame,
    fy: int,
    include_industry_scope: bool = True,
    max_list_group: int = 100_000,
) -> DataFrame:
    """BENCHMARKS_SCHEMA rows. industry='' sector='' = all-market.

    `max_list_group`: industry groups larger than this bypass the
    pandas list path and go through the exact distributed path — a
    web-scale "industry" with millions of entities must never
    materialize as one aggregation buffer.
    """
    from .exact_stats import exact_group_stats

    spark = observations.sparkSession
    # every consumer below (routing probe, industry lists, all-market
    # exact stats, sector lookup) reads the rounded rows: materialize
    # them once so the rounding UDF runs once per call, not per action
    rows = _key_metric_values(observations).localCheckpoint(eager=True)

    # deterministic industry -> sector (reference intent; drift note)
    ind_sector_rows = (
        rows.groupBy("industry").agg(F.min("sector").alias("sector"))
    )

    parts = []
    if include_industry_scope:
        sizes = rows.groupBy("industry", "metric").agg(
            F.count("value").alias("_n")
        )
        small_keys = sizes.where(
            (F.col("_n") >= 2) & (F.col("_n") <= max_list_group)
        ).select("industry", "metric")
        big_keys = sizes.where(F.col("_n") > max_list_group).select(
            "industry", "metric"
        )
        # one cheap partial-agg job decides the routing (max group size)
        # instead of a limit(1).count() probe whose semi-join replays
        # the full rows lineage a second time
        max_n = sizes.agg(F.max("_n")).first()[0]

        grouped = (
            rows.join(small_keys, ["industry", "metric"], "left_semi")
            .groupBy("industry", "metric")
            .agg(
                F.collect_list("value").alias("vals"),
                F.count("value").alias("n"),
            )
        )
        stats = grouped.withColumn("s", _group_stats(F.col("vals")))
        parts.append(
            stats.join(F.broadcast(ind_sector_rows), "industry", "left")
            .select(
                "industry",
                F.coalesce(F.col("sector"), F.lit("")).alias("sector"),
                "metric",
                F.lit(fy).alias("fy"),
                F.col("s.average_value").alias("average_value"),
                F.col("s.median_value").alias("median_value"),
                F.col("s.max_value").alias("max_value"),
                F.col("s.min_value").alias("min_value"),
                F.col("s.percentile25").alias("percentile25"),
                F.col("s.percentile75").alias("percentile75"),
                F.col("s.sample_size").alias("sample_size"),
            )
        )

        # oversized industry groups: exact distributed path on the
        # composite (industry, metric) key — same numbers, no list.
        # Delimiter is the ASCII unit separator \x1f, NOT \x00: pandas
        # 2.x groupby hashes object strings with C-string semantics and
        # silently merges keys that agree up to the first null byte
        # (caught by exact_group_stats' count assert; regression test
        # test_big_industry_branch_through_run_pipeline).
        if max_n is not None and max_n > max_list_group:
            big_rows = rows.join(big_keys, ["industry", "metric"],
                                 "left_semi")
            key = F.concat_ws("\x1f", "industry", "metric")
            big_pdf = exact_group_stats(
                big_rows.withColumn("_k", key), "_k", "value", min_n=2
            )
            sec_map = {
                r["industry"]: r["sector"] or ""
                for r in ind_sector_rows.collect()
            }
            big_out = []
            for r in big_pdf.to_dict("records"):
                ind, met = r["group"].split("\x1f", 1)
                big_out.append(
                    (ind, sec_map.get(ind, ""), met, fy, r["average"],
                     r["median"], r["max"], r["min"], r["p25"], r["p75"],
                     int(r["n"]))
                )
            parts.append(spark.createDataFrame(big_out, _BENCH_DDL))

    # all-market scope: distributed exact — NEVER a collect_list over
    # every entity (operators/exact_stats.py)
    allm = exact_group_stats(rows, "metric", "value", min_n=2)
    allm_rows = [
        ("", "", r["group"], fy, r["average"], r["median"], r["max"],
         r["min"], r["p25"], r["p75"], int(r["n"]))
        for r in allm.to_dict("records")
    ]
    parts.append(spark.createDataFrame(allm_rows, _BENCH_DDL))

    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # bounded (industries x KEY metrics): one partition, so the float-
    # repr UDF of benchmark_triples starts one Python task, not one per
    # union part
    return out.coalesce(1)
