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

Spark shape: one route for both scopes. Each rounded KEY-metric row is
keyed twice, as `industry\\x1fmetric` and as `\\x1fmetric` (all-market),
and the keyed rows go through ONE operators/exact_stats.py
exact_group_stats call: a bounded driver collect below its driver_cap,
else a distributed range-sort + global-rank row selection + exact
rational partial sums. No group ever materializes as a list, so an
industry holding millions of entities costs what the all-market group
costs.

Both exact_group_stats routes reproduce statistics.mean (exact-
rational) / statistics.median / nearest-rank percentiles bit-for-bit —
required for byte-identical TTL literals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..vocab.metrics import BENCHMARK_RANKING_METRICS

_BENCH_DDL = (
    "industry string, sector string, metric string, fy int, "
    "average_value double, median_value double, max_value double, "
    "min_value double, percentile25 double, percentile75 double, "
    "sample_size int"
)


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


def compute_benchmarks(observations: DataFrame, fy: int) -> DataFrame:
    """BENCHMARKS_SCHEMA rows. industry='' sector='' = all-market.

    Both scopes are groups of one exact_group_stats call: every rounded
    row is keyed as `industry\\x1fmetric` and as `\\x1fmetric`, and the
    driver splits the key back. The delimiter is the ASCII unit
    separator \\x1f, NOT \\x00: pandas 2.x groupby hashes object strings
    with C-string semantics and silently merges keys that agree up to
    the first null byte (caught by exact_group_stats' count assert).
    """
    from .exact_stats import exact_group_stats

    # both consumers below (sector lookup, exact stats) read the rounded
    # rows: materialize them once so the rounding UDF runs once per
    # call, not per action
    rows = _key_metric_values(observations).localCheckpoint(eager=True)

    # deterministic industry -> sector (reference intent; drift note)
    sector_of = {
        r["industry"]: r["sector"] or ""
        for r in rows.groupBy("industry")
        .agg(F.min("sector").alias("sector")).collect()
    }
    keyed = rows.select(
        F.explode(F.array(
            F.concat_ws("\x1f", "industry", "metric"),
            F.concat(F.lit("\x1f"), F.col("metric")),
        )).alias("_k"),
        "value",
    )
    out = []
    for r in exact_group_stats(keyed, "_k", "value", min_n=2).to_dict(
            "records"):
        ind, met = r["group"].split("\x1f", 1)
        out.append(
            (ind, sector_of.get(ind, ""), met, fy, r["average"],
             r["median"], r["max"], r["min"], r["p25"], r["p75"],
             int(r["n"]))
        )
    # bounded (industries x KEY metrics): one partition, so the float-
    # repr UDF of benchmark_triples starts one Python task
    return observations.sparkSession.createDataFrame(
        out, _BENCH_DDL).coalesce(1)
