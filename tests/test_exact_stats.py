"""exact_group_stats must reproduce Python `statistics` semantics
bit-for-bit WITHOUT materializing any group as a list — the one route
of every benchmark group."""

import random
import statistics

import pandas as pd
import pytest


def _expected(vals):
    vs = sorted(float(v) for v in vals)
    n = len(vs)
    return {
        "n": n,
        "average": statistics.mean(vs),
        "median": statistics.median(vs),
        "max": max(vs),
        "min": min(vs),
        "p25": vs[int(n * 0.25)],
        "p75": vs[int(n * 0.75)],
    }


def test_exact_stats_matches_statistics_module(spark):
    from edgar_finance_ontology_spark.operators.exact_stats import (
        exact_group_stats,
    )

    rng = random.Random(42)
    rows = []
    groups = {}
    for g, size in (("a", 7), ("b", 8), ("c", 1), ("d", 250)):
        vals = [round(rng.uniform(-1e9, 1e9), 6) for _ in range(size)]
        groups[g] = vals
        rows += [(g, v) for v in vals]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "metric string, value double")
    got = exact_group_stats(df, "metric", "value", min_n=2)
    got = {r["group"]: r for r in got.to_dict("records")}
    assert "c" not in got  # min_n gate
    for g in ("a", "b", "d"):
        exp = _expected(groups[g])
        for k, v in exp.items():
            assert got[g][k] == v, (g, k, got[g][k], v)


def test_exact_stats_wide_panel_no_list_materialization(spark):
    """100k+ values through the all-market path: completes and matches
    the local statistics oracle — the round-1 memory-cliff scenario."""
    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.operators.exact_stats import (
        exact_group_stats,
    )

    n = 120_000
    # exact integer arithmetic + one IEEE division: identical doubles
    # in JVM and CPython (transcendentals like sin differ by 1 ulp)
    df = spark.range(n).select(
        F.lit("ROE").alias("metric"),
        ((F.col("id") * 2654435761 % 1000003).cast("double") / 7.0
         - 50000.0).alias("value"),
    )
    got = exact_group_stats(df, "metric", "value").to_dict("records")[0]
    vals = sorted(float(i * 2654435761 % 1000003) / 7.0 - 50000.0
                  for i in range(n))
    assert got["n"] == n
    assert got["median"] == statistics.median(vals)
    assert got["p25"] == vals[int(n * 0.25)]
    assert got["p75"] == vals[int(n * 0.75)]
    assert got["max"] == vals[-1] and got["min"] == vals[0]
    assert got["average"] == statistics.mean(vals)


def test_compute_benchmarks_all_scope_matches_pandas_oracle(spark):
    """End-to-end: the all-market rows of compute_benchmarks equal the
    statistics-module replay over the same CSV-rounded values."""
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )

    rng = random.Random(7)
    rows = []
    for i in range(300):
        rows.append((
            f"{i:010d}", f"T{i}", f"Co{i}", "Tech", f"Ind{i % 40}",
            2024, "ROE", False, round(rng.uniform(-5, 5), 6),
        ))
    obs = spark.createDataFrame(
        rows,
        "cik string, symbol string, name string, sector string, "
        "industry string, fy int, metric string, is_derived boolean, "
        "value double",
    )
    b = compute_benchmarks(obs, 2024)
    allm = {r["metric"]: r for r in b.where("industry = ''").collect()}
    vals = [r[8] for r in rows]
    exp = _expected(vals)
    g = allm["ROE"]
    assert g["sample_size"] == exp["n"]
    assert g["average_value"] == exp["average"]
    assert g["median_value"] == exp["median"]
    assert g["percentile25"] == exp["p25"]
    assert g["percentile75"] == exp["p75"]
    assert g["max_value"] == exp["max"]
    assert g["min_value"] == exp["min"]


def _rounded(v):
    """The reference's CSV round trip (%.6f write, float() parse)."""
    return float(f"{v:.6f}")


def test_compute_benchmarks_scopes_match_statistics_oracle(spark):
    """Every (industry, metric) group and every all-market group of
    compute_benchmarks equals the statistics oracle over the same
    CSV-rounded values; industry rows carry the industry's min sector,
    all-market rows industry='' sector='', and a one-company industry
    yields no row."""
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )

    rng = random.Random(11)
    rows = []
    for i in range(121):
        ind = f"Ind{i % 6}" if i < 120 else "Lone"
        for metric in ("ROE", "NetProfitMargin"):
            rows.append((
                f"{i:010d}", f"T{i}", f"Co{i}", f"Sec{i % 4}", ind, 2024,
                metric, False, rng.uniform(-5, 5),
            ))
    obs = spark.createDataFrame(
        rows,
        "cik string, symbol string, name string, sector string, "
        "industry string, fy int, metric string, is_derived boolean, "
        "value double",
    )
    groups, sectors = {}, {}
    for r in rows:
        ind, sec, metric, v = r[4], r[3], r[6], _rounded(r[8])
        groups.setdefault((ind, metric), []).append(v)
        groups.setdefault(("", metric), []).append(v)
        sectors[ind] = min(sectors.get(ind, sec), sec)
    got = {(r["industry"], r["metric"]): r
           for r in compute_benchmarks(obs, 2024).collect()}
    assert set(got) == {k for k, vs in groups.items() if len(vs) >= 2}
    for (ind, metric), g in got.items():
        exp = _expected(groups[(ind, metric)])
        assert g["sector"] == sectors.get(ind, ""), (ind, metric)
        assert g["fy"] == 2024
        assert (
            g["sample_size"], g["average_value"], g["median_value"],
            g["max_value"], g["min_value"], g["percentile25"],
            g["percentile75"],
        ) == (
            exp["n"], exp["average"], exp["median"], exp["max"],
            exp["min"], exp["p25"], exp["p75"],
        ), (ind, metric)


def test_pick_carries_ranks_across_arrow_batches(spark):
    """The distributed kernel over tasks that read several 10,000-row
    Arrow batches: 40,009 rows in 203 composite groups, range-
    partitioned into 2 partitions, so at least one task reads 3+
    batches and groups straddle batch boundaries (the per-group
    `carried` offsets place their ranks). A one-row group (below
    min_n) and leading-separator all-market keys ride along. The
    result equals the driver route and the statistics oracle."""
    from edgar_finance_ontology_spark.operators.exact_stats import (
        exact_group_stats,
    )

    rng = random.Random(2024)
    groups = {}
    for i in range(200):
        # ties and a spread of binary denominators
        groups[f"Ind{i:03d}\x1fROE"] = [
            round(rng.uniform(-1e6, 1e6), rng.choice([0, 2, 6]))
            for _ in range(150)
        ]
    groups["\x1fROE"] = [round(rng.gauss(0, 3), 6) for _ in range(10_000)]
    groups["\x1fCurrentRatio"] = [0.1, 0.2, 0.1, 0.7, 1e-7, 3.0, 2.5, 0.3]
    groups["Lone\x1fROE"] = [4.25]
    rows = [(g, v) for g, vs in groups.items() for v in vs]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "k string, v double").repartition(2)

    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        dist = exact_group_stats(df, "k", "v", min_n=2, driver_cap=0)
    finally:
        spark.conf.set(key, old)
    local = exact_group_stats(df, "k", "v", min_n=2)
    assert dist.to_dict("records") == local.to_dict("records")
    got = {r["group"]: r for r in dist.to_dict("records")}
    assert set(got) == set(groups) - {"Lone\x1fROE"}
    for g, r in got.items():
        assert r == {"group": g, **_expected(groups[g])}, g


def test_exact_stats_hypothesis_fuzz(spark):
    """Randomized group shapes (sizes 1..40, incl. the even/odd median
    and rank-edge cases) against the statistics module."""
    import random

    from edgar_finance_ontology_spark.operators.exact_stats import (
        exact_group_stats,
    )

    rng = random.Random(1234)
    for trial in range(3):
        groups = {}
        rows = []
        for gi in range(rng.randint(2, 6)):
            size = rng.choice([1, 2, 3, 4, 5, 8, 13, 40])
            vals = [round(rng.uniform(-1e12, 1e12), 6) for _ in range(size)]
            groups[f"g{gi}"] = vals
            rows += [(f"g{gi}", v) for v in vals]
        rng.shuffle(rows)
        df = spark.createDataFrame(rows, "metric string, value double")
        got = {r["group"]: r for r in
               exact_group_stats(df, "metric", "value").to_dict("records")}
        for g, vals in groups.items():
            exp = _expected(vals)
            for k, v in exp.items():
                assert got[g][k] == v, (trial, g, k, got[g][k], v)


def test_big_industry_through_run_pipeline(spark, engine_inputs):
    """Round-2 verdict item 3: a big industry has to survive the FULL
    pipeline, not just unit tests. All companies are forced into ONE
    industry; run_pipeline's industry-scope benchmark CSV rows (the
    byte-level presentation the TTL literals derive from) must equal
    the statistics oracle over the rounded KEY-metric values."""
    import math

    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.emit.csv_format import (
        benchmarks_csv_frame,
    )
    from edgar_finance_ontology_spark.plans.pipeline import run_pipeline
    from edgar_finance_ontology_spark.vocab.metrics import (
        BENCHMARK_RANKING_METRICS,
    )

    facts, companies = engine_inputs
    mega = companies.withColumn("industry", F.lit("Mega Industry"))
    t = run_pipeline(facts, mega, fy=2024)
    got = sorted(map(tuple, benchmarks_csv_frame(
        t["benchmarks"].where(F.col("industry") == "Mega Industry")
    ).collect()))

    vals, sectors = {}, set()
    for r in t["observations"].where(
        F.col("metric").isin(*BENCHMARK_RANKING_METRICS)
    ).select("sector", "metric", "value").collect():
        if r["value"] is None or not math.isfinite(r["value"]):
            continue
        vals.setdefault(r["metric"], []).append(_rounded(r["value"]))
        if r["sector"] is not None:
            sectors.add(r["sector"])
    sector = min(sectors, default="")
    want = []
    for metric, vs in vals.items():
        if len(vs) < 2:
            continue
        e = _expected(vs)
        want.append((
            "Mega Industry", sector, metric, "2024",
            *(repr(e[k]) for k in ("average", "median", "max", "min",
                                   "p25", "p75")),
            str(e["n"]),
        ))
    assert got == sorted(want)
    # the mega industry actually produced industry-scope rows
    assert any(r[0] == "Mega Industry" for r in got)
    # and its companies are ranked within it
    assert t["rankings"].where(
        F.col("industry") == "Mega Industry").count() > 0


def test_driver_cap_route_matches_distributed(spark):
    """Round-6 driver fast path (total rows <= driver_cap) must equal
    the distributed range-sort path bit-for-bit."""
    import random

    from edgar_finance_ontology_spark.operators.exact_stats import (
        exact_group_stats,
    )

    rng = random.Random(9)
    rows = [
        (f"g{i % 7}", rng.uniform(-1e6, 1e6) * (10 ** (i % 5)))
        for i in range(3000)
    ] + [("lone", 42.5)]
    df = spark.createDataFrame(rows, "k string, v double")
    fast = exact_group_stats(df, "k", "v", min_n=2)
    dist = exact_group_stats(df, "k", "v", min_n=2, driver_cap=0)
    assert fast.to_dict("records") == dist.to_dict("records")


def test_driver_cap_boundary(spark):
    """The driver route's one bounded collect: exactly driver_cap rows
    stay on the driver route, one more goes distributed, and both equal
    the forced distributed kernel."""
    from edgar_finance_ontology_spark.operators.exact_stats import (
        exact_group_stats,
    )

    rows = [(f"g{i % 3}", i * 0.37 - 11.0) for i in range(200)]
    df = spark.createDataFrame(rows, "k string, v double")
    dist = exact_group_stats(df, "k", "v", min_n=2, driver_cap=0)
    for cap in (len(rows), len(rows) - 1):
        got = exact_group_stats(df, "k", "v", min_n=2, driver_cap=cap)
        assert got.to_dict("records") == dist.to_dict("records"), cap
