"""Deterministic cost guards: the Spark job count of the observation
checkpoint, the layer that bounds a KG build and a late-page patch, and
the plan size of the expressions that layer and the aggregates build.

Wall clocks on a shared box are noise; job counts are not. A change
that adds a stray action or an unfused selection pass shows up here as
extra jobs. The budget is the measured count (14 jobs on the 12-company
panel, local[4], 4 shuffle partitions) plus 2 for AQE, which can plan
one job more or less between builds. The same rule sets the budget of
the benchmarks checkpoint, of the aggregates (benchmarks + rankings)
checkpoints, of the Turtle write and of a one-page incremental patch.
The fused k-means fit's job count is pinned exactly.

Python UDF stages are guarded by their `ArrowEvalPython` node count:
at small scale each Python task pays a fixed start of a tenth of a
second or more (PLANS.md, "Python stages cost their task count"), so a
UDF that runs once more per consumer costs wall time, not throughput.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

import pytest

OBS_JOBS_MEASURED = 14
OBS_JOB_BUDGET = OBS_JOBS_MEASURED + 2
# a lone compute_benchmarks checkpoint on the same panel: the rounded-
# row checkpoint, the sector lookup, the exact-stats collect and the
# checkpoint itself; routing industry groups through a pandas list UDF
# as well measured 11
BENCH_JOBS_MEASURED = 5
BENCH_JOB_BUDGET = BENCH_JOBS_MEASURED + 2
# concurrent compute_benchmarks + compute_rankings checkpoints on the
# same panel; 24 before rankings became one pass and benchmarks read
# one checkpoint of its rounded rows, 13 before benchmarks became one
# exact-stats route
AGG_JOBS_MEASURED = 7
AGG_JOB_BUDGET = AGG_JOBS_MEASURED + 2
# run_incremental patching one late page into a cold store of the
# 12-company page panel (8 url buckets), every job of the call; 81
# while benchmarks still routed small industry groups through a pandas
# list UDF
INC_JOBS_MEASURED = 76
INC_JOB_BUDGET = INC_JOBS_MEASURED + 2
# write_turtle_document on the same panel, from checkpointed tables:
# one range-sorted text write (a hash exchange, the sort's sampling job
# and shuffle) plus the canonical-key and dimension aggregations; the
# writer it replaced (four mapInPandas writes over CSV frames, five
# driver collects) measured 33
TURTLE_JOBS_MEASURED = 10
TURTLE_JOB_BUDGET = TURTLE_JOBS_MEASURED + 2
# (rows, xxhash64 sum) of test_observation_triples_udf_nodes' triples,
# taken with the rounded-value keep guard
OBS_TRIPLES_DIGEST = (97, "29182526452926444697")


def _jobs_of(sc, group: str, *fns):
    """Run ``fns`` on pool threads under job group ``group``; return
    their results and the group's job ids."""
    def in_group(fn):
        sc.setJobGroup(group, group)
        try:
            return fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    with ThreadPoolExecutor(max_workers=len(fns)) as pool:
        futs = [pool.submit(in_group, fn) for fn in fns]
        out = [f.result() for f in futs]
    return out, sc.statusTracker().getJobIdsForGroup(group)


@pytest.fixture(scope="module")
def panel_inputs(spark, synthetic_panel):
    """The 12-company synthetic panel's facts and companies,
    checkpointed as run_pipeline hands them to the selection."""
    from edgar_finance_ontology_spark.sources.facts import (
        build_companies, explode_facts, read_companyfacts_json,
        read_submissions_json,
    )

    d = synthetic_panel["dir"]
    cf = read_companyfacts_json(spark, str(d / "facts" / "*.json"))
    subs = read_submissions_json(
        spark, synthetic_panel["subs_cache_dir"] + "/*.json")
    facts = explode_facts(cf).localCheckpoint(eager=True)
    companies = build_companies(cf, subs).localCheckpoint(eager=True)
    return facts, companies


def test_observation_checkpoint_job_budget(spark, panel_inputs):
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )

    facts, companies = panel_inputs
    (obs,), jobs = _jobs_of(
        spark.sparkContext, "job-budget:observations",
        lambda: build_observations(facts, companies, 2024).localCheckpoint(
            eager=True))

    assert obs.count() == 542
    assert 0 < len(jobs) <= OBS_JOB_BUDGET, sorted(jobs)


def test_aggregates_job_budget(spark, panel_inputs):
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )
    from edgar_finance_ontology_spark.operators.rankings import (
        compute_rankings,
    )

    facts, companies = panel_inputs
    obs = build_observations(facts, companies, 2024).localCheckpoint(
        eager=True)
    (bench, rank), jobs = _jobs_of(
        spark.sparkContext, "job-budget:aggregates",
        lambda: compute_benchmarks(obs, 2024).localCheckpoint(eager=True),
        lambda: compute_rankings(obs, 2024).localCheckpoint(eager=True))

    assert bench.count() > 0 and rank.count() > 0
    assert 0 < len(jobs) <= AGG_JOB_BUDGET, sorted(jobs)


def test_benchmarks_job_budget(spark, panel_inputs):
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )

    facts, companies = panel_inputs
    obs = build_observations(facts, companies, 2024).localCheckpoint(
        eager=True)
    (bench,), jobs = _jobs_of(
        spark.sparkContext, "job-budget:benchmarks",
        lambda: compute_benchmarks(obs, 2024).localCheckpoint(eager=True))

    assert bench.count() > 0
    assert 0 < len(jobs) <= BENCH_JOB_BUDGET, sorted(jobs)


def test_incremental_patch_job_budget(spark, tmp_path):
    """One late page patched into a cold-built store. run_incremental
    starts jobs from its own pool threads, which carry no job group, so
    the count is the group's jobs plus the ungrouped jobs that appeared
    during the call (nothing else runs meanwhile)."""
    from test_incremental import _late_page_row, _pages

    from edgar_finance_ontology_spark.plans.incremental import (
        run_incremental,
    )

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = str(tmp_path / "store")
    pages = _pages(spark)
    cold = run_incremental(spark, pages, 2024, store)
    _, late = _late_page_row(spark, cold["observations"])
    late_pages = pages.unionByName(late)

    ungrouped = set(tracker.getJobIdsForGroup(None))
    (patch,), grouped = _jobs_of(
        sc, "job-budget:incremental",
        lambda: run_incremental(spark, late_pages, 2024, store))
    jobs = set(grouped) | (set(tracker.getJobIdsForGroup(None)) - ungrouped)

    assert patch["metrics"]["n_dirty"] == 1
    assert 0 < len(jobs) <= INC_JOB_BUDGET, len(jobs)


@pytest.fixture(scope="module")
def panel_tables(panel_inputs):
    """(companies, observations, benchmarks, rankings) of the panel at
    fy 2024, checkpointed as run_pipeline returns them."""
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )
    from edgar_finance_ontology_spark.operators.rankings import (
        compute_rankings,
    )

    facts, companies = panel_inputs
    obs = build_observations(facts, companies, 2024).localCheckpoint(
        eager=True)
    bench = compute_benchmarks(obs, 2024).localCheckpoint(eager=True)
    rank = compute_rankings(obs, 2024).localCheckpoint(eager=True)
    return companies, obs, bench, rank


@pytest.mark.parametrize("scopes", [(False, False), (True, True)])
def test_turtle_write_job_budget(spark, panel_tables, tmp_path, scopes):
    """The Turtle write runs a bounded number of jobs, and its document
    equals turtle_text over the same frames with the industry and
    sector scopes both off and both on."""
    from edgar_finance_ontology_spark.emit.csv_format import (
        benchmarks_csv_frame, observations_csv_frame, rankings_csv_frame,
    )
    from edgar_finance_ontology_spark.emit.turtle import turtle_text
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        concat_turtle_parts, write_turtle_document,
    )
    from edgar_finance_ontology_spark.plans.pipeline import (
        canonical_benchmarks_order, canonical_observations_order,
        canonical_rankings_order,
    )

    companies, obs, bench, rank = panel_tables
    out = str(tmp_path / "ttl")
    _, jobs = _jobs_of(
        spark.sparkContext, f"job-budget:turtle:{scopes}",
        lambda: write_turtle_document(
            out, companies, obs, bench, rank, *scopes, fy=2024))

    assert 0 < len(jobs) <= TURTLE_JOB_BUDGET, sorted(jobs)
    want = turtle_text(
        companies.orderBy("cik").toPandas(),
        observations_csv_frame(canonical_observations_order(obs)).toPandas(),
        benchmarks_csv_frame(canonical_benchmarks_order(bench, obs)).toPandas(),
        rankings_csv_frame(canonical_rankings_order(rank)).toPandas(),
        *scopes,
    )
    got = concat_turtle_parts(out)
    if got != want:
        for i, (a, b) in enumerate(zip(got.splitlines(), want.splitlines())):
            assert a == b, f"line {i}:\ngot : {a!r}\nwant: {b!r}"
    assert got == want


def test_build_triples_runs_no_job(spark, panel_inputs):
    """Building the triple plans is lazy: IRI camel-casing is a column
    expression, so neither build_triples nor the global families (the
    piece the incremental patcher shares) collects anything."""
    from edgar_finance_ontology_spark.emit.triples import (
        build_triples, global_family_triples,
    )
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )
    from edgar_finance_ontology_spark.operators.rankings import (
        compute_rankings,
    )

    facts, companies = panel_inputs
    obs = build_observations(facts, companies, 2024).localCheckpoint(
        eager=True)
    bench = compute_benchmarks(obs, 2024).localCheckpoint(eager=True)
    rank = compute_rankings(obs, 2024).localCheckpoint(eager=True)
    (trip, glob), jobs = _jobs_of(
        spark.sparkContext, "job-budget:triples",
        lambda: build_triples(obs, companies, bench, rank, 2024),
        lambda: global_family_triples(obs, companies, bench, rank))

    assert jobs == [], sorted(jobs)
    assert set(trip.columns) == set(glob.columns) == {
        "subj", "pred", "obj", "obj_is_literal", "obj_dtype"}


# Summed expression text of the emission array with every metric on.
# The staged form measures 33,979 chars; pasting each growth decision
# tree into every entry that reads it measured 415,785.
EMISSION_CHAR_BUDGET = 60_000


def test_emission_expression_budget(spark):
    from edgar_finance_ontology_spark.operators.observations import (
        _emission_entries,
    )

    entries = _emission_entries(("all",), True, False)
    assert len(entries) == 48
    total = sum(len(c._jc.toString()) for c in entries)
    assert total <= EMISSION_CHAR_BUDGET, total


def test_key_metric_values_rounds_once(spark):
    """The CSV round-trip UDF runs once per row (one ArrowEvalPython in
    the plan) and the finite guard drops exactly null, NaN and ±inf."""
    from edgar_finance_ontology_spark.operators.benchmarks import (
        _key_metric_values,
    )

    vals = [1.23456789, None, float("nan"), float("inf"), float("-inf"),
            -0.0000004, 1e300, 2.5e-7]
    obs = spark.createDataFrame(
        [(i, "S", "Ind", "Sec", "ROE", v) for i, v in enumerate(vals)]
        + [(99, "T", "", "Sec", "ROE", 1.0),
           (98, "U", "Ind", "Sec", "EPS", 1.0)],
        "cik int, symbol string, industry string, sector string, "
        "metric string, value double")
    rows = _key_metric_values(obs)
    plan = rows._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    got = sorted((r["cik"], r["value"]) for r in rows.collect())
    assert got == [(0, 1.234568), (5, -0.0), (6, 1e300), (7, 0.0)]


def test_observation_triples_udf_nodes(spark):
    """The keep guard of the observation family tests the raw value
    natively, so only the value literal runs Python: the round trip and
    repr chain into one ArrowEvalPython node, and the computedFromMetric
    branch runs none. The rounded-value guard measured 3 nodes. Rows
    are pinned for null, NaN, ±inf, tiny and huge values and a derived
    row with computed_from."""
    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.emit.triples import (
        observation_triples,
    )
    from edgar_finance_ontology_spark.sources.schemas import (
        OBSERVATIONS_SCHEMA,
    )

    vals = [1.23456789, None, float("nan"), float("inf"), float("-inf"),
            -0.0000004, 1e300, 2.5e-7, 5e-324]

    def row(i, v, derived=False, computed_from=""):
        return (str(i), "S", "N", "Sec", "Ind", "", "", "1231", 2024,
                "NetProfitMargin" if derived else "Revenue", derived, v,
                "USD", "duration", "2024-12-31", "10-K", "a",
                "derived" if derived else "xbrl",
                "" if derived else "Revenues", "", computed_from, 1.0,
                "", "")

    obs = spark.createDataFrame(
        [row(i, v) for i, v in enumerate(vals)]
        + [row(20, 0.125, True, "NetIncome(cur),Revenue(cur)"),
           row(21, None, True, "NetIncome(cur),Revenue(cur)")],
        OBSERVATIONS_SCHEMA)
    trip = observation_triples(obs)
    got = trip.collect()
    plan = trip._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan

    values = sorted(
        (r["subj"][9:19], r["obj"]) for r in got
        if r["pred"] == "efin:hasNumericValue")
    assert values == [
        ("0000000000", "1.234568"), ("0000000003", "inf"),
        ("0000000004", "-inf"), ("0000000005", "-0.0"),
        ("0000000006", "1e+300"), ("0000000007", "0.0"),
        ("0000000008", "0.0"), ("0000000020", "0.125"),
    ]
    computed = sorted(
        (r["subj"][9:19], r["obj"]) for r in got
        if r["pred"] == "efin:computedFromMetric")
    assert computed == [("0000000020", "efin:NetIncome"),
                        ("0000000020", "efin:Revenue")]
    digest = trip.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*trip.columns).cast("decimal(38,0)")).alias("h"),
    ).first()
    assert (digest["n"], str(digest["h"])) == OBS_TRIPLES_DIGEST


def test_repeated_build_compiles_no_class(spark, panel_inputs):
    """Generated classes are a per-process working set: a second
    run_pipeline + triple-table count in the same session reuses every
    class the first one compiled. The sequence compiles ~215 distinct
    classes, more than Spark's default 100-entry codegen cache holds,
    where the second run recompiled ~230."""
    from edgar_finance_ontology_spark.emit.triples import build_triples
    from edgar_finance_ontology_spark.plans.pipeline import run_pipeline

    facts, companies = panel_inputs
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def build():
        t = run_pipeline(facts, companies, 2024)
        return build_triples(t["observations"], t["companies"],
                             t["benchmarks"], t["rankings"], 2024).count()

    first = build()
    before = compiles.getCount()
    second = build()

    assert second == first > 0
    assert compiles.getCount() - before == 0


def test_kmeans_fit_multi_job_count(spark):
    """The fused k-means fit is one sample collect plus one aggregation
    per Lloyd iteration, which AQE runs as two jobs (the shuffle map
    stage, then the collect) — for one space and for three alike. A
    space whose rows the shared sample cannot cover (the sample is full
    and holds a row shorter than the space's start) adds one bounded
    collect; uniform vectors never need it."""
    import random

    from edgar_finance_ontology_spark.operators.similarity import (
        kmeans_fit_multi,
    )
    from test_kmeans_multi import SCHEMA, top_up_frame

    rng = random.Random(1)
    uniform = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(200)],
        SCHEMA)
    iters = 2

    def jobs(name, df, spaces):
        _, ids = _jobs_of(
            spark.sparkContext, f"job-budget:kmeans-{name}",
            lambda: kmeans_fit_multi(df, spaces, k=3, iters=iters,
                                     seed_sample=10))
        return len(ids)

    assert jobs("one", uniform, [(1, None)]) == 1 + 2 * iters
    assert jobs("three", uniform, [(1, None), (1, 4), (5, 4)]) \
        == 1 + 2 * iters
    assert jobs("top-up", top_up_frame(spark), [(1, 4), (5, 4)]) \
        == 2 + 2 * iters
