"""Deterministic cost guards: the Spark job count of the observation
checkpoint, the layer that bounds a KG build and a late-page patch, and
the plan size of the expressions that layer and the aggregates build.

Wall clocks on a shared box are noise; job counts are not. A change
that adds a stray action or an unfused selection pass shows up here as
extra jobs. The budget is the measured count (14 jobs on the 12-company
panel, local[4], 4 shuffle partitions) plus 2 for AQE, which can plan
one job more or less between builds.
"""

from __future__ import annotations

OBS_JOBS_MEASURED = 14
OBS_JOB_BUDGET = OBS_JOBS_MEASURED + 2


def test_observation_checkpoint_job_budget(spark, tmp_path):
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )
    from edgar_finance_ontology_spark.sources.facts import (
        build_companies, explode_facts, read_companyfacts_json,
        read_submissions_json,
    )
    from edgar_finance_ontology_spark.sources.synthetic import (
        write_reference_inputs,
    )

    paths = write_reference_inputs(tmp_path)
    cf = read_companyfacts_json(spark, str(tmp_path / "facts" / "*.json"))
    subs = read_submissions_json(spark, paths["subs_cache_dir"] + "/*.json")
    # checkpointed inputs, as run_pipeline hands them to the selection
    facts = explode_facts(cf).localCheckpoint(eager=True)
    companies = build_companies(cf, subs).localCheckpoint(eager=True)

    sc = spark.sparkContext
    group = "job-budget:observations"
    sc.setJobGroup(group, "build_observations checkpoint")
    try:
        obs = build_observations(facts, companies, 2024).localCheckpoint(
            eager=True)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)

    assert obs.count() == 542
    assert 0 < len(jobs) <= OBS_JOB_BUDGET, sorted(jobs)


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
