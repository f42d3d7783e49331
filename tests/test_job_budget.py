"""Deterministic cost guard: the Spark job count of the observation
checkpoint, the layer that bounds a KG build and a late-page patch.

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
