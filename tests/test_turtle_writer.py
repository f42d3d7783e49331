"""Distributed Turtle rendering == driver-side blocks."""


def test_distributed_observation_blocks_match_driver(spark, engine_inputs):
    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.emit.csv_format import (
        observations_csv_frame,
    )
    from edgar_finance_ontology_spark.emit.triples import OBSERVATIONS
    from edgar_finance_ontology_spark.emit.turtle import observation_block
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        turtle_document,
    )
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )

    facts, companies = engine_inputs
    engine_obs = build_observations(facts, companies, fy=2024)
    obs = observations_csv_frame(engine_obs)
    dist = {
        (r["k_obs"]["cik"], r["k_obs"]["metric"]): r["text"]
        for r in turtle_document(companies, engine_obs)
        .where((F.col("sec") == OBSERVATIONS) & F.col("k_obs").isNotNull())
        .collect()
    }
    seen = {"units": set(), "currencies": set(), "concepts": {},
            "sectors": set(), "industries": set(), "industry_sector": {}}
    for rec in obs.toPandas().to_dict("records"):
        want = "\n".join(observation_block(rec, seen))
        assert dist[(rec["cik"], rec["metric"])] == want


def test_full_document_distributed_concat_byte_identical(
    spark, panel_dir, engine_inputs, tmp_path
):
    """EVERY unbounded family rendered in executors; concatenating the
    ordered pieces reproduces the golden Turtle byte-for-byte (which is
    itself byte-identical to the reference output on this panel)."""
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        concat_turtle_parts, write_turtle_document,
    )
    from edgar_finance_ontology_spark.plans.pipeline import (
        golden_turtle, run_pipeline,
    )

    facts, companies = engine_inputs
    t = run_pipeline(facts, companies, fy=2024)
    out = str(tmp_path / "ttl_parts")
    sc = spark.sparkContext
    sc.setJobGroup("ttl_write", "job-count audit")
    # AQE off for the audit: with AQE every shuffle stage materializes
    # as its own job, hiding the action count we want to regress on
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        write_turtle_document(
            out, companies, t["observations"], t["benchmarks"],
            t["rankings"], fy=2024,
        )
    finally:
        sc.setJobGroup("", "")
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    # probe-job audit (round-2 verdict #9): the writer must run a
    # bounded number of jobs — one summary agg per family frame + one
    # dims agg + 2 entity-dim collects + 4 part writes (plus orderBy
    # range-sampling and broadcast-build jobs), NOT per-flag
    # limit(1).count() probes that each replay the upstream lineage.
    # measured 33 with AQE off (part writes + their range-sampling +
    # broadcast-build jobs + the 5 bounded driver aggregates); the old
    # probe-based writer ran 4 extra full-lineage actions on top.
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup("ttl_write")
    assert len(jobs) <= 36, len(jobs)
    got = concat_turtle_parts(out)
    want = golden_turtle(facts, companies, fy=2024)
    if got != want:
        gl, wl = got.splitlines(), want.splitlines()
        for i, (a, b) in enumerate(zip(gl, wl)):
            assert a == b, f"line {i}:\ngot : {a!r}\nwant: {b!r}"
        assert len(gl) == len(wl), (len(gl), len(wl), gl[-3:], wl[-3:])
    assert got == want
    # and therefore byte-identical to the reference's own emission
    ref = (panel_dir["dir"] / "instances.ttl").read_text()
    assert got == ref


def test_instance_dims_dedupe_mixed_case_currencies(spark):
    """'usd' and 'USD' units must emit ONE efin:CurrencyUSD line —
    matching turtle_text's seen['currencies'] set semantics."""
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        turtle_document,
    )
    from edgar_finance_ontology_spark.sources.schemas import (
        COMPANIES_SCHEMA, OBSERVATIONS_SCHEMA,
    )

    def row(cik, value, unit):
        return (cik, "", "", "", "", "", "", "", 2024, "Revenue", False,
                value, unit, "duration", "", "", "", "", "us-gaap:Revenues",
                "", "", 1.0, "", "")

    df = spark.createDataFrame(
        [row("1", 1.0, "usd"), row("2", 2.0, "USD")], OBSERVATIONS_SCHEMA)
    companies = spark.createDataFrame([], COMPANIES_SCHEMA)
    lines = [ln for r in turtle_document(companies, df).collect()
             for ln in r["text"].split("\n")]
    cur = [ln for ln in lines if ln.startswith("efin:CurrencyUSD ")]
    assert cur == ["efin:CurrencyUSD a efin:Currency ."]
    # units keep turtle_text's raw-string set semantics: both spellings
    # survive as members, and both camel-case to the SAME IRI — the
    # duplicate Unit line is the documented parity behavior
    units = [ln for ln in lines if ln.startswith("efin:UnitUsd ")]
    assert units == ["efin:UnitUsd a efin:Unit ."] * 2


def test_multi_fy_rankings_use_first_canonical_row_fy(
    spark, engine_inputs, tmp_path
):
    """fy=None + rankings spanning several fiscal years: the writer must
    take the FIRST canonical-order row's fy, exactly like turtle_text
    (turtle.py rank_rows[0]) — NOT the lexicographic min, which for a
    multi-fy input picks a different year (round-3 advice item)."""
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        concat_turtle_parts, write_turtle_document,
    )
    from edgar_finance_ontology_spark.plans.pipeline import (
        canonical_rankings_order, run_pipeline,
    )

    facts, companies = engine_inputs
    t = run_pipeline(facts, companies, fy=2024)
    pdf = canonical_rankings_order(t["rankings"]).toPandas()
    assert len(pdf) > 2
    # first canonical row keeps 2024; a later row gets the smaller 2019
    pdf.loc[pdf.index[-1], "fy"] = 2019
    rankings = spark.createDataFrame(pdf, schema=t["rankings"].schema)
    out = str(tmp_path / "ttl_multi_fy")
    write_turtle_document(
        out, companies, t["observations"], None, rankings
    )
    text = concat_turtle_parts(out)
    assert "efin:forFiscalYear 2024 ;" in text
    assert "efin:forFiscalYear 2019 ;" not in text


def test_ranking_fy_falls_back_to_first_observation(
    spark, engine_inputs, tmp_path
):
    """Rankings with an empty fy: the distributed writer must recover
    the fiscal year from the first observation row, exactly like
    turtle_text (select_xbrl_tags parity) — round-2 advice item."""
    from pyspark.sql import functions as F
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        concat_turtle_parts, write_turtle_document,
    )
    from edgar_finance_ontology_spark.plans.pipeline import run_pipeline

    facts, companies = engine_inputs
    t = run_pipeline(facts, companies, fy=2024)
    blank_fy = t["rankings"].withColumn(
        "fy", F.lit(None).cast(t["rankings"].schema["fy"].dataType)
    )
    out = str(tmp_path / "ttl_fy_fallback")
    write_turtle_document(
        out, companies, t["observations"], None, blank_fy
    )
    text = concat_turtle_parts(out)
    assert "efin:forFiscalYear 2024 ;" in text
