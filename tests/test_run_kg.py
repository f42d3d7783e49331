"""Deploy-path (scripts/run_kg.py) parity: the spark-submit entrypoint
must render Turtle through the fully distributed writer — byte-equal to
the driver-side golden path — with no toPandas() in the flow.

Round-3 verdict #1: run_kg previously called golden_turtle, which
pulls every table through driver pandas (a driver-OOM at the 10^12-page
design point). Now it uses write_turtle_document +
concat_turtle_parts_to_file.
"""

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_run_kg_deploy_ttl_byte_parity(spark, tmp_path):
    out = str(tmp_path / "kg_out")
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "run_kg.py"),
         "--fy", "2024", "--out", out, "--n-companies", "12"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    meta = json.load(open(f"{out}/run_meta.json"))
    assert meta["n_triples"] > 0

    # the same deterministic panel through the driver-side golden path
    from edgar_finance_ontology_spark.plans.pipeline import golden_turtle
    from edgar_finance_ontology_spark.plans.web_pipeline import (
        pages_to_inputs,
    )
    from edgar_finance_ontology_spark.sources.pages import synthesize_pages

    pages = synthesize_pages(spark, n_companies=12)
    facts, companies = pages_to_inputs(pages)
    want = golden_turtle(facts, companies, fy=2024)
    got = open(f"{out}/instances.ttl", encoding="utf-8").read()
    if got != want:
        gl, wl = got.splitlines(), want.splitlines()
        for i, (a, b) in enumerate(zip(gl, wl)):
            assert a == b, f"line {i}:\ngot : {a!r}\nwant: {b!r}"
        assert len(gl) == len(wl), (len(gl), len(wl))
    assert got == want


def test_run_kg_deploy_flow_is_distributed():
    """Static guard: the deploy script must not route through
    golden_turtle / toPandas again."""
    src = open(os.path.join(REPO, "scripts", "run_kg.py")).read()
    assert "golden_turtle" not in src
    assert ".toPandas(" not in src
    writer_src = open(os.path.join(
        REPO, "edgar_finance_ontology_spark", "emit", "turtle_writer.py"
    )).read()
    assert ".toPandas(" not in writer_src


def test_concat_to_file_matches_in_memory(tmp_path):
    """Streaming file concat is byte-identical to the in-memory join."""
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        concat_turtle_parts, concat_turtle_parts_to_file,
    )

    d = tmp_path / "parts"
    d.mkdir()
    (d / "00-header.txt").write_text("@prefix a: <x> .\n\nline2")
    sub = d / "01-family"
    sub.mkdir()
    (sub / "part-00000").write_text("blockA\n\nblockB\n")
    (sub / "part-00001").write_text("")  # empty part is skipped
    (sub / "part-00002").write_text("blockC\n")
    (sub / "_SUCCESS").write_text("")
    (d / "02-tail.txt").write_text("end")
    dest = tmp_path / "doc.ttl"
    concat_turtle_parts_to_file(str(d), str(dest))
    assert dest.read_text() == concat_turtle_parts(str(d))


def test_carriage_return_in_literal_reads_back_as_written(spark, tmp_path):
    """The Turtle escape leaves a "\\r" inside a literal raw, so both
    readers of the part files must keep it: the in-memory and the
    streamed document equal turtle_text."""
    from edgar_finance_ontology_spark.emit.csv_format import (
        observations_csv_frame,
    )
    from edgar_finance_ontology_spark.emit.turtle import turtle_text
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        concat_turtle_parts, concat_turtle_parts_to_file,
        write_turtle_document,
    )
    from edgar_finance_ontology_spark.sources.schemas import (
        COMPANIES_SCHEMA, OBSERVATIONS_SCHEMA,
    )

    companies = spark.createDataFrame(
        [("ACME", "0000000001", "Acme\rCorp", "Tech", "Widgets", "3571",
          "Computers", "1231")], COMPANIES_SCHEMA)
    obs = spark.createDataFrame([], OBSERVATIONS_SCHEMA)
    out = str(tmp_path / "parts")
    write_turtle_document(out, companies, obs)
    want = turtle_text(companies.toPandas(),
                       observations_csv_frame(obs).toPandas())
    assert '"Acme\rCorp"' in want
    assert concat_turtle_parts(out) == want
    dest = tmp_path / "doc.ttl"
    concat_turtle_parts_to_file(out, str(dest))
    assert dest.read_bytes().decode("utf-8") == want


def test_run_kg_incremental_store_mode(tmp_path):
    """Deploy-path maintenance mode: --incremental-store produces a
    byte-identical instances.ttl to the full-rebuild deploy run, and a
    SECOND invocation with the same store is a no-op patch (0 dirty
    companies) that still renders the same document."""
    env = dict(os.environ, PYTHONPATH=REPO)

    def run(out, extra):
        r = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "run_kg.py"),
             "--fy", "2024", "--out", out, "--n-companies", "12", *extra],
            capture_output=True, text=True, env=env, timeout=900,
        )
        assert r.returncode == 0, r.stderr[-3000:]
        return r.stdout

    full_out = str(tmp_path / "full")
    inc_out = str(tmp_path / "inc")
    inc2_out = str(tmp_path / "inc2")
    store = str(tmp_path / "store")
    run(full_out, [])
    out1 = run(inc_out, ["--incremental-store", store])
    assert '"n_dirty": 12' in out1
    out2 = run(inc2_out, ["--incremental-store", store])
    assert '"n_dirty": 0' in out2

    want = open(f"{full_out}/instances.ttl", encoding="utf-8").read()
    assert open(f"{inc_out}/instances.ttl", encoding="utf-8").read() == want
    assert open(f"{inc2_out}/instances.ttl", encoding="utf-8").read() == want
