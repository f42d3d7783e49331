import subprocess
import sys

import pytest


@pytest.fixture(scope="session")
def spark():
    from edgar_finance_ontology_spark.session import build_session

    s = build_session("efin-tests", master="local[4]", shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def synthetic_panel(tmp_path_factory):
    """The 12-company synthetic panel written to disk (companyfacts +
    submissions JSON), without running the reference script."""
    from edgar_finance_ontology_spark.sources.synthetic import (
        write_reference_inputs,
    )

    d = tmp_path_factory.mktemp("panel")
    return {"dir": d, **write_reference_inputs(d)}


@pytest.fixture(scope="session")
def panel_dir(synthetic_panel):
    """The synthetic panel + the reference script's outputs on it (the
    golden oracle)."""
    out = synthetic_panel
    d = out["dir"]
    cmd = [
        sys.executable, "/root/reference/scripts/select_xbrl_tags.py",
        "--fy", "2024",
        "--facts", *out["facts_paths"],
        "--subs-cache-dir", out["subs_cache_dir"],
        "--out-tags", str(d / "tags.csv"),
        "--out-companies", str(d / "companies.csv"),
        "--out-benchmarks", str(d / "benchmarks.csv"),
        "--out-rankings", str(d / "rankings.csv"),
        "--out-wide", str(d / "wide.csv"),
        "--emit-ttl", str(d / "instances.ttl"),
        "--include-derived",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=d)
    assert r.returncode == 0, r.stderr[-2000:]
    return out


@pytest.fixture(scope="session")
def engine_inputs(spark, synthetic_panel):
    """(facts_df, companies_df) read through our JSON source path."""
    from edgar_finance_ontology_spark.sources.facts import (
        build_companies,
        explode_facts,
        read_companyfacts_json,
        read_submissions_json,
    )

    facts_glob = str(synthetic_panel["dir"] / "facts" / "*.json")
    subs_glob = synthetic_panel["subs_cache_dir"] + "/*.json"
    cf = read_companyfacts_json(spark, facts_glob)
    subs = read_submissions_json(spark, subs_glob)
    facts = explode_facts(cf).cache()
    companies = build_companies(cf, subs).cache()
    return facts, companies
