"""Full-system fuzz parity: randomized company panels -> the reference
script (subprocess, offline) vs our pipeline -> tags CSV row-set and
Turtle BYTES must match.

This subsumes the per-function parity tests: selection ladders, growth
mining/normalization, derived formulas, ranking/benchmark aggregation
and TTL emission all run on arbitrary inputs.

Fuzz-panel constraints that keep the reference well-defined (documented
drift guards):
  * unique industry per company (the reference's benchmark sector
    lookup NameErrors on shared industries);
  * record pools pre-sorted by (end, accn) with sorted unit/tag keys
    (dict/pool order is the reference's only tie-break state);
  * values rounded to 2dp (CSV %.6f round-trips identically).
"""

import json
import random
import string
import subprocess
import sys

import pandas as pd
import pytest

from reference_script import REFERENCE_ABSENT, REFERENCE_SCRIPT
from test_parity_observations import CSV_COLS

SECTORS = ["Information Technology", "Financials", "Utilities", "Energy",
           "Real Estate", "Health Care", "Other", "IFRS",
           "Consumer Staples", "Industrials"]

GROWTH_TAGS = [
    ("ext:RevenueGrowthRate", ["percent", "pure", "USD", "ratio"]),
    ("ext:ChangeInRevenue", ["USD"]),
    ("ext:NetIncomeIncreaseYoYPercent", ["percent"]),
    ("ext:ChangeInAssets", ["USD", "pure"]),
    ("ext:ChangeInNetCashProvidedByUsedInOperatingActivities", ["USD"]),
]


def _random_company(rng: random.Random, i: int, qnames: list[str]) -> dict:
    cik = 800000 + i
    tags: dict = {}

    def put(qn, unit, rec):
        tax, tag = qn.split(":")
        tags.setdefault(tax, {}).setdefault(tag, {"units": {}})
        tags[tax][tag]["units"].setdefault(unit, []).append(rec)

    for qn in qnames:
        if rng.random() < 0.45:
            continue
        for unit in rng.sample(["USD", "EUR", "shares"], k=rng.randint(1, 2)):
            for _ in range(rng.randint(1, 4)):
                y = rng.choice([2022, 2023, 2024, 2025])
                rec = {
                    "val": round(rng.uniform(-9e9, 9e9), 2),
                    "end": f"{y:04d}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                    "fy": y,
                    "accn": f"{rng.randint(0, 99):02d}-{rng.randint(0, 9999):04d}",
                }
                if rng.random() < 0.7:
                    rec["fp"] = rng.choice(["FY", "CY", "FYR", "Q1", "Q2", "Q3"])
                if rng.random() < 0.6:
                    rec["form"] = rng.choice(["10-K", "10-Q", "20-F", "8-K",
                                              "10-K/A"])
                if rng.random() < 0.4:
                    rec["qtrs"] = rng.choice([1, 4])
                if rng.random() < 0.12:
                    rec["segment"] = "Seg" + rng.choice(string.ascii_uppercase)
                put(qn, unit, rec)
    # occasional direct-growth extension tags
    for qn, units in GROWTH_TAGS:
        if rng.random() < 0.35:
            unit = rng.choice(units)
            mag = rng.choice([rng.uniform(-0.5, 0.5), rng.uniform(-95, 95),
                              rng.uniform(-9e8, 9e8)])
            put(qn, unit, {
                "val": round(mag, 4),
                "end": f"2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
                "fy": 2024,
                "fp": rng.choice(["FY", "Q3"]),
                "form": rng.choice(["10-K", "10-Q"]),
                "accn": f"dg-{rng.randint(0, 999):03d}",
            })

    # canonical pool order (sorted keys, (end, accn)-sorted arrays)
    facts = {}
    for tax in sorted(tags):
        facts[tax] = {}
        for tag in sorted(tags[tax]):
            units = {}
            for unit in sorted(tags[tax][tag]["units"]):
                recs = tags[tax][tag]["units"][unit]
                recs.sort(key=lambda r: (r["end"], r["accn"]))
                units[unit] = recs
            facts[tax][tag] = {"units": units}

    sector = rng.choice(SECTORS)
    fye = rng.choice(["1231", "0930", "0630", "0131", "0331", "bogus"])
    return {
        "facts_json": {"cik": cik, "entityName": f"Fuzz Co {i}",
                       "entityTicker": f"FZ{i}", "facts": facts},
        "subs_json": {"cik": cik, "sic": str(rng.choice([7372, 6022, 4911,
                                                         1311, 2086, 5812])),
                      "sicDescription": f"Fuzz Industry {i}",
                      "fiscalYearEnd": fye, "tickers": [f"FZ{i}"]},
    }


@pytest.mark.skipif(not REFERENCE_SCRIPT.exists(), reason=REFERENCE_ABSENT)
@pytest.mark.parametrize("seed,fy", [(11, 2024), (12, 2024), (13, 2023)])
def test_fullsystem_fuzz_panel(spark, tmp_path, seed, fy):
    from datetime import datetime

    from edgar_finance_ontology_spark.emit.csv_format import (
        observations_csv_frame,
    )
    from edgar_finance_ontology_spark.plans.pipeline import golden_turtle
    from edgar_finance_ontology_spark.sources.facts import (
        build_companies, explode_facts, read_companyfacts_json,
        read_submissions_json,
    )
    from edgar_finance_ontology_spark.vocab.candidates import CANDIDATES_ROWS
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )

    rng = random.Random(seed)
    qnames = sorted({qn for _m, _o, qn, _s, _g in CANDIDATES_ROWS})

    facts_dir = tmp_path / "facts"
    subs_dir = tmp_path / "subs"
    facts_dir.mkdir(), subs_dir.mkdir()
    today = datetime.now().strftime("%Y%m%d")
    paths = []
    for i in range(20):
        c = _random_company(rng, i, qnames)
        cik10 = f"{c['facts_json']['cik']:010d}"
        p = facts_dir / f"CIK{cik10}.json"
        p.write_text(json.dumps(c["facts_json"]))
        (subs_dir / f"submissions_CIK{cik10}_{today}.json").write_text(
            json.dumps(c["subs_json"])
        )
        paths.append(str(p))

    cmd = [
        sys.executable, str(REFERENCE_SCRIPT),
        "--fy", str(fy), "--facts", *sorted(paths),
        "--subs-cache-dir", str(subs_dir),
        "--out-tags", str(tmp_path / "tags.csv"),
        "--out-companies", str(tmp_path / "companies.csv"),
        "--out-benchmarks", str(tmp_path / "b.csv"),
        "--out-rankings", str(tmp_path / "r.csv"),
        "--out-wide", str(tmp_path / "w.csv"),
        "--emit-ttl", str(tmp_path / "i.ttl"),
        "--include-derived",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp_path)
    assert r.returncode == 0, r.stderr[-1500:]

    cf = read_companyfacts_json(spark, str(facts_dir / "*.json"))
    subs = read_submissions_json(spark, str(subs_dir / "*.json"))
    facts = explode_facts(cf)
    companies = build_companies(cf, subs)

    ours = (
        observations_csv_frame(build_observations(facts, companies, fy=fy))
        .toPandas()[CSV_COLS].astype(str)
        .sort_values(["cik", "metric"]).reset_index(drop=True)
    )
    ref = (
        pd.read_csv(tmp_path / "tags.csv", dtype=str).fillna("")[CSV_COLS]
        .astype(str).sort_values(["cik", "metric"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(ours, ref)

    # aggregate CSVs on the same randomized panel
    from edgar_finance_ontology_spark.emit.csv_format import (
        benchmarks_csv_frame, rankings_csv_frame,
    )
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )
    from edgar_finance_ontology_spark.operators.rankings import (
        compute_rankings,
    )
    from edgar_finance_ontology_spark.operators.wide import (
        build_wide_csv_frame,
    )
    from edgar_finance_ontology_spark.plans.pipeline import run_pipeline

    t = run_pipeline(facts, companies, fy=fy)
    obs_df = t["observations"]

    def _cmp_csv(ours_df, path, key):
        o = ours_df.toPandas().astype(str).sort_values(key).reset_index(drop=True)
        rf = (pd.read_csv(path, dtype=str).fillna("")
              .astype(str).sort_values(key).reset_index(drop=True))
        pd.testing.assert_frame_equal(o[rf.columns.tolist()], rf)

    _cmp_csv(rankings_csv_frame(compute_rankings(obs_df, fy)),
             tmp_path / "r.csv",
             ["cik", "industry", "metric", "ranking_type"])
    b_ours = benchmarks_csv_frame(compute_benchmarks(obs_df, fy))
    _cmp_csv(b_ours.where("industry = ''"), tmp_path / "b.csv",
             ["industry", "metric"])
    _cmp_csv(build_wide_csv_frame(obs_df, compute_rankings(obs_df, fy)),
             tmp_path / "w.csv", ["cik"])

    ours_ttl = golden_turtle(facts, companies, fy=fy)
    ref_ttl = (tmp_path / "i.ttl").read_text()
    if ours_ttl != ref_ttl:
        ol, rl = ours_ttl.splitlines(), ref_ttl.splitlines()
        for li, (a, b) in enumerate(zip(ol, rl)):
            assert a == b, f"TTL line {li}:\nours {a!r}\nref  {b!r}"
        assert len(ol) == len(rl)
