"""Property-based parity: the reference script's own functions (pure
Python, imported as an oracle — NOT copied) against our
re-implementations, over randomized inputs.

Covers: _iri_camel_case, _ttl_escape, _iri_safe, _parse_computed_from,
sic_to_sector, score_adj, and the full per-company selection ladder
(select_base_duration / select_base_instant) on randomized fact pools.
"""

import json
import random
import string
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from reference_script import REFERENCE_SCRIPT

sys.path.insert(0, str(REFERENCE_SCRIPT.parent))
ref = pytest.importorskip("select_xbrl_tags")


# ---------- scalar functions ----------

text_st = st.text(
    alphabet=string.ascii_letters + string.digits + ' -_&().:"\\/%',
    max_size=40,
)


@settings(max_examples=300, deadline=None)
@given(text_st)
def test_iri_camel_case(s):
    from edgar_finance_ontology_spark.functions.iri import iri_camel_case

    assert iri_camel_case(s) == ref._iri_camel_case(s)


@settings(max_examples=200, deadline=None)
@given(st.one_of(st.none(), st.integers(-1000, 12000)))
def test_sic_to_sector(sic):
    from edgar_finance_ontology_spark.vocab.sic import sic_to_sector

    assert sic_to_sector(sic) == ref.sic_to_sector(sic)


@settings(max_examples=200, deadline=None)
@given(
    st.sampled_from(["10-K", "10-Q", "20-F", "10-K/A", "8-K", "", None]),
    st.sampled_from(["USD", "EUR", "shares", "", None]),
    st.sampled_from(["FY", "CY", "FYR", "Q1", "fy", "", None]),
    st.booleans(),
)
def test_score_adj(form, unit, fp, has_seg):
    # column-expression twin evaluated in pure python via the same rules
    from edgar_finance_ontology_spark.functions.scoring import (
        ANNUAL_FORMS, FY_FPS,
    )

    def ours(form, unit, fp, has_seg, industry_hit=True):
        s = 0.0
        s += 0.06 if form in ANNUAL_FORMS else (-0.01 if form else 0.0)
        s += 0.03 if unit == "USD" else (-0.02 if unit else 0.0)
        s += 0.03 if (fp or "").upper() in FY_FPS else 0.0
        s += -0.01 if has_seg else 0.0
        s += 0.02 if industry_hit else 0.0
        return s

    assert abs(ours(form, unit, fp, has_seg)
               - ref.score_adj(form, unit, fp, has_seg)) < 1e-12


@settings(max_examples=200, deadline=None)
@given(st.text(alphabet=string.ascii_letters + "(),;- ", max_size=50))
def test_parse_computed_from_python(s):
    from edgar_finance_ontology_spark.emit.turtle import parse_computed_from

    assert parse_computed_from(s) == ref._parse_computed_from(s)


# ---------- full selection-ladder fuzz (the core semantics) ----------

def _random_facts(rng: random.Random, qnames: list[str]) -> dict:
    """Randomized company-facts nest over the given qnames, with sorted
    keys (our determinism convention)."""
    facts: dict = {}
    for qn in qnames:
        if rng.random() < 0.25:
            continue
        tax, tag = qn.split(":")
        units = {}
        for unit in rng.sample(["USD", "EUR", "shares"],
                               k=rng.randint(1, 2)):
            recs = []
            for _ in range(rng.randint(1, 5)):
                year = rng.choice([2022, 2023, 2024, 2025])
                month = rng.randint(1, 12)
                day = rng.randint(1, 28)
                rec = {
                    "val": round(rng.uniform(-5e9, 5e9), 2),
                    "end": f"{year:04d}-{month:02d}-{day:02d}",
                    "fy": year,
                    "accn": f"{rng.randint(1, 9)}-acc-{rng.randint(0, 999):03d}",
                }
                if rng.random() < 0.7:
                    rec["fp"] = rng.choice(["FY", "CY", "Q1", "Q2", "Q3", "FYR"])
                if rng.random() < 0.5:
                    rec["form"] = rng.choice(["10-K", "10-Q", "20-F", "8-K"])
                if rng.random() < 0.4:
                    rec["qtrs"] = rng.choice([1, 4])
                if rng.random() < 0.15:
                    rec["segment"] = "SegA"
                recs.append(rec)
            # keep pool order deterministic across engines: sort records
            recs.sort(key=lambda r: (r["end"], r["accn"]))
            units[unit] = recs
        if units:
            facts.setdefault(tax, {})[tag] = {"units": dict(sorted(units.items()))}
    return {tax: dict(sorted(tags.items())) for tax, tags in sorted(facts.items())}


SELECTION_METRICS_DUR = ["Revenue", "NetIncome", "CFO", "OperatingIncome",
                         "GrossProfit", "DepAmort"]
SELECTION_METRICS_INST = ["Assets", "Equity", "CurrentLiabilities",
                          "Inventories"]


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_selection_ladder_fuzz(spark, seed):
    """Randomized fact pools for 30 companies; our set-oriented
    selection must equal the reference's per-company ladder for every
    (company, metric)."""
    from edgar_finance_ontology_spark.operators.selection import (
        select_candidates, specs_df,
    )
    from edgar_finance_ontology_spark.sources.facts import (
        explode_facts, read_companyfacts_json,
    )
    from edgar_finance_ontology_spark.vocab.candidates import CANDIDATES_ROWS

    rng = random.Random(seed)
    qnames_by_metric = {}
    for metric, _o, qn, _s, _g in CANDIDATES_ROWS:
        qnames_by_metric.setdefault(metric, []).append(qn)

    sectors = ["Information Technology", "Financials", "Utilities",
               "Energy", "Real Estate", "Other", "IFRS"]
    companies = []
    ref_results = {}
    files = []
    import tempfile

    tmp = tempfile.mkdtemp(prefix=f"fuzz{seed}-")
    dbg = ref.Debugger()
    for i in range(30):
        cik = 900000 + i
        all_qn = [qn for m in SELECTION_METRICS_DUR + SELECTION_METRICS_INST
                  for qn in qnames_by_metric[m]]
        facts_nest = _random_facts(rng, all_qn)
        fj = {"cik": cik, "entityName": f"Fuzz {i}",
              "entityTicker": f"FZ{i}", "facts": facts_nest}
        fye = rng.choice(["1231", "0930", "0630", "0131", "XXXX"])
        sector = rng.choice(sectors)
        subs = {"fiscalYearEnd": fye}
        path = f"{tmp}/CIK{cik}.json"
        with open(path, "w") as f:
            json.dump(fj, f)
        files.append(path)
        companies.append((f"FZ{i}", f"{cik:010d}", f"Fuzz {i}", sector,
                          "FuzzInd", "", "", fye))
        for m in SELECTION_METRICS_DUR:
            r = ref.select_base_duration(fj, 2024, subs, dbg, m,
                                         "USD", 90, sector=sector)
            ref_results[(f"{cik:010d}", f"b_{m}")] = r
        for m in SELECTION_METRICS_INST:
            r = ref.select_base_instant(fj, 2024, subs, dbg, m,
                                        "USD", 120, sector=sector)
            ref_results[(f"{cik:010d}", f"b_{m}")] = r

    cf = read_companyfacts_json(spark, f"{tmp}/*.json")
    facts = explode_facts(cf)
    comp_df = spark.createDataFrame(
        companies,
        "symbol string, cik string, name string, sector string, "
        "industry string, sic string, sic_description string, fye string",
    )
    std = {"fy": 2024, "kind": "standard", "ladder": (0,), "prec": 0}
    specs = [
        {**std, "spec_id": f"b_{m}", "metric": m, "tol_days": 90,
         "period_type": "duration"} for m in SELECTION_METRICS_DUR
    ] + [
        {**std, "spec_id": f"b_{m}", "metric": m, "tol_days": 120,
         "period_type": "instant"} for m in SELECTION_METRICS_INST
    ]
    got = {
        (r["cik"], r["spec_id"]): r
        for r in select_candidates(facts, comp_df, specs_df(spark, specs)).collect()
    }

    mismatches = []
    for key, rr in ref_results.items():
        ours = got.get(key)
        if rr.get("source_type") == "none":
            if ours is not None:
                mismatches.append((key, "ref=none", dict(ours.asDict())))
            continue
        if ours is None:
            mismatches.append((key, rr, "ours=missing"))
            continue
        for field, rfield in [("source_type", "source_type"),
                              ("qname", "qname"), ("value", "value"),
                              ("unit", "unit"), ("end", "end")]:
            if ours[field] != rr.get(rfield):
                mismatches.append((key, field, rr.get(rfield), ours[field]))
        if abs(ours["confidence"] - rr["confidence"]) > 1e-9:
            mismatches.append((key, "confidence", rr["confidence"],
                               ours["confidence"]))
    assert not mismatches, mismatches[:8]
