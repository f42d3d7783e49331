"""Selection passes the reference goldens never reach.

On the golden panel every prior-year growth input is found by the
relaxed pass, so the fy-1 fallback ladder (standard selection at fy-1
over base tolerances +180..+540) supplies no pick and the byte-parity
tests cannot see it. Here the synthetic panel is built without the
reference script and a third of its companies have every `end` moved
back two or three years, which pushes their prior-year picks out of
the relaxed window and onto the fallback. The wide frame is pinned by
an order-independent digest.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json

import pytest

from edgar_finance_ontology_spark.sources.synthetic import build_panel
from edgar_finance_ontology_spark.vocab.candidates import CANDIDATES_ROWS

SHIFTED = {0: 2, 3: 3, 6: 2, 9: 3}  # company index -> years moved back

# sha256 over the sorted JSON rows of build_wide on the shifted panel
WIDE_DIGEST = {
    2023: "8c9a2ff7bc7e4260b9cb5d7a5df4f3dc306fb9f12e8668962e0e72187b2c493c",
    2024: "9d89a95d22a0344ba5562a1661870a1f00e975ef368073ad385bfe302dbade33",
}

GROWTH_INPUTS = ("g_Revenue", "g_NetIncome", "g_CFO", "g_Assets")


def _back(end: str, years: int) -> str:
    d = dt.date.fromisoformat(end)
    try:
        return d.replace(year=d.year - years).isoformat()
    except ValueError:  # Feb 29
        return d.replace(year=d.year - years, day=28).isoformat()


@pytest.fixture(scope="module")
def shifted_inputs(spark, tmp_path_factory):
    from edgar_finance_ontology_spark.sources.facts import (
        build_companies, explode_facts, read_companyfacts_json,
        read_submissions_json,
    )

    d = tmp_path_factory.mktemp("shifted_panel")
    for i, entry in enumerate(build_panel(12)):
        years = SHIFTED.get(i, 0)
        for tags in entry["facts"]["facts"].values():
            for body in tags.values():
                for recs in body["units"].values():
                    for r in recs:
                        r["end"] = _back(r["end"], years)
        cik = entry["facts"]["cik"]
        (d / f"facts_{cik}.json").write_text(json.dumps(entry["facts"]))
        (d / f"subs_{cik}.json").write_text(json.dumps(entry["subs"]))
    cf = read_companyfacts_json(spark, str(d / "facts_*.json"))
    subs = read_submissions_json(spark, str(d / "subs_*.json"))
    facts = explode_facts(cf).localCheckpoint(eager=True)
    companies = build_companies(cf, subs).localCheckpoint(eager=True)
    return facts, companies


def _wide_rows(shifted_inputs, fy):
    from edgar_finance_ontology_spark.operators.observations import build_wide

    facts, companies = shifted_inputs
    return [r.asDict(recursive=True)
            for r in build_wide(facts, companies, fy).collect()]


def _digest(rows) -> str:
    lines = sorted(json.dumps(r, sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _fye_date(year: int, fye: str) -> dt.date:
    try:
        return dt.date(year, int(fye[:2]), int(fye[2:]))
    except ValueError:
        return dt.date(year, 12, 31)


def test_fallback_sector_and_relaxed_picks_occur(shifted_inputs):
    _facts, companies = shifted_inputs
    comp = {r["cik"]: r for r in companies.collect()}
    gates = {(m, q): gate for m, _o, q, _s, gate in CANDIDATES_ROWS if gate}

    def gated_out(cik, metric, qname):
        gate = gates.get((metric, qname))
        return gate is not None and comp[cik]["sector"] not in gate

    fallback = relaxed = ungated = 0
    for r in _wide_rows(shifted_inputs, 2024):
        cik = r["cik"]
        # the relaxed pass admits only ends inside this window, and runs
        # ungated over every candidate, so a prior-year pick outside it
        # can only come from the fy-1 fallback
        lo = _fye_date(2022, comp[cik]["fye"]) - dt.timedelta(days=179)
        hi = _fye_date(2024, comp[cik]["fye"]) + dt.timedelta(days=180)
        for s in GROWTH_INPUTS:
            v = r[s]
            if v is None:
                continue
            if lo <= dt.date.fromisoformat(v["end"]) <= hi:
                relaxed += 1
                if gated_out(cik, s[2:], v["qname"]):
                    # the standard pass gates the same concept away
                    assert r[f"b_{s[2:]}"] is None
                    ungated += 1
            else:
                fallback += 1
                assert not gated_out(cik, s[2:], v["qname"])
        for s, v in r.items():
            if s[:2] in ("b_", "p_") and v is not None:
                assert not gated_out(cik, s[2:], v["qname"])
    assert fallback > 0
    assert relaxed > 0
    assert ungated > 0


@pytest.mark.parametrize("fy", sorted(WIDE_DIGEST))
def test_wide_digest_pinned(shifted_inputs, fy):
    assert _digest(_wide_rows(shifted_inputs, fy)) == WIDE_DIGEST[fy]
