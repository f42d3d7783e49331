"""Unit parity for the scalar helpers (C1-C12, A1b) against the
reference's Python semantics."""

import math
import random
import re
import string

from pyspark.sql import functions as F


def _ref_iri_camel_case(s):
    if not s:
        return ""
    s = re.sub(r"[^A-Za-z0-9]", " ", s)
    words = s.split()
    if not words:
        return ""
    result = words[0].capitalize()
    for word in words[1:]:
        result += word.capitalize()
    return result


# ASCII letters, digits, punctuation, tab/newline, plus non-ASCII
# letters and digits with unusual case mappings: é ß İ ǅ ﬁ 𝔸 Ａ ٣ ı,
# the Kelvin sign and Σ
_CAMEL_FUZZ_ALPHABET = (
    string.ascii_letters + string.digits + string.punctuation + " \t\n"
    + "\u00e9\u00df\u0130\u01c5\ufb01\U0001d538\uff21\u0663\u0131"
    + "\u212a\u03a3"
)


def test_iri_camel_case_python_semantics(spark):
    from edgar_finance_ontology_spark.functions.iri import (
        iri_camel_case, iri_camel_case_col,
    )

    cases = [
        "Information Technology", "Services-Prepackaged Software", "Top10",
        "IBM things", "A&P stores", "crude petroleum & natural gas",
        "  spaced   out ", "", None, "ALLCAPS", "x", "123 456",
        "Real Estate Investment Trusts (REITs)",
    ]
    for c in cases:
        assert iri_camel_case(c) == _ref_iri_camel_case(c), c
    # the capitalize-lowers-the-tail quirk
    assert iri_camel_case("IBM Corp") == "IbmCorp"

    # the native column reproduces the Python function, null -> ""
    rng = random.Random(20240)
    fuzz = [
        "".join(rng.choice(_CAMEL_FUZZ_ALPHABET)
                for _ in range(rng.randint(0, 24)))
        for _ in range(5000)
    ]
    inputs = cases + fuzz
    df = spark.createDataFrame(
        [(i, s) for i, s in enumerate(inputs)], "i int, s string")
    got = {
        r["i"]: r["c"]
        for r in df.select(
            "i", iri_camel_case_col(F.col("s")).alias("c")).collect()
    }
    bad = [(s, got[i]) for i, s in enumerate(inputs)
           if got[i] != iri_camel_case(s)]
    assert not bad, bad[:5]
    assert got[cases.index(None)] == ""


def test_ttl_escape_and_iri_safe_cols(spark):
    from edgar_finance_ontology_spark.functions.iri import (
        iri_safe_col, ttl_escape_col,
    )

    df = spark.createDataFrame(
        [(r'back\slash "quoted"', "Some:Weird/Name (x)")], "a string, b string"
    )
    row = df.select(
        ttl_escape_col(F.col("a")).alias("e"),
        iri_safe_col(F.col("b")).alias("s"),
    ).collect()[0]
    assert row["e"] == 'back\\\\slash \\"quoted\\"'
    assert row["s"] == "Some-Weird-Name--x-"


def test_parse_computed_from(spark):
    from edgar_finance_ontology_spark.functions.iri import (
        parse_computed_from_col,
    )

    df = spark.createDataFrame(
        [("Revenue(cur),Revenue(prior)",), ("NetIncome;Revenue",),
         ("direct-growth",), ("",), ("A;;B, A",)],
        "c string",
    )
    got = [r[0] for r in df.select(parse_computed_from_col(F.col("c"))).collect()]
    assert got == [["Revenue"], ["NetIncome", "Revenue"], [], [], ["A", "B"]]


def test_score_adj_table(spark):
    """score_adj truth table vs the reference formula
    (select_xbrl_tags.py:1552-1561)."""
    from edgar_finance_ontology_spark.functions.scoring import score_adj_col

    def ref(form, unit, fp, has_seg, industry_hit=True):
        s = 0.0
        if form in ("10-K", "20-F", "10-K/A", "20-F/A"):
            s += 0.06
        elif form:
            s -= 0.01
        if unit == "USD":
            s += 0.03
        elif unit:
            s -= 0.02
        if (fp or "").upper() in ("FY", "CY", "FYR"):
            s += 0.03
        if has_seg:
            s -= 0.01
        if industry_hit:
            s += 0.02
        return s

    cases = [
        ("10-K", "USD", "FY", False), ("10-Q", "USD", "Q3", True),
        (None, None, None, False), ("", "", "", False),
        ("20-F/A", "EUR", "fy", False), ("8-K", "shares", "CY", True),
    ]
    df = spark.createDataFrame(
        cases, "form string, unit string, fp string, seg boolean"
    )
    got = [
        round(r[0], 9)
        for r in df.select(
            score_adj_col(F.col("form"), F.col("unit"), F.col("fp"),
                          F.col("seg"))
        ).collect()
    ]
    want = [round(ref(*c), 9) for c in cases]
    assert got == want


def test_index_percentile_matches_python(spark):
    """A1b: benchmarks' sorted[int(n*q)] percentile semantics."""
    import statistics

    from edgar_finance_ontology_spark.operators.benchmarks import _group_stats

    vals = [3.5, 1.25, 9.0, 2.0, 7.75, 4.0, 6.5]
    df = spark.createDataFrame([(vals,)], "vals array<double>")
    row = df.select(_group_stats(F.col("vals")).alias("s")).collect()[0]["s"]
    sv = sorted(vals)
    n = len(sv)
    assert row["percentile25"] == sv[int(n * 0.25)]
    assert row["percentile75"] == sv[int(n * 0.75)]
    assert row["median_value"] == statistics.median(vals)
    assert row["average_value"] == statistics.mean(vals)


def test_py_float_repr(spark):
    from edgar_finance_ontology_spark.functions.iri import py_float_repr_col

    vals = [383285000000.0, 0.125, 1e16, 1.0 / 3.0, -0.0, 2.5e-7]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r[0] for r in df.select(py_float_repr_col(F.col("v"))).collect()]
    assert got == [repr(v) for v in vals]


def test_sic_ladder_matches_reference_rules():
    from edgar_finance_ontology_spark.vocab.sic import sic_to_sector

    # overlap cases resolved by rule order (first hit wins)
    assert sic_to_sector(2830) == "Materials"        # not Health Care
    assert sic_to_sector(3571) == "Industrials"      # not IT
    assert sic_to_sector(6500) == "Financials"       # not Real Estate
    assert sic_to_sector(2731) == "Consumer Discretionary"
    assert sic_to_sector(7372) == "Information Technology"
    assert sic_to_sector(None) == "Unknown"
    assert sic_to_sector(9999) == "Other"
