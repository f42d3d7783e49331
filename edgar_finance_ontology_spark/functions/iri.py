"""IRI / Turtle-literal helpers.

ttl_escape / iri_safe / iri_camel_case / parse_computed_from are
native column expressions (regexp_replace / initcap / split /
transform). iri_camel_case first maps every non-[A-Za-z0-9] character
to a space, so initcap (lowercase the string, then upper-case each
letter after a space) reproduces str.capitalize per word — "IBM" ->
"Ibm" — exactly. py_float_repr, py_fixed_format and py_round6 need
Python-exact semantics (repr(float) is shortest-roundtrip, and %.6f
rounds the exact binary expansion), so they are Arrow-batched pandas
UDFs used only in the aggregate and final-emission stages, never on the
big fact path.

Each Python task has a fixed start cost (~0.1-0.4 s per task at small
scale, against ~40 ms for a JVM-only task of the same stage; PLANS.md
"Python stages cost their task count"). Callers feed these UDFs from
few-partition frames, run each once per row set rather than once per
consumer, and keep them out of filters a native test can decide: a
null/NaN guard on the raw value keeps the same rows as a guard on
py_round6's output.

Reference: _ttl_escape select_xbrl_tags.py:41-44, _iri_safe :46-48,
_iri_camel_case :50-71, _parse_computed_from :73-94, float emission
:334 (f'{v}' on a Python float).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType


def ttl_escape_col(c: Column) -> Column:
    """Escape backslash then double-quote (order matters)."""
    return F.regexp_replace(
        F.regexp_replace(F.coalesce(c, F.lit("")), r"\\", r"\\\\"), '"', r'\\"'
    )


def iri_safe_col(c: Column) -> Column:
    """Replace [^A-Za-z0-9._-] with '-'."""
    return F.regexp_replace(F.coalesce(c, F.lit("")), r"[^A-Za-z0-9._-]", "-")


def iri_camel_case(s: str | None) -> str:
    """Python-exact mirror of the reference's CamelCase IRI mangling:
    non-alnum -> space, split, str.capitalize each word (which
    LOWERCASES tails: 'IBM' -> 'Ibm'), concatenate."""
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


def iri_camel_case_col(c: Column) -> Column:
    """Native iri_camel_case: non-alnum -> space, initcap, drop the
    spaces. Null -> ''."""
    spaced = F.regexp_replace(F.coalesce(c, F.lit("")), r"[^A-Za-z0-9]", " ")
    return F.regexp_replace(F.initcap(spaced), " ", "")


def py_float_repr(v) -> str:
    """repr() of a Python float — shortest round-trip form, matching the
    reference's f'{v}' Turtle literal (select_xbrl_tags.py:334)."""
    if v is None:
        return ""
    return repr(float(v))


@pandas_udf(StringType())
def py_float_repr_col(v: pd.Series) -> pd.Series:
    return v.map(lambda x: "" if pd.isna(x) else repr(float(x)))


def py_fixed_format_col(c: Column, digits: int) -> Column:
    """Python-exact f"{v:.Nf}" (rounds the exact binary expansion;
    Spark's format_number/round go through the double's SHORTEST
    decimal repr and differ in the last place for values like
    8727893423.39). Arrow-batched; used only on bounded presentation
    frames."""
    fmt = "{:." + str(digits) + "f}"

    @pandas_udf(StringType())
    def _fmt(v: pd.Series) -> pd.Series:
        return v.map(lambda x: "" if pd.isna(x) else fmt.format(float(x)))

    return _fmt(c)


def py_round6_col(c: Column) -> Column:
    """float(f"{v:.6f}") — the reference's CSV round-trip semantics
    (write %.6f, re-parse float), exact-binary rounding."""
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def _r6(v: pd.Series) -> pd.Series:
        return v.map(
            lambda x: None if pd.isna(x) else float("{:.6f}".format(float(x)))
        )

    return _r6(c)


def parse_computed_from_col(c: Column) -> Column:
    """'Revenue(cur),Revenue(prior)' -> array('Revenue');
    'direct-growth' -> empty array. Native: split on [,;], strip
    parenthesised suffixes, trim, drop empties, dedup preserving order.
    """
    base = F.when(
        c.isNull() | (c == "") | (c == "direct-growth"), F.array().cast("array<string>")
    ).otherwise(
        F.filter(
            F.transform(
                F.split(c, r"[,;]"),
                lambda p: F.trim(F.regexp_replace(p, r"\([^)]*\)", "")),
            ),
            lambda p: p != "",
        )
    )
    # array_distinct preserves first-occurrence order (matches reference).
    return F.array_distinct(base)
