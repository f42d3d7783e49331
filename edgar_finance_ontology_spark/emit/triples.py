"""The emission model: every block of instances.ttl as one row with a
subject and an array of (pred, obj, obj_is_literal, obj_dtype) entries,
the canonical (subj, pred, obj) semantic store (TRIPLES_SCHEMA) being
those arrays exploded. Partition-friendly at 10^12 scale.

Mirrors emit_efin_ttl's block families (select_xbrl_tags.py:96-612) as
DataFrame transforms. Each `*_blocks` function adds `subj` and `ents`
columns; the entries are listed in the order emit/turtle.py prints the
predicates, so the Turtle writer (emit/turtle_writer.py) renders a
block from the same row the triple table explodes. The only Python in
the big-table path is the Arrow-batched repr(float) UDF for xsd:double
lexical forms (byte parity with Python float repr); IRI camel-casing is
a native column expression (functions/iri.iri_camel_case_col) inlined
where each IRI is built.

Literal encoding: obj holds the escaped lexical form; obj_dtype is the
xsd type (null = plain quoted string; xsd:integer/xsd:boolean render
bare in Turtle).
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.iri import (
    iri_camel_case_col,
    iri_safe_col,
    parse_computed_from_col,
    py_float_repr_col,
    ttl_escape_col,
)
from ..vocab.metrics import COMPUTED_FROM_WHITELIST
from ..vocab.namespaces import CURRENCY_CODES, NAMESPACE_MAP

# Sections of instances.ttl in document order. In dimension_blocks a row
# with a null key is its section's header (a blank line or a comment
# line in the Turtle text, no triple); it sorts before the values.
(HEADER, COMPANIES, SECTORS, SECTOR_ALL, INDUSTRIES, OBSERVATIONS, UNITS,
 CURRENCIES, CONCEPTS, BENCHMARKS, RANKINGS) = range(11)


def _t(pred, obj, is_lit=False, dtype=None):
    return F.struct(
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        F.lit(is_lit).alias("obj_is_literal"),
        (F.lit(dtype) if dtype else F.lit(None).cast("string")).alias("obj_dtype"),
    )


def _entries(pairs) -> F.Column:
    """(cond, entry struct) pairs -> the entry array, null where the
    condition is not true."""
    return F.array(*[F.when(c, s) for c, s in pairs])


def _explode(blocks: DataFrame) -> DataFrame:
    """(subj, ents) rows -> one triple per non-null entry. explode_outer,
    because Catalyst infers a `size(ents) > 0` filter below a plain
    explode, and that filter would paste the value-repr UDF a second
    time (a second ArrowEvalPython)."""
    return (
        blocks.select("subj", F.explode_outer("ents").alias("t"))
        .where(F.col("t").isNotNull())
        .select(
            "subj", F.col("t.pred").alias("pred"), F.col("t.obj").alias("obj"),
            F.col("t.obj_is_literal").alias("obj_is_literal"),
            F.col("t.obj_dtype").alias("obj_dtype"),
        )
    )


def company_blocks(companies: DataFrame) -> DataFrame:
    """Company family (select_xbrl_tags.py:152-196): companies + subj, ents."""
    subj, ents = _company_exprs()
    return companies.withColumn("subj", subj).withColumn("ents", ents)


def company_triples(companies: DataFrame) -> DataFrame:
    return _explode(company_blocks(companies))


@functools.lru_cache(maxsize=1)
def _company_exprs():
    """Pure expression fragments of the company family, built once per
    process — Column objects are immutable expression trees over fixed
    column NAMES, safe to reuse across DataFrames and sessions. (Every
    family builder memoizes its fragments this way: plan construction
    was ~3-5s of py4j round trips per build_triples call, and the
    incremental patch path plus the 10x/100x panels re-pay it per
    invocation otherwise.)"""
    subj = F.concat(F.lit("efin:CIK"), F.lpad("cik", 10, "0"))
    sym = F.upper(F.coalesce(F.col("symbol"), F.lit("")))
    ents = _entries((
        (F.lit(True), _t("rdf:type", F.lit("efin:Company"))),
        (F.col("cik") != "", _t("efin:hasCIK", F.lpad("cik", 10, "0"), True)),
        (sym != "", _t("efin:hasTicker", ttl_escape_col(sym), True)),
        (F.col("name") != "", _t("efin:hasCompanyName", ttl_escape_col(F.col("name")), True)),
        (F.col("sic") != "", _t("efin:hasSIC", ttl_escape_col(F.col("sic")), True)),
        (F.col("sic_description") != "", _t("efin:hasSICDescription", ttl_escape_col(F.col("sic_description")), True)),
        (F.col("fye") != "", _t("efin:hasFiscalYearEnd", ttl_escape_col(F.col("fye")), True)),
        (F.trim("sector") != "", _t("efin:inSector", F.concat(F.lit("efin:Sector"), iri_camel_case_col(F.col("sector"))))),
        (F.trim("industry") != "", _t("efin:inIndustry", F.concat(F.lit("efin:Industry"), iri_camel_case_col(F.col("industry"))))),
    ))
    return subj, ents


@functools.lru_cache(maxsize=1)
def _obs_exprs():
    """Pure expression fragments of the observation family (see
    _company_exprs for the memoization rationale): the keep guard, the
    staged (name, expr) columns the entries read, subj and ents."""
    from ..functions.dates import parse_date_col
    from ..functions.iri import py_round6_col

    # the guard tests the raw value natively: the %.6f round trip maps
    # null/NaN to null and every other double to a non-null one, so it
    # keeps the same rows as a guard on the rounded value, and the
    # computedFromMetric entries, which read it, run no UDF
    v = F.col("value")
    keep = (
        (F.col("cik") != "") & (F.col("metric") != "")
        & F.col("fy").isNotNull()
        & F.col("period_type").isin("duration", "instant")
        & v.isNotNull() & ~F.isnan(v)
    )
    end_nonempty = F.col("end").isNotNull() & (F.col("end") != "")
    staged = (
        ("vrepr", py_float_repr_col(py_round6_col(v))),
        ("end_d", parse_date_col(F.col("end"))),
        ("quarter", F.when(
            F.upper(F.coalesce(F.col("form"), F.lit(""))).contains("10-Q")
            & end_nonempty & F.col("end_d").isNotNull(),
            F.floor((F.month("end_d") + 2) / 3).cast("int"),
        )),
    )
    subj = F.concat(
        F.lit("efin:obs-"),
        iri_safe_col(
            F.concat_ws(
                "-", F.lpad("cik", 10, "0"), F.col("fy").cast("string"),
                F.col("metric"),
                F.coalesce(F.nullif(F.col("end"), F.lit("")), F.lit("NA")),
            )
        ),
    )
    uu = F.upper(F.coalesce(F.col("unit"), F.lit("")))
    tag = F.trim(F.coalesce(F.col("selected_tag"), F.lit("")))
    # computedFromMetric edges (whitelisted; select_xbrl_tags.py:374-397)
    computed = F.transform(
        F.filter(
            parse_computed_from_col(
                F.when(F.col("is_derived"), F.col("computed_from"))),
            lambda m: m.isin(*COMPUTED_FROM_WHITELIST),
        ),
        lambda m: _t("efin:computedFromMetric",
                     F.concat(F.lit("efin:"), iri_safe_col(m))),
    )
    ents = F.concat(_entries((
        (F.lit(True), _t("rdf:type", F.lit("efin:MetricObservation"))),
        (F.lit(True), _t("efin:ofCompany", F.concat(F.lit("efin:CIK"), F.lpad("cik", 10, "0")))),
        (F.lit(True), _t("efin:observesMetric", F.concat(F.lit("efin:"), iri_safe_col(F.col("metric"))))),
        (F.lit(True), _t("efin:hasFiscalYear", F.col("fy").cast("string"), True, "xsd:integer")),
        (F.lit(True), _t("efin:hasPeriodType", ttl_escape_col(F.col("period_type")), True)),
        (end_nonempty, _t("efin:hasPeriodEnd", F.concat(ttl_escape_col(F.col("end")), F.lit("T00:00:00")), True, "xsd:dateTime")),
        (F.col("quarter").isNotNull(), _t("efin:hasQuarter", F.col("quarter").cast("string"), True, "xsd:integer")),
        (F.col("unit") != "", _t("efin:hasUnit", F.concat(F.lit("efin:Unit"), iri_camel_case_col(F.col("unit"))))),
        (uu.isin(*CURRENCY_CODES), _t("efin:hasCurrency", F.concat(F.lit("efin:Currency"), uu))),
        (F.lit(True), _t("efin:hasNumericValue", F.col("vrepr"), True, "xsd:double")),
        (F.lit(True), _t("efin:isDerived", F.when(F.col("is_derived"), "true").otherwise("false"), True, "xsd:boolean")),
        (tag != "", _t("efin:hasXbrlConcept", F.concat(F.lit("efin:XBRLConcept"), iri_safe_col(tag)))),
        (F.col("source_type") != "", _t("efin:hasSourceType", ttl_escape_col(F.col("source_type")), True)),
    )), computed)
    return keep, staged, subj, ents


def observation_blocks(obs: DataFrame) -> DataFrame:
    """Observation family (select_xbrl_tags.py:235-400) over the
    CSV-rounded value view: the kept rows + subj, ents."""
    keep, staged, subj, ents = _obs_exprs()
    o = obs.where(keep)
    for name, expr in staged:
        o = o.withColumn(name, expr)
    return o.withColumn("subj", subj).withColumn("ents", ents)


def observation_triples(obs: DataFrame) -> DataFrame:
    return _explode(observation_blocks(obs))


def _dim_rows(df: DataFrame, order, specs) -> DataFrame:
    """One (sec, key, aux, ord) row per (cond, sec, key, aux) spec whose
    condition holds on a row of `df`; key None is a header row."""
    def cell(c):
        return (F.lit(None) if c is None else c).cast("string")

    rows = F.array(*[
        F.when(cond, F.struct(
            F.lit(sec).alias("sec"), cell(key).alias("key"),
            cell(aux).alias("aux"), order.cast("string").alias("ord"),
        ))
        for cond, sec, key, aux in specs
    ])
    return (
        df.select(F.explode(rows).alias("d"))
        .where(F.col("d").isNotNull())
        .select("d.*")
    )


def _valued(sec, key, aux=None):
    """A value row of section `sec` and the section's header row, both
    when `key` is non-empty."""
    cond = key.isNotNull() & (key != "")
    return [(cond, sec, None, None), (cond, sec, key, aux)]


def dimension_blocks(
    companies: DataFrame,
    observations: DataFrame,
    benchmarks: DataFrame | None = None,
    rankings: DataFrame | None = None,
) -> DataFrame:
    """The bounded dimension instances (select_xbrl_tags.py:211-231,
    402-431) as (sec, key, subj, ents) rows, one per distinct section
    value, plus one header row (null key, null subj) per non-empty
    section: sectors and industries from trimmed company values, units
    distinct on the raw string, currencies after upper-casing, XBRL
    concepts from trimmed tags of the kept observations, SectorAll when
    a benchmark or ranking row has no industry and no sector, and the
    benchmark and ranking section headers when those frames have rows.
    An industry's inSectorOf comes from its first company by cik, and
    there is none when that company has no sector (first-wins, as the
    reference's industry_sector_map, select_xbrl_tags.py:190-192).
    One aggregation; no driver action."""
    keep = _obs_exprs()[0]
    uu = F.upper(F.col("unit"))
    parts = [
        _dim_rows(companies, F.col("cik"), [
            *_valued(SECTORS, F.trim("sector")),
            *_valued(INDUSTRIES, F.trim("industry"), F.trim("sector")),
        ]),
        _dim_rows(observations.where(keep), F.lit(""), [
            *_valued(UNITS, F.col("unit")),
            *_valued(CURRENCIES, F.when(uu.isin(*CURRENCY_CODES), uu)),
            *_valued(CONCEPTS, F.trim("selected_tag")),
        ]),
    ]
    for fam, sec in ((benchmarks, BENCHMARKS), (rankings, RANKINGS)):
        if fam is not None:
            all_market = (F.trim("industry") == "") & (F.trim("sector") == "")
            parts.append(_dim_rows(fam, F.lit(""), [
                (all_market, SECTORS, None, None),
                (all_market, SECTOR_ALL, F.lit("All"), None),
                (F.lit(True), sec, None, None),
            ]))
    rows = functools.reduce(DataFrame.unionByName, parts)
    subj, ents = _dimension_exprs()
    return (
        rows.groupBy("sec", "key")
        .agg(F.min_by("aux", "ord").alias("aux"))
        .select("sec", "key", subj.alias("subj"), ents.alias("ents"))
    )


@functools.lru_cache(maxsize=1)
def _dimension_exprs():
    """subj and ents of a dimension row, chosen by its section."""
    key, aux = F.col("key"), F.col("aux")
    prefix = F.split(key, ":").getItem(0)
    ns_known = None
    for p, uri in NAMESPACE_MAP.items():
        ns_known = (F.when(prefix == p, uri) if ns_known is None
                    else ns_known.when(prefix == p, uri))
    ns = F.when(~key.contains(":"), F.lit("")).otherwise(
        ns_known.otherwise(
            F.concat(F.lit("http://example.org/"), prefix, F.lit("/"))))

    def typed(cls):
        return (F.lit(True), _t("rdf:type", F.lit(cls)))

    by_section = {
        SECTORS: (F.concat(F.lit("efin:Sector"), iri_camel_case_col(key)),
                  [typed("efin:Sector")]),
        SECTOR_ALL: (F.lit("efin:SectorAll"), [typed("efin:Sector")]),
        INDUSTRIES: (F.concat(F.lit("efin:Industry"), iri_camel_case_col(key)), [
            typed("efin:Industry"),
            (aux != "", _t("efin:inSectorOf", F.concat(
                F.lit("efin:Sector"), iri_camel_case_col(aux)))),
        ]),
        UNITS: (F.concat(F.lit("efin:Unit"), iri_camel_case_col(key)),
                [typed("efin:Unit")]),
        CURRENCIES: (F.concat(F.lit("efin:Currency"), key),
                     [typed("efin:Currency")]),
        CONCEPTS: (F.concat(F.lit("efin:XBRLConcept"), iri_safe_col(key)), [
            typed("efin:XBRLConcept"),
            (F.lit(True), _t("efin:hasQName", ttl_escape_col(key), True)),
            (ns != "", _t("efin:hasNamespace", ttl_escape_col(ns), True,
                          "xsd:anyURI")),
        ]),
    }
    subj = ents = None
    for sec, (s, pairs) in by_section.items():
        cond = key.isNotNull() & (F.col("sec") == sec)
        subj = F.when(cond, s) if subj is None else subj.when(cond, s)
        arr = _entries(pairs)
        ents = F.when(cond, arr) if ents is None else ents.when(cond, arr)
    return subj, ents


def benchmark_blocks(
    benchmarks: DataFrame, include_industry_scope: bool = False,
) -> DataFrame:
    """Benchmark family (select_xbrl_tags.py:433-489): the emitted rows
    + subj, ents."""
    keep, scoped, subj, repr_cols, ents = _benchmark_exprs()
    b = benchmarks.where(keep)
    if not include_industry_scope:
        b = b.where(~scoped)
    for col, expr in repr_cols:
        b = b.withColumn(f"{col}_r", expr)
    return b.withColumn("subj", subj).withColumn("ents", ents)


def benchmark_triples(
    benchmarks: DataFrame, include_industry_scope: bool = False,
) -> DataFrame:
    return _explode(benchmark_blocks(benchmarks, include_industry_scope))


@functools.lru_cache(maxsize=1)
def _benchmark_exprs():
    """Pure expression fragments of the benchmark family (see
    _company_exprs for the memoization rationale)."""
    metric = F.trim("metric")
    keep = (metric != "") & F.col("fy").isNotNull()
    scoped = F.trim("industry") != ""
    ind_camel = iri_camel_case_col(F.col("industry"))
    met_camel = iri_camel_case_col(metric)
    subj = F.when(
        scoped,
        F.concat(F.lit("efin:IndustryBenchmark"), ind_camel, met_camel,
                 F.col("fy").cast("string")),
    ).otherwise(
        F.concat(F.lit("efin:AllBenchmark"), met_camel,
                 F.col("fy").cast("string"))
    )
    stats = [
        ("average_value", "efin:hasAverageValue"),
        ("median_value", "efin:hasMedianValue"),
        ("max_value", "efin:hasMaxValue"),
        ("min_value", "efin:hasMinValue"),
        ("percentile25", "efin:hasPercentile25"),
        ("percentile75", "efin:hasPercentile75"),
    ]
    repr_cols = tuple(
        (col, py_float_repr_col(F.col(col))) for col, _ in stats
    )
    pairs = [
        (F.lit(True), _t("rdf:type", F.when(scoped, "efin:IndustryBenchmark").otherwise("efin:AllBenchmark"))),
        (scoped, _t("efin:forIndustry", F.concat(F.lit("efin:Industry"), ind_camel))),
        (~scoped, _t("efin:forSector", F.lit("efin:SectorAll"))),
        (F.lit(True), _t("efin:forMetric", F.concat(F.lit("efin:"), iri_safe_col(metric)))),
        (F.lit(True), _t("efin:forFiscalYear", F.col("fy").cast("string"), True, "xsd:integer")),
    ]
    # repr(float) of NaN is 'nan', but the CSV view the reference
    # re-reads writes NaN as an empty cell, which it skips
    for col, pred in stats:
        pairs.append((F.col(col).isNotNull() & ~F.isnan(col),
                      _t(pred, F.col(f"{col}_r"), True, "xsd:double")))
    pairs.append((
        F.col("sample_size").isNotNull(),
        _t("efin:hasSampleSize", F.col("sample_size").cast("string"), True, "xsd:integer"),
    ))
    return keep, scoped, subj, repr_cols, _entries(pairs)


def ranking_blocks(
    rankings: DataFrame,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
) -> DataFrame:
    """TopRanking family (select_xbrl_tags.py:491-609): the emitted rows
    + subj, ents and the hasRanking backlink as `link_subj`, `links`.
    Top10 only; industry/sector scopes gated except for Composite."""
    keep, scoped_ind, scoped_sec, composite, subj, reprs, ents, link_subj = \
        _ranking_exprs()
    r = rankings.where(keep)
    if not include_industry_scope:
        r = r.where(~scoped_ind | composite)
    if not include_sector_scope:
        r = r.where(~scoped_sec | composite)
    for col, expr in reprs:
        r = r.withColumn(col, expr)
    return (
        r.withColumn("subj", subj).withColumn("ents", ents)
        .withColumn("link_subj", link_subj)
        .withColumn("links", F.array(_t("efin:hasRanking", F.col("subj"))))
    )


def ranking_triples(
    rankings: DataFrame,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
) -> DataFrame:
    r = ranking_blocks(rankings, include_industry_scope, include_sector_scope)
    return _explode(r).unionByName(_explode(
        r.select(F.col("link_subj").alias("subj"), F.col("links").alias("ents"))))


@functools.lru_cache(maxsize=1)
def _ranking_exprs():
    """Pure expression fragments of the ranking family (see
    _company_exprs for the memoization rationale). A null fy leaves the
    fiscal year out of the IRI and drops forFiscalYear."""
    metric = F.trim("metric")
    keep = (
        (F.trim("ranking_type") == "Top10") & (metric != "")
        & (F.trim("cik") != "") & F.col("rank").isNotNull()
    )
    scoped_ind = F.trim("industry") != ""
    scoped_sec = ~scoped_ind & (F.trim("sector") != "")
    composite = metric == "Composite"
    cik10 = F.lpad(F.trim("cik"), 10, "0")
    fy_s = F.coalesce(F.col("fy").cast("string"), F.lit(""))
    ind_camel = iri_camel_case_col(F.col("industry"))
    sec_camel = iri_camel_case_col(F.col("sector"))
    met_camel = iri_camel_case_col(metric)
    subj = (
        F.when(scoped_ind, F.concat(
            F.lit("efin:TopRanking"), ind_camel, met_camel,
            F.lit("Top10"), fy_s, cik10))
        .when(scoped_sec, F.concat(
            F.lit("efin:TopRankingSector"), sec_camel, met_camel,
            F.lit("Top10"), fy_s, cik10))
        .otherwise(F.concat(
            F.lit("efin:TopRankingAll"), met_camel,
            F.lit("Top10"), fy_s, cik10))
    )
    finite = lambda c: c.isNotNull() & ~F.isnan(c) & (c != float("inf")) & (c != float("-inf"))  # noqa: E731
    reprs = (("value_r", py_float_repr_col(F.col("value"))),
             ("score_r", py_float_repr_col(F.col("composite_score"))))
    cls = F.when(scoped_ind, "efin:IndustryTopRanking").otherwise("efin:AllTopRanking")
    ents = _entries((
        (F.lit(True), _t("rdf:type", cls)),
        (scoped_ind, _t("efin:forIndustry", F.concat(F.lit("efin:Industry"), ind_camel))),
        (scoped_sec, _t("efin:forSector", F.concat(F.lit("efin:Sector"), sec_camel))),
        (~scoped_ind & ~scoped_sec, _t("efin:forSector", F.lit("efin:SectorAll"))),
        (F.lit(True), _t("efin:forMetric", F.concat(F.lit("efin:"), iri_safe_col(metric)))),
        (fy_s != "", _t("efin:forFiscalYear", fy_s, True, "xsd:integer")),
        (F.lit(True), _t("efin:hasRankingType", F.lit("Top10"), True)),
        (F.lit(True), _t("efin:hasRank", F.col("rank").cast("string"), True, "xsd:integer")),
        (finite(F.col("value")), _t("efin:hasRankingValue", F.col("value_r"), True, "xsd:double")),
        (finite(F.col("composite_score")), _t("efin:hasCompositeScore", F.col("score_r"), True, "xsd:double")),
    ))
    link_subj = F.concat(F.lit("efin:CIK"), cik10)
    return (keep, scoped_ind, scoped_sec, composite, subj, reprs, ents,
            link_subj)


def build_triples(
    observations: DataFrame,
    companies: DataFrame,
    benchmarks: DataFrame | None = None,
    rankings: DataFrame | None = None,
    fy: int | None = None,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
) -> DataFrame:
    """Union of every triple family. The reference's seen-sets only
    dedup the INSTANCE blocks (sectors/industries/units/currencies/
    concepts) — our dim families come from one aggregation already, and
    the big families (company/observation/ranking) are unique by
    construction (one block per key), so no global shuffle-dedup is
    needed; only the bounded dim families get a safety dropDuplicates
    (SectorAll could collide with a literal 'All' sector)."""
    dims, valued = _global_families(
        observations, companies, benchmarks, rankings,
        include_industry_scope, include_sector_scope,
    )
    # the observation, benchmark and ranking families run the value-repr
    # UDFs; one hash exchange runs them once, in its map stage, so a
    # range-partitioned write samples (and re-samples) its output
    # instead of rendering every block again per sampling job. Under a
    # union, not on top: a repartition directly below the write's
    # repartitionByRange would be collapsed into it
    udf_families = functools.reduce(
        DataFrame.unionByName, valued, observation_triples(observations))
    return company_triples(companies).unionByName(dims).unionByName(
        udf_families.repartition("pred", "subj"))


def global_family_triples(
    observations: DataFrame,
    companies: DataFrame,
    benchmarks: DataFrame | None = None,
    rankings: DataFrame | None = None,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
) -> DataFrame:
    """The BOUNDED global families (entity/instance dims + benchmark +
    ranking triples) as one frame — the piece build_triples and the
    incremental triple-store patcher (plans/incremental.py) share, so
    the SectorAll/dim rules live in exactly one place. The SectorAll
    row is part of the dimension aggregation, derived lazily inside the
    plan rather than by a driver probe of the benchmark and ranking
    frames."""
    dims, valued = _global_families(
        observations, companies, benchmarks, rankings,
        include_industry_scope, include_sector_scope,
    )
    return functools.reduce(DataFrame.unionByName, valued, dims)


def _global_families(
    observations: DataFrame,
    companies: DataFrame,
    benchmarks: DataFrame | None,
    rankings: DataFrame | None,
    include_industry_scope: bool,
    include_sector_scope: bool,
) -> tuple[DataFrame, list[DataFrame]]:
    """(dimension triples, [benchmark triples, ranking triples]): the
    bounded global families, split where the value-repr UDFs start."""
    dims = dimension_blocks(companies, observations, benchmarks, rankings)
    out = _explode(dims.where(F.col("subj").isNotNull())).dropDuplicates(
        ["subj", "pred", "obj"])
    valued = []
    if benchmarks is not None:
        valued.append(benchmark_triples(benchmarks, include_industry_scope))
    if rankings is not None:
        valued.append(ranking_triples(
            rankings, include_industry_scope, include_sector_scope))
    return out, valued
