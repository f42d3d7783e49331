"""Distributed triple generation — the canonical (subj, pred, obj)
semantic store (TRIPLES_SCHEMA), partition-friendly at 10^12 scale.

Mirrors emit_efin_ttl's block families (select_xbrl_tags.py:96-612) as
DataFrame transforms. The only Python in the big-table path is the
Arrow-batched repr(float) UDF for xsd:double lexical forms (byte parity
with Python float repr); IRI camel-casing is a native column expression
(functions/iri.iri_camel_case_col) inlined where each IRI is built.

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


def _t(pred, obj, is_lit=False, dtype=None):
    return F.struct(
        F.lit(pred).alias("pred"),
        obj.alias("obj"),
        F.lit(is_lit).alias("obj_is_literal"),
        (F.lit(dtype) if dtype else F.lit(None).cast("string")).alias("obj_dtype"),
    )


def _emit(df: DataFrame, subj, entries: list) -> DataFrame:
    """df + subject expr + list of (cond, struct) -> exploded triples."""
    arr = F.array(*[F.when(c, s) for c, s in entries])
    return (
        df.select(subj.alias("subj"), F.explode(arr).alias("t"))
        .where(F.col("t").isNotNull())
        .select(
            "subj", F.col("t.pred").alias("pred"), F.col("t.obj").alias("obj"),
            F.col("t.obj_is_literal").alias("obj_is_literal"),
            F.col("t.obj_dtype").alias("obj_dtype"),
        )
    )


def _camel_dim(df: DataFrame, col: str) -> DataFrame:
    """distinct non-empty values of `col` (as `_dim_key`, a
    collision-free join key) + their CamelCase IRI part (tiny frame)."""
    return (
        df.select(F.col(col).alias("_dim_key"))
        .where((F.col("_dim_key") != "") & F.col("_dim_key").isNotNull())
        .distinct()
        .withColumn("camel", iri_camel_case_col(F.col("_dim_key")))
    )


def company_triples(companies: DataFrame) -> DataFrame:
    subj, entries = _company_exprs()
    return _emit(companies, subj, list(entries))


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
    entries = (
        (F.lit(True), _t("rdf:type", F.lit("efin:Company"))),
        (F.col("cik") != "", _t("efin:hasCIK", F.lpad("cik", 10, "0"), True)),
        (sym != "", _t("efin:hasTicker", ttl_escape_col(sym), True)),
        (F.col("name") != "", _t("efin:hasCompanyName", ttl_escape_col(F.col("name")), True)),
        (F.col("sic") != "", _t("efin:hasSIC", ttl_escape_col(F.col("sic")), True)),
        (F.col("sic_description") != "", _t("efin:hasSICDescription", ttl_escape_col(F.col("sic_description")), True)),
        (F.col("fye") != "", _t("efin:hasFiscalYearEnd", ttl_escape_col(F.col("fye")), True)),
        (F.col("sector") != "", _t("efin:inSector", F.concat(F.lit("efin:Sector"), iri_camel_case_col(F.col("sector"))))),
        (F.col("industry") != "", _t("efin:inIndustry", F.concat(F.lit("efin:Industry"), iri_camel_case_col(F.col("industry"))))),
    )
    return subj, entries


def entity_dim_triples(companies: DataFrame) -> DataFrame:
    """Sector / Industry instance + inSectorOf triples
    (select_xbrl_tags.py:211-231)."""
    sec = _camel_dim(companies, "sector").select(
        F.concat(F.lit("efin:Sector"), F.col("camel")).alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.lit("efin:Sector").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    # industry -> sector of its first (lowest-cik) company with a sector
    ind_sec = (
        companies.where((F.col("industry") != "") & (F.col("sector") != ""))
        .groupBy("industry")
        .agg(F.min_by("sector", "cik").alias("sector"))
    )
    ind_dim = _camel_dim(companies, "industry")
    ind = ind_dim.join(
        ind_sec, ind_dim["_dim_key"] == ind_sec["industry"], "left"
    )
    ind_type = ind.select(
        F.concat(F.lit("efin:Industry"), F.col("camel")).alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.lit("efin:Industry").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    ind_sec_t = ind.where(F.col("sector").isNotNull()).select(
        F.concat(F.lit("efin:Industry"), F.col("camel")).alias("subj"),
        F.lit("efin:inSectorOf").alias("pred"),
        F.concat(F.lit("efin:Sector"),
                 iri_camel_case_col(F.col("sector"))).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    return sec.unionByName(ind_type).unionByName(ind_sec_t)


@functools.lru_cache(maxsize=1)
def _obs_exprs():
    """Pure expression fragments of the observation family (see
    _company_exprs for the memoization rationale)."""
    from ..functions.dates import parse_date_col
    from ..functions.iri import py_round6_col

    # the guard tests the raw value natively: the %.6f round trip maps
    # null/NaN to null and every other double to a non-null one, so it
    # keeps the same rows as a guard on the rounded value, and the
    # computedFromMetric branch, which filters on it, runs no UDF
    v = F.col("value")
    keep = (
        (F.col("cik") != "") & (F.col("metric") != "")
        & F.col("fy").isNotNull()
        & F.col("period_type").isin("duration", "instant")
        & v.isNotNull() & ~F.isnan(v)
    )
    vrepr = py_float_repr_col(py_round6_col(v))
    end_d = parse_date_col(F.col("end"))
    end_nonempty = F.col("end").isNotNull() & (F.col("end") != "")
    quarter = F.when(
        F.upper(F.coalesce(F.col("form"), F.lit(""))).contains("10-Q")
        & end_nonempty & F.col("end_d").isNotNull(),
        F.floor((F.month("end_d") + 2) / 3).cast("int"),
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
    entries = (
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
    )
    return keep, vrepr, end_d, quarter, subj, entries


def observation_triples(obs: DataFrame) -> DataFrame:
    """Observation family (select_xbrl_tags.py:235-400) over the
    CSV-rounded value view."""
    keep, vrepr, end_d, quarter, subj, entries = _obs_exprs()
    o = (
        obs.where(keep)
        .withColumn("vrepr", vrepr)
        .withColumn("end_d", end_d)
    )
    o = o.withColumn("quarter", quarter)
    base = _emit(o, subj, list(entries))

    # computedFromMetric edges (whitelisted; select_xbrl_tags.py:374-397)
    cf = (
        o.where(F.col("is_derived") & (F.col("computed_from") != ""))
        .select(
            subj.alias("subj"),
            F.explode(parse_computed_from_col(F.col("computed_from"))).alias("m"),
        )
        .where(F.col("m").isin(*COMPUTED_FROM_WHITELIST))
        .select(
            "subj",
            F.lit("efin:computedFromMetric").alias("pred"),
            F.concat(F.lit("efin:"), iri_safe_col(F.col("m"))).alias("obj"),
            F.lit(False).alias("obj_is_literal"),
            F.lit(None).cast("string").alias("obj_dtype"),
        )
    )
    return base.unionByName(cf)


def instance_dim_triples(obs: DataFrame) -> DataFrame:
    """Unit / Currency / XBRLConcept instance blocks
    (select_xbrl_tags.py:402-431)."""
    valid = obs.where(
        (F.col("cik") != "") & (F.col("metric") != "")
        & F.col("period_type").isin("duration", "instant")
        & F.col("value").isNotNull()
    )
    units = _camel_dim(valid, "unit")
    unit_t = units.select(
        F.concat(F.lit("efin:Unit"), F.col("camel")).alias("subj"),
        F.lit("rdf:type").alias("pred"), F.lit("efin:Unit").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    cur = (
        valid.select(F.upper("unit").alias("uu")).distinct()
        .where(F.col("uu").isin(*CURRENCY_CODES))
    )
    cur_t = cur.select(
        F.concat(F.lit("efin:Currency"), F.col("uu")).alias("subj"),
        F.lit("rdf:type").alias("pred"), F.lit("efin:Currency").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    qn = (
        valid.select(F.trim("selected_tag").alias("qname")).distinct()
        .where(F.col("qname") != "")
    )
    ns_expr = None
    for prefix, ns in NAMESPACE_MAP.items():
        cond = F.split(F.col("qname"), ":").getItem(0) == prefix
        ns_expr = F.when(cond, ns) if ns_expr is None else ns_expr.when(cond, ns)
    ns_expr = F.when(~F.col("qname").contains(":"), F.lit("")).otherwise(
        ns_expr.otherwise(
            F.concat(F.lit("http://example.org/"),
                     F.split(F.col("qname"), ":").getItem(0), F.lit("/"))
        )
    )
    qn = qn.withColumn("ns", ns_expr).withColumn(
        "subj", F.concat(F.lit("efin:XBRLConcept"), iri_safe_col(F.col("qname")))
    )
    entries = [
        (F.lit(True), _t("rdf:type", F.lit("efin:XBRLConcept"))),
        (F.lit(True), _t("efin:hasQName", ttl_escape_col(F.col("qname")), True)),
        (F.col("ns") != "", _t("efin:hasNamespace", ttl_escape_col(F.col("ns")), True, "xsd:anyURI")),
    ]
    qn_t = _emit(qn, F.col("subj"), entries)
    return unit_t.unionByName(cur_t).unionByName(qn_t)


def benchmark_triples(
    benchmarks: DataFrame, include_industry_scope: bool = False,
) -> DataFrame:
    """Benchmark family (select_xbrl_tags.py:433-489)."""
    b = benchmarks
    if not include_industry_scope:
        b = b.where(F.col("industry") == "")
    subj, repr_cols, entries = _benchmark_exprs()
    for col, expr in repr_cols:
        b = b.withColumn(f"{col}_r", expr)
    return _emit(b, subj, list(entries))


@functools.lru_cache(maxsize=1)
def _benchmark_exprs():
    """Pure expression fragments of the benchmark family (see
    _company_exprs for the memoization rationale)."""
    scoped = F.col("industry") != ""
    ind_camel = iri_camel_case_col(F.col("industry"))
    met_camel = iri_camel_case_col(F.col("metric"))
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
    entries = [
        (F.lit(True), _t("rdf:type", F.when(scoped, "efin:IndustryBenchmark").otherwise("efin:AllBenchmark"))),
        (scoped, _t("efin:forIndustry", F.concat(F.lit("efin:Industry"), ind_camel))),
        (~scoped, _t("efin:forSector", F.lit("efin:SectorAll"))),
        (F.lit(True), _t("efin:forMetric", F.concat(F.lit("efin:"), iri_safe_col(F.col("metric"))))),
        (F.lit(True), _t("efin:forFiscalYear", F.col("fy").cast("string"), True, "xsd:integer")),
    ]
    for col, pred in stats:
        entries.append((F.col(col).isNotNull(), _t(pred, F.col(f"{col}_r"), True, "xsd:double")))
    entries.append((
        F.col("sample_size").isNotNull(),
        _t("efin:hasSampleSize", F.col("sample_size").cast("string"), True, "xsd:integer"),
    ))
    return subj, repr_cols, tuple(entries)


def ranking_triples(
    rankings: DataFrame,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
) -> DataFrame:
    """TopRanking family + hasRanking backlinks
    (select_xbrl_tags.py:491-609). Top10 only; industry/sector scopes
    gated except for Composite."""
    r = rankings.where(F.col("ranking_type") == "Top10")
    scoped_ind = F.col("industry") != ""
    scoped_sec = (F.col("industry") == "") & (F.col("sector") != "")
    if not include_industry_scope:
        r = r.where(~scoped_ind | (F.col("metric") == "Composite"))
    if not include_sector_scope:
        r = r.where(~scoped_sec | (F.col("metric") == "Composite"))
    subj, value_r, score_r, entries = _ranking_exprs()
    r = r.withColumn("value_r", value_r).withColumn("score_r", score_r)
    blocks = _emit(r, subj, list(entries))
    backlinks = r.select(
        F.concat(F.lit("efin:CIK"), F.lpad("cik", 10, "0")).alias("subj"),
        F.lit("efin:hasRanking").alias("pred"),
        subj.alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    return blocks.unionByName(backlinks)


@functools.lru_cache(maxsize=1)
def _ranking_exprs():
    """Pure expression fragments of the ranking family (see
    _company_exprs for the memoization rationale)."""
    scoped_ind = F.col("industry") != ""
    scoped_sec = (F.col("industry") == "") & (F.col("sector") != "")
    cik10 = F.lpad("cik", 10, "0")
    fy_s = F.col("fy").cast("string")
    ind_camel = iri_camel_case_col(F.col("industry"))
    sec_camel = iri_camel_case_col(F.col("sector"))
    met_camel = iri_camel_case_col(F.col("metric"))
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
    value_r = py_float_repr_col(F.col("value"))
    score_r = py_float_repr_col(F.col("composite_score"))
    cls = F.when(scoped_ind, "efin:IndustryTopRanking").otherwise("efin:AllTopRanking")
    entries = (
        (F.lit(True), _t("rdf:type", cls)),
        (scoped_ind, _t("efin:forIndustry", F.concat(F.lit("efin:Industry"), ind_camel))),
        (scoped_sec, _t("efin:forSector", F.concat(F.lit("efin:Sector"), sec_camel))),
        (~scoped_ind & ~scoped_sec, _t("efin:forSector", F.lit("efin:SectorAll"))),
        (F.lit(True), _t("efin:forMetric", F.concat(F.lit("efin:"), iri_safe_col(F.col("metric"))))),
        (F.lit(True), _t("efin:forFiscalYear", fy_s, True, "xsd:integer")),
        (F.lit(True), _t("efin:hasRankingType", F.lit("Top10"), True)),
        (F.lit(True), _t("efin:hasRank", F.col("rank").cast("string"), True, "xsd:integer")),
        (finite(F.col("value")), _t("efin:hasRankingValue", F.col("value_r"), True, "xsd:double")),
        (finite(F.col("composite_score")), _t("efin:hasCompositeScore", F.col("score_r"), True, "xsd:double")),
    )
    return subj, value_r, score_r, entries


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
    concepts) — our dim families are built with distinct() already, and
    the big families (company/observation/ranking) are unique by
    construction (one block per key), so no global shuffle-dedup is
    needed; only the bounded dim families get a safety dropDuplicates
    (SectorAll could collide with a literal 'All' sector)."""
    parts = [
        company_triples(companies),
        global_family_triples(
            observations, companies, benchmarks, rankings,
            include_industry_scope, include_sector_scope,
        ),
        observation_triples(observations),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


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
    the SectorAll/dim rules live in exactly one place."""
    # The SectorAll row is derived LAZILY inside the plan instead of
    # via a driver probe of the benchmark and ranking frames for an
    # all-market row: the probe was a ~1.4s action on the build_triples
    # critical path (per family), while a 1-row flag aggregate unioned
    # into the dim family folds into whatever action consumes the
    # triples. (The Turtle writer keeps its driver flag — there it is
    # already folded into the one-job family summaries.)
    out = entity_dim_triples(companies).unionByName(
        instance_dim_triples(observations))
    flag_parts = [
        fam.select(F.max(
            F.when((F.col("industry") == "") & (F.col("sector") == ""), 1)
            .otherwise(0)
        ).alias("f"))
        for fam in (benchmarks, rankings) if fam is not None
    ]
    if flag_parts:
        need = flag_parts[0]
        for fp in flag_parts[1:]:
            need = need.unionByName(fp)
        sector_all = (
            need.agg(F.max("f").alias("f")).where(F.col("f") == 1)
            .select(
                F.lit("efin:SectorAll").alias("subj"),
                F.lit("rdf:type").alias("pred"),
                F.lit("efin:Sector").alias("obj"),
                F.lit(False).alias("obj_is_literal"),
                F.lit(None).cast("string").alias("obj_dtype"),
            )
        )
        out = out.unionByName(sector_all)
    out = out.dropDuplicates(["subj", "pred", "obj"])
    if benchmarks is not None:
        out = out.unionByName(benchmark_triples(
            benchmarks, include_industry_scope))
    if rankings is not None:
        out = out.unionByName(ranking_triples(
            rankings, include_industry_scope, include_sector_scope))
    return out
