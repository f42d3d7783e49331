"""Distributed triple generation — the canonical (subj, pred, obj)
semantic store (TRIPLES_SCHEMA), partition-friendly at 10^12 scale.

Mirrors emit_efin_ttl's block families (select_xbrl_tags.py:96-612) as
DataFrame transforms. The only Python in the big-table path is the
Arrow-batched repr(float) UDF for xsd:double lexical forms (byte parity
with Python float repr); every IRI camel-casing runs on tiny distinct
dimension frames and is broadcast back.

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


def _camel_dim(df: DataFrame, col: str, key: str = "_dim_key",
               camel_map=None) -> DataFrame:
    """distinct values of `col` + their CamelCase IRIs (tiny frame).
    The join key column gets a collision-free name (`key`). With a
    `camel_map` literal (see _camel_value_map) the camel casing is a
    map lookup instead of an ArrowEvalPython stage — same values."""
    d = (
        df.select(F.col(col).alias(key))
        .where((F.col(key) != "") & F.col(key).isNotNull())
        .distinct()
    )
    if camel_map is not None:
        return d.withColumn("camel", F.element_at(camel_map, F.col(key)))
    return d.withColumn("camel", iri_camel_case_col(F.col(key)))


# dim-value count above which the literal-map fast path is abandoned
# for the original broadcast-dim-join path. The camelable dims are
# business dimensions (sectors / industries / units / benchmark
# metrics) — bounded by construction; the cap turns "bounded by
# construction" into "bounded by contract" the same way
# connected_components' driver_cap does.
CAMEL_MAP_CAP = 50_000


def _camel_value_map(sources: list[tuple[DataFrame, str]],
                     cap: int = CAMEL_MAP_CAP):
    """ONE job collecting every distinct camelable dim value across
    `sources`, returned as a literal value->CamelCase map Column
    (iri_camel_case is the same Python function the pandas-UDF path
    applies, so lexical forms are identical). Returns None when the
    value count exceeds `cap` — callers fall back to the per-family
    broadcast-dim-join path.

    Why (guide §2.4 remove shuffles): build_triples ran ~12 _camel_dim
    legs, each a distinct Exchange + an ArrowEvalPython + a broadcast
    exchange + a join — all to attach a pure function of a bounded
    value set. One bounded collect + a literal map turns every leg
    into a column expression."""
    from ..functions.iri import iri_camel_case

    parts = None
    for df, col in sources:
        p = df.select(F.col(col).cast("string").alias("v")).where(
            F.col("v").isNotNull() & (F.col("v") != ""))
        parts = p if parts is None else parts.unionByName(p)
    rows = parts.distinct().limit(cap + 1).collect()
    if len(rows) > cap:
        return None
    vals = sorted(r["v"] for r in rows)
    ks = F.array(*[F.lit(v) for v in vals]).cast("array<string>")
    vs = F.array(*[F.lit(iri_camel_case(v)) for v in vals]) \
        .cast("array<string>")
    return F.map_from_arrays(ks, vs)


def company_triples(companies: DataFrame, camel_map=None) -> DataFrame:
    if camel_map is not None:
        c = companies.withColumn(
            "sector_camel", F.element_at(camel_map, F.col("sector"))
        ).withColumn(
            "industry_camel", F.element_at(camel_map, F.col("industry"))
        )
    else:
        sec_dim = _camel_dim(companies, "sector")
        ind_dim = _camel_dim(companies, "industry")
        c = (
            companies.join(
                F.broadcast(
                    sec_dim.withColumnRenamed("camel", "sector_camel")),
                companies["sector"] == sec_dim["_dim_key"], "left",
            ).drop("_dim_key")
            .join(
                F.broadcast(
                    ind_dim.withColumnRenamed("camel", "industry_camel")),
                companies["industry"] == ind_dim["_dim_key"], "left",
            ).drop("_dim_key")
        )
    subj, entries = _company_exprs()
    return _emit(c, subj, list(entries))


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
        (F.col("sector") != "", _t("efin:inSector", F.concat(F.lit("efin:Sector"), F.col("sector_camel")))),
        (F.col("industry") != "", _t("efin:inIndustry", F.concat(F.lit("efin:Industry"), F.col("industry_camel")))),
    )
    return subj, entries


def entity_dim_triples(companies: DataFrame, needs_sector_all: bool,
                       camel_map=None) -> DataFrame:
    """Sector / Industry instance + inSectorOf triples
    (select_xbrl_tags.py:211-231)."""
    spark = companies.sparkSession
    sec = _camel_dim(companies, "sector", camel_map=camel_map).select(
        F.concat(F.lit("efin:Sector"), F.col("camel")).alias("subj"),
        F.lit("rdf:type").alias("pred"),
        F.lit("efin:Sector").alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    out = sec
    if needs_sector_all:
        out = out.unionByName(spark.createDataFrame(
            [("efin:SectorAll", "rdf:type", "efin:Sector", False, None)],
            sec.schema,
        ))
    # industry -> sector of its first (lowest-cik) company with a sector
    ind_sec = (
        companies.where((F.col("industry") != "") & (F.col("sector") != ""))
        .groupBy("industry")
        .agg(F.min_by("sector", "cik").alias("sector"))
    )
    ind_dim = _camel_dim(companies, "industry", camel_map=camel_map)
    ind = ind_dim.join(
        ind_sec, ind_dim["_dim_key"] == ind_sec["industry"], "left"
    )
    if camel_map is not None:
        ind = ind.withColumn(
            "sec_camel", F.element_at(camel_map, F.col("sector")))
    else:
        sec_dim = _camel_dim(companies, "sector") \
            .withColumnRenamed("camel", "sec_camel") \
            .withColumnRenamed("_dim_key", "_sec_key")
        ind = ind.join(
            F.broadcast(sec_dim),
            F.col("sector") == sec_dim["_sec_key"], "left",
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
        F.concat(F.lit("efin:Sector"), F.col("sec_camel")).alias("obj"),
        F.lit(False).alias("obj_is_literal"),
        F.lit(None).cast("string").alias("obj_dtype"),
    )
    return out.unionByName(ind_type).unionByName(ind_sec_t)


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
        (F.col("unit") != "", _t("efin:hasUnit", F.concat(F.lit("efin:Unit"), F.col("unit_camel")))),
        (uu.isin(*CURRENCY_CODES), _t("efin:hasCurrency", F.concat(F.lit("efin:Currency"), uu))),
        (F.lit(True), _t("efin:hasNumericValue", F.col("vrepr"), True, "xsd:double")),
        (F.lit(True), _t("efin:isDerived", F.when(F.col("is_derived"), "true").otherwise("false"), True, "xsd:boolean")),
        (tag != "", _t("efin:hasXbrlConcept", F.concat(F.lit("efin:XBRLConcept"), iri_safe_col(tag)))),
        (F.col("source_type") != "", _t("efin:hasSourceType", ttl_escape_col(F.col("source_type")), True)),
    )
    return keep, vrepr, end_d, quarter, subj, entries


def observation_triples(obs: DataFrame, camel_map=None) -> DataFrame:
    """Observation family (select_xbrl_tags.py:235-400) over the
    CSV-rounded value view."""
    if camel_map is not None:
        o = obs.withColumn(
            "unit_camel", F.element_at(camel_map, F.col("unit")))
    else:
        unit_dim = _camel_dim(obs, "unit") \
            .withColumnRenamed("camel", "unit_camel")
        o = obs.join(
            F.broadcast(unit_dim), obs["unit"] == unit_dim["_dim_key"],
            "left",
        ).drop("_dim_key")

    keep, vrepr, end_d, quarter, subj, entries = _obs_exprs()
    o = (
        o.where(keep)
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


def instance_dim_triples(obs: DataFrame, camel_map=None) -> DataFrame:
    """Unit / Currency / XBRLConcept instance blocks
    (select_xbrl_tags.py:402-431)."""
    valid = obs.where(
        (F.col("cik") != "") & (F.col("metric") != "")
        & F.col("period_type").isin("duration", "instant")
        & F.col("value").isNotNull()
    )
    units = _camel_dim(valid, "unit", camel_map=camel_map)
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
    camel_map=None,
) -> DataFrame:
    """Benchmark family (select_xbrl_tags.py:433-489)."""
    b = benchmarks
    if not include_industry_scope:
        b = b.where(F.col("industry") == "")
    if camel_map is not None:
        b = b.withColumn(
            "ind_camel", F.element_at(camel_map, F.col("industry"))
        ).withColumn(
            "met_camel", F.element_at(camel_map, F.col("metric"))
        )
    else:
        ind_dim = _camel_dim(b, "industry") \
            .withColumnRenamed("camel", "ind_camel")
        met_dim = _camel_dim(b, "metric") \
            .withColumnRenamed("camel", "met_camel")
        b = (
            b.join(F.broadcast(ind_dim),
                   b["industry"] == ind_dim["_dim_key"], "left")
            .drop("_dim_key")
            .join(F.broadcast(met_dim),
                  b["metric"] == met_dim["_dim_key"], "left")
            .drop("_dim_key")
        )
    subj, repr_cols, entries = _benchmark_exprs()
    for col, expr in repr_cols:
        b = b.withColumn(f"{col}_r", expr)
    return _emit(b, subj, list(entries))


@functools.lru_cache(maxsize=1)
def _benchmark_exprs():
    """Pure expression fragments of the benchmark family (see
    _company_exprs for the memoization rationale)."""
    scoped = F.col("industry") != ""
    subj = F.when(
        scoped,
        F.concat(F.lit("efin:IndustryBenchmark"), F.col("ind_camel"),
                 F.col("met_camel"), F.col("fy").cast("string")),
    ).otherwise(
        F.concat(F.lit("efin:AllBenchmark"), F.col("met_camel"),
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
        (scoped, _t("efin:forIndustry", F.concat(F.lit("efin:Industry"), F.col("ind_camel")))),
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
    camel_map=None,
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
    if camel_map is not None:
        r = (
            r.withColumn("ind_camel",
                         F.element_at(camel_map, F.col("industry")))
            .withColumn("sec_camel",
                        F.element_at(camel_map, F.col("sector")))
            .withColumn("met_camel",
                        F.element_at(camel_map, F.col("metric")))
        )
    else:
        ind_dim = _camel_dim(r, "industry") \
            .withColumnRenamed("camel", "ind_camel")
        sec_dim = _camel_dim(r, "sector") \
            .withColumnRenamed("camel", "sec_camel")
        met_dim = _camel_dim(r, "metric") \
            .withColumnRenamed("camel", "met_camel")
        r = (
            r.join(F.broadcast(ind_dim),
                   r["industry"] == ind_dim["_dim_key"], "left")
            .drop("_dim_key")
            .join(F.broadcast(sec_dim),
                  r["sector"] == sec_dim["_dim_key"], "left")
            .drop("_dim_key")
            .join(F.broadcast(met_dim),
                  r["metric"] == met_dim["_dim_key"], "left")
            .drop("_dim_key")
        )
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
    subj = (
        F.when(scoped_ind, F.concat(
            F.lit("efin:TopRanking"), F.col("ind_camel"), F.col("met_camel"),
            F.lit("Top10"), fy_s, cik10))
        .when(scoped_sec, F.concat(
            F.lit("efin:TopRankingSector"), F.col("sec_camel"), F.col("met_camel"),
            F.lit("Top10"), fy_s, cik10))
        .otherwise(F.concat(
            F.lit("efin:TopRankingAll"), F.col("met_camel"),
            F.lit("Top10"), fy_s, cik10))
    )
    finite = lambda c: c.isNotNull() & ~F.isnan(c) & (c != float("inf")) & (c != float("-inf"))  # noqa: E731
    value_r = py_float_repr_col(F.col("value"))
    score_r = py_float_repr_col(F.col("composite_score"))
    cls = F.when(scoped_ind, "efin:IndustryTopRanking").otherwise("efin:AllTopRanking")
    entries = (
        (F.lit(True), _t("rdf:type", cls)),
        (scoped_ind, _t("efin:forIndustry", F.concat(F.lit("efin:Industry"), F.col("ind_camel")))),
        (scoped_sec, _t("efin:forSector", F.concat(F.lit("efin:Sector"), F.col("sec_camel")))),
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
    camel_map = _shared_camel_map(
        observations, companies, benchmarks, rankings
    )
    parts = [
        company_triples(companies, camel_map=camel_map),
        global_family_triples(
            observations, companies, benchmarks, rankings,
            include_industry_scope, include_sector_scope,
            camel_map=camel_map,
        ),
        observation_triples(observations, camel_map=camel_map),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _shared_camel_map(observations, companies, benchmarks, rankings):
    """The one bounded camel map every triple family shares (None over
    cap -> families fall back to their broadcast-dim joins)."""
    sources = [(companies, "sector"), (companies, "industry"),
               (observations, "unit")]
    if benchmarks is not None:
        sources += [(benchmarks, "industry"), (benchmarks, "metric")]
    if rankings is not None:
        sources += [(rankings, "industry"), (rankings, "sector"),
                    (rankings, "metric")]
    return _camel_value_map(sources)


def has_all_market(df: DataFrame) -> bool:
    """True when the frame carries an all-market scope row — one
    partial-agg job instead of a limit(1).count() probe (the probe
    replays the frame's full lineage when it isn't cached)."""
    flag = df.agg(F.max(
        F.when((F.col("industry") == "") & (F.col("sector") == ""), 1)
        .otherwise(0)
    )).first()[0]
    return flag == 1


def global_family_triples(
    observations: DataFrame,
    companies: DataFrame,
    benchmarks: DataFrame | None = None,
    rankings: DataFrame | None = None,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
    camel_map=None,
) -> DataFrame:
    """The BOUNDED global families (entity/instance dims + benchmark +
    ranking triples) as one frame — the piece build_triples and the
    incremental triple-store patcher (plans/incremental.py) share, so
    the SectorAll/dim rules live in exactly one place."""
    # The SectorAll row is derived LAZILY inside the plan instead of
    # via has_all_market() driver probes: the probe was a ~1.4s action
    # on the build_triples critical path (per family), while a 1-row
    # flag aggregate unioned into the dim family folds into whatever
    # action consumes the triples. (The Turtle writer keeps its driver
    # flag — there it is already folded into the one-job family
    # summaries.)
    if camel_map is None:
        camel_map = _shared_camel_map(
            observations, companies, benchmarks, rankings)
    out = entity_dim_triples(
        companies, False, camel_map=camel_map
    ).unionByName(
        instance_dim_triples(observations, camel_map=camel_map)
    )
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
            benchmarks, include_industry_scope, camel_map=camel_map))
    if rankings is not None:
        out = out.unionByName(ranking_triples(
            rankings, include_industry_scope, include_sector_scope,
            camel_map=camel_map))
    return out
