"""Candidate selection: the reference's per-company fallback ladders as
ONE set-oriented Spark pass.

Reference shape (select_xbrl_tags.py:1813-1916): for each company ×
metric, loop widen ∈ (0,60,120,180) × candidates × pick_best_annual
(pass1 fp∈FY/CY/FYR → pass2 qtrs==4 → pass3 lenient, each smart_pick =
argmax(-dist+5·fp_bonus, end)), early-exiting at the first widen level
with any hit, then argmax candidate score. Prior-year growth inputs
(select_xbrl_tags.py:2030-2195) first try a relaxed pick (no sector
gate, first candidate in list order with any record near the prior
fiscal end), then fall back to the standard ladder at fy-1 over
escalating base tolerances.

Each pass is a row of the spec table, not a code path: `kind`
(standard | relaxed), `ladder` (base-tolerance steps) and `prec` (pass
precedence within a spec_id).

Set-oriented equivalence of a standard pass (proved by the early-exit
structure, not by score monotonicity — the widen penalty is a flat
0.02):
  1. admit a record iff dist ≤ tol+max(ladder)+180 (the widest rung);
  2. step* = the first ladder step whose widest rung admits d_min, and
     w* = the first widen rung admitting d_min within step* — because
     tolerance windows are nested, the ladder's first hit happens
     exactly there;
  3. eligible = records admitted at (step*, w*); per-qname pass = min
     pass rank among eligible; per-qname winner = argmax(smart score,
     end, pool order); per-spec winner = argmax(candidate score, end,
     list order).
A relaxed pass keeps the first candidate with any record in its window
and picks the record nearest the prior fiscal end. The final argmax per
(cik, spec_id) orders by `prec` first, so a fallback row only wins when
no earlier pass produced one.

Physical plan: facts ⋈ broadcast(candidates × specs) ⋈
broadcast(companies) → window functions over (cik, spec_id, prec[,
qname]) and a final (cik, spec_id) argmax. One join, one shuffle —
every window shares the (cik, spec_id) partitioning — no per-company
loops, no UDFs.

At 10^12-row scale: the fact table arrives hash-partitioned by cik
bucket, the candidate/spec/company sides are broadcast, and AQE
handles head-company skew on the window shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.dates import fiscal_anchor_cols, parse_date_col
from ..functions.scoring import clamp01, score_adj_col, typ_bonus_col
from ..vocab.candidates import candidates_df

WIDEN_RUNGS = (0, 60, 120, 180)


def specs_df(spark, specs: list[dict]) -> DataFrame:
    """specs: [{spec_id, metric, fy, tol_days, period_type[, kind,
    ladder, prec]}]; kind defaults to "standard", ladder to [0] and
    prec to 0."""
    from pyspark.sql.types import (
        ArrayType, IntegerType, StringType, StructField, StructType,
    )

    schema = StructType([
        StructField("spec_id", StringType(), False),
        StructField("metric", StringType(), False),
        StructField("fy", IntegerType(), False),
        StructField("tol_days", IntegerType(), False),
        StructField("period_type", StringType(), False),
        StructField("kind", StringType(), False),
        StructField("ladder", ArrayType(IntegerType(), False), False),
        StructField("prec", IntegerType(), False),
    ])
    rows = [
        (s["spec_id"], s["metric"], s["fy"], s["tol_days"], s["period_type"],
         s.get("kind", "standard"), list(s.get("ladder", (0,))),
         s.get("prec", 0))
        for s in specs
    ]
    return spark.createDataFrame(rows, schema)


def _pool_order_cols(prefer_unit: str):
    """Deterministic proxy for the reference's record-pool iteration
    order (prefer_unit first, then unit-map order, then array order —
    select_xbrl_tags.py:1821-1825). Holds exactly when the source JSON
    has sorted unit keys (our readers/fixtures guarantee this);
    otherwise it is our documented deterministic tie-break."""
    return [
        F.when(F.col("unit") == prefer_unit, 0).otherwise(1).asc(),
        F.col("unit").asc(),
        F.col("rec_pos").asc(),
    ]


def _passes_and_smart_score(df: DataFrame) -> DataFrame:
    fp_ok = F.upper(F.coalesce(F.col("fp"), F.lit(""))).isin("FY", "CY", "FYR")
    pass_rank = (
        F.when(F.col("period_type") == "instant", F.lit(1))
        .when(fp_ok, F.lit(1))
        .when(F.col("qtrs") == 4, F.lit(2))
        .otherwise(F.lit(3))
    )
    # smart_pick score: -distance + 5 if the record's own fp is FY-like
    # (select_xbrl_tags.py:1517)
    smart = -F.col("dist") + F.when(fp_ok, F.lit(5)).otherwise(F.lit(0))
    typ = F.when(F.col("period_type") == "instant", F.lit("instant")).otherwise(
        F.when(F.col("pass_rank") == 1, "annual")
        .when(F.col("pass_rank") == 2, "ytd-q4")
        .otherwise("lenient")
    )
    out = df.withColumn("fp_ok", fp_ok).withColumn("pass_rank", pass_rank)
    out = out.withColumn("smart_score", smart).withColumn("typ", typ)
    # ytd-q4 selections report fp="FY" downstream (select_xbrl_tags.py:1838)
    out = out.withColumn(
        "fp_eff", F.when(F.col("typ") == "ytd-q4", F.lit("FY")).otherwise(F.col("fp"))
    )
    return out


def select_candidates(
    facts: DataFrame,
    companies: DataFrame,
    specs: DataFrame,
    prefer_unit: str = "USD",
) -> DataFrame:
    """Every (company, spec) pick of every pass at once: one argmax per
    (cik, spec_id) over the spec rows' passes (see module docstring)."""
    cands = candidates_df(facts.sparkSession)
    cand_specs = specs.join(F.broadcast(cands), "metric")
    comp = companies.select("cik", "sector", "fye")
    std = F.col("kind") == "standard"
    j = (
        facts.join(F.broadcast(cand_specs), "qname")
        .join(F.broadcast(comp), "cik")
        .where(
            ~std
            | F.col("industry_only").isNull()
            | F.array_contains(F.col("industry_only"), F.col("sector"))
        )
        .withColumn("end_d", parse_date_col(F.col("end")))
        .where(F.col("end_d").isNotNull() & F.col("val").isNotNull())
    )

    # standard: distance to the nearer fiscal end of fy / fy+1, admitted
    # up to the widest rung of the last ladder step; relaxed: inside the
    # ±180d window around the fy-2..fy ends, distance to the fy-1 end
    a1, a2 = fiscal_anchor_cols(F.col("fy"), F.col("fye"))
    p2, p1 = fiscal_anchor_cols(F.col("fy") - 2, F.col("fye"))
    j = j.withColumn(
        "dist",
        F.when(std, F.least(F.abs(F.datediff("end_d", a1)),
                            F.abs(F.datediff("end_d", a2))))
        .otherwise(F.abs(F.datediff("end_d", p1))),
    ).where(
        F.when(std, F.col("dist") <= F.col("tol_days")
               + F.array_max("ladder") + 180)
        .otherwise(F.col("end_d").between(
            F.date_add(p2, 1 - 180), F.date_add(a1, 180)
        ))
    )

    # every window below is keyed by a (cik, spec_id) prefix: shuffle
    # once on it, or Catalyst would add a second exchange for the
    # final argmax
    j = j.repartition("cik", "spec_id")
    w_pass = Window.partitionBy("cik", "spec_id", "prec")
    j = j.withColumn("d_min", F.min("dist").over(w_pass)).withColumn(
        "cand_win", F.min("cand_ord").over(w_pass)
    )
    # step* = first ladder step whose widest rung admits d_min;
    # w* = first widen rung admitting d_min within step*
    j = j.withColumn("step_star", F.when(std, F.filter(
        "ladder",
        lambda s: F.col("d_min") <= F.col("tol_days") + s + 180,
    )[0]))
    w_expr = None
    for w in WIDEN_RUNGS:
        cond = F.col("d_min") <= F.col("tol_days") + F.col("step_star") + F.lit(w)
        w_expr = F.when(cond, F.lit(w)) if w_expr is None else w_expr.when(cond, F.lit(w))
    j = j.withColumn("w_star", w_expr).where(
        F.when(std, F.col("dist") <= F.col("tol_days") + F.col("step_star")
               + F.col("w_star"))
        .otherwise(F.col("cand_ord") == F.col("cand_win"))
    )

    j = _passes_and_smart_score(j)

    # per-qname: keep only the best pass present, then the record pick —
    # standard: smart_pick argmax (score, end); relaxed: strict min
    # distance; ties keep the earliest pool record
    w_qname = Window.partitionBy("cik", "spec_id", "prec", "qname")
    j = j.withColumn("min_pass", F.min("pass_rank").over(w_qname)).where(
        F.col("pass_rank") == F.col("min_pass")
    )
    rec_rank = F.row_number().over(
        w_qname.orderBy(
            F.when(std, F.col("smart_score")).otherwise(-F.col("dist")).desc(),
            F.when(std, F.col("end_d")).desc(),
            *_pool_order_cols(prefer_unit),
        )
    )
    j = j.withColumn("rec_rank", rec_rank).where(F.col("rec_rank") == 1)

    # candidate score + per-spec argmax, earliest pass first (round to
    # absorb float-order noise; the reference compares with
    # math.isclose, select_xbrl_tags.py:1890). A relaxed row subtracts
    # a zero widen penalty, then its flat 0.05.
    score = (
        F.col("base_score")
        + F.when(F.col("period_type") == "instant", F.lit(0.0)).otherwise(
            typ_bonus_col(F.col("typ"))
        )
        + score_adj_col(
            F.col("form"), F.col("unit"), F.col("fp_eff"), F.col("has_segment")
        )
        - F.when(F.col("w_star") > 0, F.lit(0.02)).otherwise(F.lit(0.0))
        - F.when(std, F.lit(0.0)).otherwise(F.lit(0.05))
    )
    j = j.withColumn("score", score)
    cand_rank = F.row_number().over(
        Window.partitionBy("cik", "spec_id").orderBy(
            F.col("prec").asc(),
            F.round(F.col("score"), 9).desc(),
            F.col("end_d").desc(),
            F.col("cand_ord").asc(),
        )
    )
    j = j.withColumn("cand_rank", cand_rank).where(F.col("cand_rank") == 1)

    return j.select(
        "cik", "spec_id", "metric",
        F.col("typ").alias("source_type"),
        "qname",
        F.col("val").alias("value"),
        "unit", "end", "form", "accn",
        clamp01(F.col("score")).alias("confidence"),
    )


def select_direct_growth(
    facts: DataFrame,
    companies: DataFrame,
    fy: int,
    fy_tol_days: int = 90,
    prefer_unit: str = "USD",
) -> DataFrame:
    """Direct-growth QName mining + best-record pick
    (_mine_direct_growth_candidates / _direct_growth_pick,
    select_xbrl_tags.py:1757-1766, 2197-2213).

    Output: one row per (cik, growth_metric) with the best direct tag:
    (cik, gmetric, qname, value, unit, end, form, accn, score).
    """
    from ..vocab.growth_patterns import (
        DIRECT_GROWTH_BLACKLIST, DIRECT_GROWTH_PATTERNS,
    )

    spark = facts.sparkSession
    pat_rows = [
        (gm, "(?i)" + "|".join(f"(?:{p})" for p in pats),
         fy_tol_days + 30 if gm != "AssetGrowthRate" else 120)
        for gm, pats in DIRECT_GROWTH_PATTERNS.items()
    ]
    pats = spark.createDataFrame(pat_rows, "gmetric string, pattern string, tol int")

    j = facts.join(F.broadcast(pats), F.expr("qname rlike pattern"))
    bl = F.upper(F.col("qname"))
    for kw in DIRECT_GROWTH_BLACKLIST:
        j = j.where(~bl.contains(kw.upper()))

    comp = companies.select("cik", "fye")
    j = (
        j.join(F.broadcast(comp), "cik")
        .withColumn("end_d", parse_date_col(F.col("end")))
        .where(F.col("end_d").isNotNull() & F.col("val").isNotNull())
        .withColumn("period_type", F.lit("duration"))
    )
    a1, a2 = fiscal_anchor_cols(F.lit(fy), F.col("fye"))
    j = j.withColumn(
        "dist",
        F.least(F.abs(F.datediff("end_d", a1)), F.abs(F.datediff("end_d", a2))),
    ).where(F.col("dist") <= F.col("tol"))

    # one shuffle serves both window keys below
    j = _passes_and_smart_score(j).repartition("cik", "gmetric")
    w_qname = Window.partitionBy("cik", "gmetric", "qname")
    j = j.withColumn("min_pass", F.min("pass_rank").over(w_qname)).where(
        F.col("pass_rank") == F.col("min_pass")
    )
    rec_rank = F.row_number().over(
        w_qname.orderBy(
            F.col("smart_score").desc(), F.col("end_d").desc(),
            *_pool_order_cols(prefer_unit),
        )
    )
    j = j.withColumn("rec_rank", rec_rank).where(F.col("rec_rank") == 1)

    # score 0.90 + typ bonus + score_adj (select_xbrl_tags.py:2208-2209)
    score = (
        F.lit(0.90)
        + typ_bonus_col(F.col("typ"))
        + score_adj_col(F.col("form"), F.col("unit"), F.col("fp_eff"),
                        F.col("has_segment"))
    )
    j = j.withColumn("score", score)
    # strict > argmax over mined qnames; mined order == facts-dict order
    # == sorted qname in our fixtures -> qname asc tie-break
    w_g = Window.partitionBy("cik", "gmetric")
    g_rank = F.row_number().over(
        w_g.orderBy(F.round(F.col("score"), 9).desc(), F.col("qname").asc())
    )
    j = j.withColumn("g_rank", g_rank).where(F.col("g_rank") == 1)

    return j.select(
        "cik", "gmetric", "qname",
        F.col("val").alias("value"),
        "unit", "end", "form", "accn", "score",
    )
