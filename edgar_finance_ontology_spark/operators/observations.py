"""Observation assembly: base metrics + growth + derived formulas.

Reference: the per-company loop select_xbrl_tags.py:2899-2984 plus
compute_growth_set (:2289-2501) and compute_other_derived (:2504-2657).

Spark shape: ONE selection pass (select_candidates) produces every
(company, spec) result — base, relaxed prior-year and fy-1 fallback
picks alike — and the direct-growth miner adds one pick per growth
metric; a pivot per cik yields a wide provenance frame (struct column
per spec); every growth/derived formula is then pure column arithmetic
over that frame; finally the wide frame unpivots into the long
observation table in the reference's emission order. No UDFs, no
driver loops.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..vocab.metrics import (
    DURATION_BASE_METRICS,
    INSTANT_BASE_METRICS,
    METRIC_EMISSION_ORDER,
)
from .selection import select_candidates, select_direct_growth, specs_df

# growth metric -> (base metric, reason label, normalized-using text)
GROWTH_SPEC = {
    "RevenueGrowthYoY": ("Revenue", "Revenue", "revenue"),
    "NetIncomeGrowthYoY": ("NetIncome", "NetIncome", "net income"),
    "CFOGrowthYoY": ("CFO", "CFO", "CFO"),
    "AssetGrowthRate": ("Assets", "Assets", "assets"),
}

RESULT_STRUCT_FIELDS = [
    "source_type", "qname", "value", "unit", "end", "form", "accn", "confidence",
]


def _base_specs(fy: int, tol_days: int) -> list[dict]:
    specs = []
    for m in DURATION_BASE_METRICS:
        specs.append({"spec_id": f"b_{m}", "metric": m, "fy": fy,
                      "tol_days": tol_days, "period_type": "duration"})
    for m in INSTANT_BASE_METRICS:
        specs.append({"spec_id": f"b_{m}", "metric": m, "fy": fy,
                      "tol_days": 120, "period_type": "instant"})
    # Cash is selected only for ROIC (select_xbrl_tags.py:2627)
    specs.append({"spec_id": "b_CashAndCashEquivalents",
                  "metric": "CashAndCashEquivalents", "fy": fy,
                  "tol_days": 120, "period_type": "instant"})
    # prior-year inputs of compute_other_derived
    # (select_xbrl_tags.py:2516-2518, 2580-2582)
    specs.append({"spec_id": "p_Equity", "metric": "Equity", "fy": fy - 1,
                  "tol_days": 120, "period_type": "instant"})
    specs.append({"spec_id": "p_Assets", "metric": "Assets", "fy": fy - 1,
                  "tol_days": 180, "period_type": "instant"})
    specs.append({"spec_id": "p_Inventories", "metric": "Inventories",
                  "fy": fy - 1, "tol_days": 120, "period_type": "instant"})
    specs.append({"spec_id": "p_AccountsReceivable", "metric": "AccountsReceivable",
                  "fy": fy - 1, "tol_days": 120, "period_type": "instant"})
    return specs


def _gprior_specs(fy: int, tol_days: int) -> list[dict]:
    """compute_growth_set's prior-year lookups
    (select_xbrl_tags.py:2298-2305), each as two passes: the relaxed
    pick at fy, then standard selection at fy-1 over the escalating
    base tolerances (_select_prior_year_with_fallback, :2190-2195)."""
    specs = []
    for m, tol, period in (("Revenue", tol_days, "duration"),
                           ("NetIncome", tol_days, "duration"),
                           ("CFO", tol_days, "duration"),
                           ("Assets", 120, "instant")):
        s = {"spec_id": f"g_{m}", "metric": m, "fy": fy, "tol_days": tol,
             "period_type": period}
        specs.append({**s, "kind": "relaxed"})
        specs.append({**s, "fy": fy - 1, "prec": 1,
                      "ladder": (180, 240, 300, 360, 420, 540)})
    return specs


def _pivot_results(results: DataFrame, spec_ids: list[str]) -> DataFrame:
    s = F.struct(*[F.col(f) for f in RESULT_STRUCT_FIELDS])
    return (
        results.withColumn("res", s)
        .groupBy("cik")
        .pivot("spec_id", spec_ids)
        .agg(F.first("res"))
    )


def _ok(s: str):
    return F.col(s).isNotNull()


def _v(s: str):
    return F.col(f"{s}.value")


def _nz(c):
    return c.isNotNull() & (c != 0)


def _prov(s: str, metric_row: dict, unit=None):
    """end/form/accn provenance from one source struct."""
    metric_row["end"] = F.col(f"{s}.end")
    metric_row["form"] = F.col(f"{s}.form")
    metric_row["accn"] = F.col(f"{s}.accn")
    if unit is not None:
        metric_row["unit"] = unit
    return metric_row


def build_wide(facts: DataFrame, companies: DataFrame, fy: int,
               tol_days: int = 90, prefer_unit: str = "USD") -> DataFrame:
    """One row per cik with a struct column per selection spec plus the
    direct-growth picks (dg_<metric> structs)."""
    specs = _base_specs(fy, tol_days) + _gprior_specs(fy, tol_days)
    res = select_candidates(
        facts, companies, specs_df(facts.sparkSession, specs), prefer_unit
    )
    wide = _pivot_results(res, list(dict.fromkeys(s["spec_id"] for s in specs)))

    dg = select_direct_growth(facts, companies, fy, tol_days, prefer_unit)
    dg_struct = F.struct("qname", "value", "unit", "end", "form", "accn", "score")
    dg_wide = (
        dg.withColumn("res", dg_struct)
        .groupBy("cik")
        .pivot("gmetric", list(GROWTH_SPEC))
        .agg(F.first("res"))
    )
    for gm in GROWTH_SPEC:
        dg_wide = dg_wide.withColumnRenamed(gm, f"dg_{gm}")
    return wide.join(dg_wide, "cik", "left")


def _growth_struct(gm: str):
    """compute_growth_set's per-metric decision tree as one column
    expression (select_xbrl_tags.py:2307-2499). Returns a struct
    (value, unit, end, form, accn, source_type, selected_tag,
    computed_from, confidence, reason) or NULL when no growth row."""
    base_metric, hint, norm_text = GROWTH_SPEC[gm]
    cur, prior, d = f"b_{base_metric}", f"g_{base_metric}", f"dg_{gm}"
    v = F.col(f"{d}.value")
    cur_v = _v(cur)
    unit_u = F.upper(F.coalesce(F.col(f"{d}.unit"), F.lit("")))
    qn = F.coalesce(F.col(f"{d}.qname"), F.lit(""))

    def valid(x):
        # _validate_direct_growth_value (select_xbrl_tags.py:2215-2233):
        # called only when cur_v is not None
        return ~(
            (F.abs(x) > 100)
            | ((cur_v != 0) & (F.abs(x) > F.abs(cur_v) * 0.1))
        )

    raw_valid = F.when(cur_v.isNull(), F.lit(True)).otherwise(valid(v))

    is_pct = unit_u.contains("PERCENT") | qn.rlike("(?i)(Percent|Percentage|Rate)")
    r_pct = F.when(F.abs(v) > 1.0, v / 100.0).otherwise(v)
    is_pure = unit_u.isin("PURE", "RATIO", "X")
    r_pure = F.when(F.abs(v) > 5.0, v / 100.0).otherwise(v)
    is_usd = unit_u.startswith("USD")

    def revalid(x):
        return F.when(cur_v.isNull(), F.lit(True)).otherwise(valid(x))

    ratio_direct = (
        F.when(_ok(d) & raw_valid & is_pct & revalid(r_pct), r_pct)
        .when(_ok(d) & raw_valid & ~is_pct & is_pure & revalid(r_pure), r_pure)
        .when(_ok(d) & raw_valid & ~is_pct & ~is_pure & ~is_usd
              & (F.abs(v) <= 5.0), v)
    )
    reason_direct = (
        F.when(is_pct, F.lit(f"direct-growth({hint}) percent→ratio"))
        .when(is_pure, F.lit(f"direct-growth({hint}) pure→ratio"))
        .otherwise(F.lit(f"direct-growth({hint}) ratio(heuristic)"))
    )
    # absolute-delta (USD or large unknown unit) -> normalize from base
    is_absolute = _ok(d) & raw_valid & ~is_pct & ~is_pure & (
        is_usd | (F.abs(v) > 5.0)
    )
    reason_abs = F.when(
        is_usd, F.lit(f"direct-growth({hint}) absolute-delta")
    ).otherwise(F.lit(f"direct-growth({hint}) absolute-delta-unknown"))

    prior_v = _v(prior)
    derived_ratio = F.when(
        cur_v.isNotNull() & prior_v.isNotNull() & (prior_v != 0),
        (cur_v - prior_v) / prior_v,
    )
    form_bonus = F.when(
        F.col(f"{cur}.form").isin("10-K", "20-F")
        & F.col(f"{prior}.form").isin("10-K", "20-F"),
        F.lit(0.04),
    ).otherwise(F.lit(0.0))

    def g_struct(value, unit, end, form, accn, source, tag, cf, conf, reason):
        return F.struct(
            value.alias("value"), unit.alias("unit"), end.alias("end"),
            form.alias("form"), accn.alias("accn"), source.alias("source_type"),
            tag.alias("selected_tag"), cf.alias("computed_from"),
            conf.alias("confidence"), reason.alias("reason"),
        )

    e = F.lit("")
    direct = g_struct(
        ratio_direct, F.lit("ratio"),
        F.coalesce(F.col(f"{d}.end"), _fallback_str(cur, "end")),
        F.coalesce(F.col(f"{d}.form"), _fallback_str(cur, "form")),
        F.coalesce(F.col(f"{d}.accn"), e),
        F.lit("direct-growth"), F.coalesce(qn, e),
        F.lit("direct-growth"), F.lit(0.94), reason_direct,
    )
    normalized = g_struct(
        derived_ratio, F.lit("ratio"),
        F.coalesce(_fallback_str(cur, "end"), F.col(f"{d}.end"), e),
        F.coalesce(_fallback_str(cur, "form"), F.col(f"{d}.form"), e),
        F.coalesce(_fallback_str(cur, "accn"), e),
        F.lit("direct-growth-normalized"), qn,
        F.lit(f"{hint}(cur),{hint}(prior)"),
        F.lit(0.88) + form_bonus,
        F.concat(reason_abs, F.lit(f"; normalized using current/prior {norm_text}")),
    )
    derived = g_struct(
        derived_ratio, F.lit("ratio"),
        F.coalesce(_fallback_str(cur, "end"), e),
        F.coalesce(_fallback_str(cur, "form"), e),
        F.coalesce(_fallback_str(cur, "accn"), e),
        F.lit("derived-growth"), e,
        F.lit(f"{hint}(cur),{hint}(prior)"),
        F.lit(0.90) + form_bonus,
        F.lit(f"(cur - prior) / prior ({hint})"),
    )
    out = (
        F.when(ratio_direct.isNotNull(), direct)
        .when(is_absolute, normalized)
        .otherwise(derived)
    )
    # rows with null value are dropped by the caller (add_row guard,
    # select_xbrl_tags.py:2971)
    return out


def _fallback_str(s: str, field: str):
    return F.col(f"{s}.{field}")


@functools.lru_cache(maxsize=1)
def _staged_columns() -> tuple:
    """(name, Column) pairs that build_observations adds to the wide
    frame in one select ahead of the explode: the ShortTermDebt and COGS
    fallback picks, each growth decision tree (`_g_<metric>`) and the
    derived intermediates read by several emission entries. Read by
    name, each is computed once per row and appears once in the plan;
    the emission struct reads a growth tree ~12 times, and the driver
    analyzes and optimizes every copy on every build. CollapseProject
    does not inline a non-cheap expression that is read more than once,
    so the projection stays in the plan. Memoized like
    _emission_entries: pure expression construction."""
    def or0(present, x):
        return F.when(present & x.isNotNull(), x).otherwise(F.lit(0.0))

    # ShortTermDebt = DebtCurrent else ShortTermDebt (:1968-1971), a
    # struct coalesce; td/invcap below inline it (one select)
    stx = F.coalesce(F.col("b_DebtCurrent"), F.col("b_ShortTermDebt"))
    # COGS with its Revenue-GrossProfit fallback (:1985-2002), which
    # feeds derived metrics too (select_cogs, :2583)
    rev, gp = F.col("b_Revenue"), F.col("b_GrossProfit")
    cogs_fb = F.struct(
        F.lit("derived").alias("source_type"),
        F.lit("derived:COGS").alias("qname"),
        (rev["value"] - gp["value"]).alias("value"),
        rev["unit"].alias("unit"),
        rev["end"].alias("end"),
        rev["form"].alias("form"),
        rev["accn"].alias("accn"),
        F.lit(0.60).alias("confidence"),
    )
    cogx = F.coalesce(
        F.col("b_CostOfGoodsSold"),
        F.when(rev.isNotNull() & gp.isNotNull(), cogs_fb),
    )
    lt, st_v = "b_LongTermDebt", stx["value"]
    oi, pretax = "b_OperatingIncome", "b_PreTaxIncome"
    # TotalDebt (derive_total_debt, select_xbrl_tags.py:2015-2027)
    td = (
        F.when(_ok(lt) & stx.isNotNull(), _v(lt) + st_v)
        .when(_ok(lt), _v(lt))
        .when(stx.isNotNull(), st_v)
    )
    ebit = F.when(_ok(oi), _v(oi)).otherwise(
        _v("b_NetIncome") + _v("b_DepAmort"))
    # ROIC family (select_xbrl_tags.py:2622-2649)
    tr = F.when(_nz(_v(pretax)), _v("b_IncomeTaxExpense") / _v(pretax))
    tot_debt = or0(_ok(lt), _v(lt)) + or0(stx.isNotNull(), st_v)
    invcap = (
        tot_debt + or0(_ok("b_Equity"), _v("b_Equity"))
        - or0(_ok("b_CashAndCashEquivalents"),
              _v("b_CashAndCashEquivalents"))
    )
    staged = [("stx", stx), ("cogx", cogx)]
    staged += [(f"_g_{gm}", _growth_struct(gm)) for gm in GROWTH_SPEC]
    staged += [("_td", td), ("_ebit", ebit), ("_tr", tr),
               ("_nopat", _v(oi) * (1.0 - tr)), ("_invcap", invcap)]
    return tuple(staged)


def _other_derived_rows() -> list[dict]:
    """compute_other_derived (select_xbrl_tags.py:2504-2657) as a list
    of declarative row specs: {metric, cond, value, unit, end, form,
    accn, computed_from, confidence, period_type}. Reads the staged
    intermediates (_td, _ebit, _tr, _nopat, _invcap) by name."""
    rev, ni, oi, gp = "b_Revenue", "b_NetIncome", "b_OperatingIncome", "b_GrossProfit"
    cfo, capex, dpa, iexp = "b_CFO", "b_CapEx", "b_DepAmort", "b_InterestExpense"
    eq, eq1, assets, assets1 = "b_Equity", "p_Equity", "b_Assets", "p_Assets"
    ca, cl, inv, inv1 = "b_CurrentAssets", "b_CurrentLiabilities", "b_Inventories", "p_Inventories"
    ar, ar1, cogs = "b_AccountsReceivable", "p_AccountsReceivable", "cogx"
    pretax, taxexp = "b_PreTaxIncome", "b_IncomeTaxExpense"

    rows: list[dict] = []

    def add(metric, cond, value, unit, prov_src=None, end=None, form=None,
            accn=None, cf="", conf=0.0, period="duration"):
        r = {"metric": metric, "cond": cond, "value": value,
             "unit": unit, "computed_from": cf, "confidence": conf,
             "period_type": period}
        if prov_src is not None:
            r["end"] = F.col(f"{prov_src}.end")
            r["form"] = F.col(f"{prov_src}.form")
            r["accn"] = F.col(f"{prov_src}.accn")
        else:
            r["end"], r["form"], r["accn"] = end, form, accn
        rows.append(r)

    lit_ratio = F.lit("ratio")
    add("GrossMargin", _ok(gp) & _ok(rev) & _nz(_v(rev)),
        _v(gp) / _v(rev), lit_ratio, rev, cf="GrossProfit;Revenue", conf=0.90)
    add("OperatingMargin", _ok(oi) & _ok(rev) & _nz(_v(rev)),
        _v(oi) / _v(rev), lit_ratio, rev, cf="OperatingIncome;Revenue", conf=0.90)
    add("NetProfitMargin", _ok(ni) & _ok(rev) & _nz(_v(rev)),
        _v(ni) / _v(rev), lit_ratio, rev, cf="NetIncome;Revenue", conf=0.90)
    avg_eq = (_v(eq) + _v(eq1)) / 2.0
    add("ROE", _ok(ni) & _ok(eq) & _ok(eq1) & _nz(avg_eq),
        _v(ni) / avg_eq, lit_ratio, eq, cf="NetIncome;Equity;Equity_Prior", conf=0.90)
    add("FreeCashFlow", _ok(cfo) & _ok(capex),
        _v(cfo) - _v(capex), F.col(f"{cfo}.unit"), cfo, cf="CFO;CapEx", conf=0.88)
    ebitda = _v(oi) + _v(dpa)
    add("EBITDA", _ok(oi) & _ok(dpa),
        ebitda, F.col(f"{oi}.unit"), oi, cf="OperatingIncome;DepAmort", conf=0.88)
    add("EBITDAMargin", _ok(oi) & _ok(dpa) & _ok(rev) & _nz(_v(rev)),
        ebitda / _v(rev), lit_ratio, rev, cf="EBITDA;Revenue", conf=0.86)
    add("InterestCoverage",
        (_ok(oi) | (_ok(ni) & _ok(dpa))) & _ok(iexp) & _nz(_v(iexp)),
        F.col("_ebit") / _v(iexp), F.lit("x"), iexp,
        cf="OperatingIncome_or_NIplusDA;InterestExpense", conf=0.86)
    td_val = F.col("_td")
    add("DebtToEquity", td_val.isNotNull() & _ok(eq) & _nz(_v(eq)),
        td_val / _v(eq), lit_ratio, eq, cf="TotalDebt;Equity", conf=0.86)
    e = F.lit("")
    ca_cl_end = F.coalesce(F.col(f"{ca}.end"), F.col(f"{cl}.end"), e)
    ca_cl_form = F.coalesce(F.col(f"{ca}.form"), F.col(f"{cl}.form"), e)
    ca_cl_accn = F.coalesce(F.col(f"{ca}.accn"), F.col(f"{cl}.accn"), e)
    add("CurrentRatio", _ok(ca) & _ok(cl) & _nz(_v(cl)),
        _v(ca) / _v(cl), lit_ratio, None, ca_cl_end, ca_cl_form, ca_cl_accn,
        cf="CurrentAssets;CurrentLiabilities", conf=0.86)
    add("QuickRatio", _ok(ca) & _ok(inv) & _ok(cl) & _nz(_v(cl)),
        (_v(ca) - _v(inv)) / _v(cl), lit_ratio, None, ca_cl_end, ca_cl_form,
        ca_cl_accn, cf="CurrentAssets;Inventories;CurrentLiabilities", conf=0.86)
    avg_inv = (_v(inv) + F.coalesce(_v(inv1), _v(inv))) / 2.0
    add("InventoryTurnover", _ok(cogs) & _ok(inv) & _nz(avg_inv),
        _v(cogs) / avg_inv, F.lit("turns"), cogs,
        cf="CostOfGoodsSold;Inventories;Inventories_Prior", conf=0.84)
    avg_ar = (_v(ar) + F.coalesce(_v(ar1), _v(ar))) / 2.0
    add("ReceivablesTurnover", _ok(rev) & _ok(ar) & _nz(avg_ar),
        _v(rev) / avg_ar, F.lit("turns"), rev,
        cf="Revenue;AccountsReceivable;AccountsReceivable_Prior", conf=0.84)
    add("OperatingCashFlowRatio", _ok(cfo) & _ok(cl) & _nz(_v(cl)),
        _v(cfo) / _v(cl), lit_ratio, cfo, cf="CFO;CurrentLiabilities", conf=0.84)
    avg_assets = (_v(assets) + F.coalesce(_v(assets1), _v(assets))) / 2.0
    add("AssetTurnover",
        _ok(assets) & _ok(assets1) & _nz(avg_assets) & _ok(rev) & _nz(_v(rev)),
        _v(rev) / avg_assets, lit_ratio, rev,
        cf="Revenue;Assets;Assets_Prior", conf=0.84, period="instant")
    add("EquityRatio", _ok(assets) & _nz(_v(assets)) & _ok(eq) & _nz(_v(eq)),
        _v(eq) / _v(assets), lit_ratio, assets,
        cf="Equity;Assets", conf=0.84, period="instant")
    # ROIC family (select_xbrl_tags.py:2622-2649)
    tr, nopat, invcap = F.col("_tr"), F.col("_nopat"), F.col("_invcap")
    roic_base = (
        _ok(pretax) & _ok(taxexp) & _ok(oi)
        & tr.isNotNull() & (tr >= 0.0) & (tr <= 1.0) & _v(oi).isNotNull()
    )
    add("ROIC", roic_base & _nz(invcap), nopat / invcap, lit_ratio, oi,
        cf="OperatingIncome;IncomeTaxExpense;PreTaxIncome;Debt;Equity;Cash",
        conf=0.84)
    add("NOPAT", roic_base, nopat, F.lit("USD"), oi,
        cf="OperatingIncome;IncomeTaxExpense;PreTaxIncome", conf=0.82)
    add("InvestedCapital", roic_base, invcap, F.lit("USD"), oi,
        cf="LongTermDebt;ShortTermDebt;Equity;Cash", conf=0.82)
    return rows


OBS_STRUCT_FIELDS = (
    "metric string, ord int, is_derived boolean, value double, unit string, "
    "period_type string, end string, form string, accn string, "
    "source_type string, selected_tag string, computed_from string, "
    "confidence double, reason string"
)


def metric_gates(
    metrics: tuple[str, ...] = ("all",),
    include_derived_flag: bool = False,
    skip_derived: bool = False,
) -> dict:
    """The reference CLI's --metrics/--include-derived/--skip-derived
    gating (main(), select_xbrl_tags.py:2895-2897, 2916-2984)."""
    from ..vocab.metrics import BASE_METRICS, DERIVED_METRICS

    ms = set(metrics)
    include_derived = (include_derived_flag and not skip_derived) or (
        not skip_derived and ("all" in ms or "derived" in ms)
    )
    base_wanted = ("all" in ms or "base" in ms
                   or any(m in BASE_METRICS for m in ms))
    derived_wanted = include_derived or any(m in DERIVED_METRICS for m in ms)

    def base_on(m):
        return base_wanted and ("all" in ms or "base" in ms or m in ms)

    def derived_on(m):
        return derived_wanted and ("all" in ms or "derived" in ms or m in ms)

    return {"base_on": base_on, "derived_on": derived_on,
            "base_wanted": base_wanted, "derived_wanted": derived_wanted}


@functools.lru_cache(maxsize=8)
def _emission_entries(metrics: tuple, include_derived: bool,
                      skip_derived: bool) -> tuple:
    """The per-metric emission struct expressions (null when the row
    is absent) as an immutable tuple of Columns over the wide frame
    plus the _staged_columns. MEMOIZED: this is pure expression
    construction over fixed column names — no data, no session state —
    and building the 48 entries plus _staged_columns measured 1.1–2.0 s
    warm and 2.1–3.3 s cold (4-core box) in py4j round trips, paid by
    every build_observations call in a process (a run_incremental cold
    build and each patch, the CQ catalog build, the bench). Column
    objects are immutable expression trees wrapping JVM-side Expression
    objects on the process-wide gateway, so reuse across DataFrames AND
    across SparkSessions in one process is safe."""
    gates = metric_gates(
        metrics,
        include_derived_flag=include_derived,
        skip_derived=skip_derived or not include_derived,
    )
    ordpos = {m: i for i, m in enumerate(METRIC_EMISSION_ORDER)}
    entries = []

    def obs(metric, cond, value, unit, period, end, form, accn, source,
            tag, cf, conf, reason, is_derived):
        s = F.struct(
            F.lit(metric).alias("metric"),
            F.lit(ordpos[metric]).alias("ord"),
            F.lit(is_derived).alias("is_derived"),
            value.cast("double").alias("value"),
            F.coalesce(unit, F.lit("")).alias("unit"),
            F.lit(period).alias("period_type"),
            F.coalesce(end, F.lit("")).alias("end"),
            F.coalesce(form, F.lit("")).alias("form"),
            F.coalesce(accn, F.lit("")).alias("accn"),
            F.coalesce(source, F.lit("")).alias("source_type"),
            F.coalesce(tag, F.lit("")).alias("selected_tag"),
            F.coalesce(cf, F.lit("")).alias("computed_from"),
            conf.cast("double").alias("confidence"),
            F.coalesce(reason, F.lit("")).alias("reason"),
        )
        entries.append(F.when(cond & value.isNotNull(), s))

    # --- base metrics ---
    for m in DURATION_BASE_METRICS + INSTANT_BASE_METRICS:
        if not gates["base_on"](m):
            continue
        period = "duration" if m in DURATION_BASE_METRICS else "instant"
        src = "stx" if m == "ShortTermDebt" else f"b_{m}"
        c = F.col(src)
        obs(m, c.isNotNull(), c["value"], c["unit"], period, c["end"],
            c["form"], c["accn"], c["source_type"], c["qname"], F.lit(""),
            c["confidence"], F.lit(""), False)
        if m == "EPSDiluted":
            # derived NI / diluted shares fallback (:1934-1945)
            ni, sh = F.col("b_NetIncome"), F.col("b_DilutedShares")
            cond = (
                c.isNull() & ni.isNotNull() & sh.isNotNull() & _nz(sh["value"])
            )
            obs(m, cond, ni["value"] / sh["value"], F.lit("USDPerShare"),
                period, ni["end"], ni["form"], ni["accn"], F.lit("derived"),
                F.lit("(NI/WeightedAvgDilutedShares)"), F.lit(""), F.lit(0.85),
                F.lit(""), False)
        if m == "CostOfGoodsSold":
            # Revenue - GrossProfit fallback (:1985-2002)
            rev, gp = F.col("b_Revenue"), F.col("b_GrossProfit")
            cond = c.isNull() & rev.isNotNull() & gp.isNotNull()
            obs(m, cond, rev["value"] - gp["value"], rev["unit"], period,
                rev["end"], rev["form"], rev["accn"], F.lit("derived"),
                F.lit("derived:COGS"), F.lit(""), F.lit(0.60),
                F.lit("Derived as Revenue - GrossProfit"), False)

    if gates["derived_wanted"]:
        # --- growth 4 ---
        for gm in GROWTH_SPEC:
            if not gates["derived_on"](gm):
                continue
            g = F.col(f"_g_{gm}")
            period = "duration" if gm != "AssetGrowthRate" else "instant"
            obs(gm, g.isNotNull(), g["value"], g["unit"], period, g["end"],
                g["form"], g["accn"], g["source_type"], g["selected_tag"],
                g["computed_from"], g["confidence"], g["reason"], True)
        # --- other derived ---
        for r in _other_derived_rows():
            if not gates["derived_on"](r["metric"]):
                continue
            obs(r["metric"], r["cond"], r["value"], r["unit"],
                r["period_type"], r["end"], r["form"], r["accn"],
                F.lit("derived"), F.lit(""), F.lit(r["computed_from"]),
                F.lit(r["confidence"]), F.lit(""), True)
    return tuple(entries)


def build_observations(
    facts: DataFrame,
    companies: DataFrame,
    fy: int,
    tol_days: int = 90,
    prefer_unit: str = "USD",
    include_derived: bool = True,
    metrics: tuple[str, ...] = ("all",),
    skip_derived: bool = False,
) -> DataFrame:
    """Full observations table (OBSERVATIONS_SCHEMA shape), ordered by
    (cik, reference emission order). `metrics`/`skip_derived` mirror
    the reference CLI's gating."""
    wide = build_wide(facts, companies, fy, tol_days, prefer_unit)

    # Each chained DataFrame op below is analyzed eagerly (classic-mode
    # Datasets), so the post-wide chain is kept to one select, one
    # explode and the meta join. Their driver cost grows with the size
    # of their own expressions, not with the selection tree under them,
    # so every intermediate that several emission entries read is
    # staged once in this select (_staged_columns).
    staged = _staged_columns()
    assert not {n for n, _ in staged} & set(wide.columns), (
        "reserved wide columns")
    wide = wide.select("*", *[c.alias(n) for n, c in staged])
    entries = list(_emission_entries(
        tuple(metrics), bool(include_derived), bool(skip_derived)))

    exploded = (
        wide.select("cik", F.explode(F.array(*entries)).alias("o"))
        .where(F.col("o").isNotNull())
    )

    meta = companies.select(
        "cik", "symbol", "name", "sector", "industry", "sic",
        "sic_description", "fye",
    )
    # the struct fields are projected straight out of `o` in the same
    # select as the meta join output (one analysis pass instead of two)
    out = exploded.join(F.broadcast(meta), "cik").select(
        "cik", "symbol", "name", "sector", "industry", "sic",
        "sic_description", "fye",
        F.lit(fy).alias("fy"),
        "o.metric", "o.is_derived", "o.value", "o.unit", "o.period_type",
        "o.end", "o.form", "o.accn", "o.source_type", "o.selected_tag",
        F.lit("").alias("composite_name"),
        "o.computed_from", "o.confidence", "o.reason",
        F.lit("[]").alias("components"),
        "o.ord",
    )
    return out.orderBy("cik", "ord").drop("ord")
