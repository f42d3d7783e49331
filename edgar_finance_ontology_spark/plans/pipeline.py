"""End-to-end orchestration: facts -> observations -> benchmarks ->
rankings -> wide -> Turtle/triples.

Mirrors the reference main() stage order (select_xbrl_tags.py:
2990-3062). Canonical output ordering reproduces the reference's
dict-insertion orders deterministically:

* observations: (cik, metric emission index)
* benchmarks:   industry groups by first-occurrence scan position of
                (industry, metric) in the tags table, then all-market
                groups by metric first occurrence
* rankings:     family order (industry-metric, all-metric,
                industry-composite, all-composite); groups by
                (first cik having the metric in scope, KEY-list index);
                Top10 before All, rank ascending
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..operators.benchmarks import compute_benchmarks
from ..operators.observations import build_observations
from ..operators.rankings import compute_rankings
from ..vocab.metrics import BENCHMARK_RANKING_METRICS, METRIC_EMISSION_ORDER

_EMISSION_IDX = {m: i for i, m in enumerate(METRIC_EMISSION_ORDER)}
_KEY_IDX = {m: i for i, m in enumerate(BENCHMARK_RANKING_METRICS)}


def _emission_idx_col(metric):
    expr = None
    for m, i in _EMISSION_IDX.items():
        expr = (F.when(metric == m, i) if expr is None
                else expr.when(metric == m, i))
    return expr.otherwise(F.lit(999))


def _key_idx_col(metric):
    expr = None
    for m, i in _KEY_IDX.items():
        expr = (F.when(metric == m, i) if expr is None
                else expr.when(metric == m, i))
    return expr.otherwise(F.lit(999))


def run_pipeline(
    facts: DataFrame,
    companies: DataFrame,
    fy: int,
    tol_days: int = 90,
    prefer_unit: str = "USD",
    include_derived: bool = True,
    max_list_group: int = 100_000,
) -> dict:
    """All output tables. Benchmarks/rankings are computed from the
    observations exactly as the reference recomputes them from
    tags.csv. `max_list_group` routes industry benchmark groups larger
    than this through the distributed exact-stats path (same numbers,
    no per-group list buffer) — see operators/benchmarks.py."""
    # materialize + truncate the (possibly expensively derived) inputs:
    # selection scans facts twice (candidate passes / direct-growth
    # mining) and every scan would re-analyze the web-parse plan.
    # localCheckpoint is the local-mode stand-in for a reliable
    # checkpoint (on a cluster: write the stage table, plans/lineage.py)
    facts = facts.localCheckpoint(eager=True)
    companies = companies.localCheckpoint(eager=True)
    obs = build_observations(
        facts, companies, fy, tol_days, prefer_unit, include_derived
    )
    # localCheckpoint truncates the (very large) selection plan — every
    # downstream job would otherwise pay full Catalyst re-analysis of
    # the 27-spec selection tree (~10s of driver time PER ACTION)
    obs = obs.localCheckpoint(eager=True)
    # benchmarks/rankings: eager localCheckpoint instead of cache().
    # cache() deduped EXECUTION but left the full logical trees in
    # place — build_triples / the CQ catalog embed these frames ~7x
    # each, so every downstream analysis/optimization pass re-walked
    # ~20 copies of the window/pivot lineage (measured: 5.0s of pure
    # build_triples plan construction, all JVM-side analysis).
    # Checkpointing truncates them to scan leaves (guide §3.3: very
    # wide unions of big plans -> materialize to cut planning time).
    # The two are independent given obs, so they materialize
    # concurrently — the second job's tasks back-fill the first's tail
    # (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    def _bench():
        return compute_benchmarks(
            obs, fy, max_list_group=max_list_group
        ).localCheckpoint(eager=True)

    def _rank():
        return compute_rankings(obs, fy).localCheckpoint(eager=True)

    with ThreadPoolExecutor(max_workers=2) as pool:
        fb = pool.submit(_bench)
        fr = pool.submit(_rank)
        benchmarks = fb.result()
        rankings = fr.result()
    return {
        "observations": obs,
        "benchmarks": benchmarks,
        "rankings": rankings,
        "companies": companies,
    }


def canonical_observations_order(obs: DataFrame) -> DataFrame:
    """Restore the (cik, metric emission index) order build_observations
    emits by construction — needed when observations round-trip
    through a partitioned store (plans/incremental.py) whose read-back
    order is by partition directory, not cik. The Turtle writer's
    contract is 'families arrive canonically ordered'."""
    return obs.orderBy(
        "cik", _emission_idx_col(F.col("metric")), "metric", "end"
    )


def canonical_benchmarks_order(benchmarks: DataFrame, obs: DataFrame) -> DataFrame:
    """Order key = the reference's dict-insertion scan position
    (compute_benchmarks, select_xbrl_tags.py:640-668): industry groups
    first by first-occurrence of (industry, metric) scanning tags rows
    in (cik, emission) order; then all-market groups by metric first
    occurrence."""
    key_rows = obs.where(
        F.col("metric").isin(*BENCHMARK_RANKING_METRICS)
        & (F.col("industry") != "")
    ).select(
        "cik", "industry", "metric",
        _emission_idx_col(F.col("metric")).alias("eidx"),
    )
    first_ind = key_rows.groupBy("industry", "metric").agg(
        F.min(F.struct("cik", "eidx")).alias("fo")
    )
    first_all = key_rows.groupBy("metric").agg(
        F.min(F.struct("cik", "eidx")).alias("fo")
    )
    ind_b = benchmarks.where(F.col("industry") != "").join(
        first_ind, ["industry", "metric"], "left"
    ).withColumn("family", F.lit(0))
    all_b = benchmarks.where(F.col("industry") == "").join(
        first_all, ["metric"], "left"
    ).withColumn("family", F.lit(1))
    return (
        ind_b.unionByName(all_b)
        .orderBy("family", F.col("fo.cik"), F.col("fo.eidx"))
        .drop("fo", "family")
    )


def canonical_rankings_order(rankings: DataFrame) -> DataFrame:
    """Order key = compute_rankings' append order
    (select_xbrl_tags.py:780-1037): see module docstring."""
    is_comp = F.col("metric") == "Composite"
    scoped = F.col("industry") != ""
    family = (
        F.when(~is_comp & scoped, 0)
        .when(~is_comp & ~scoped, 1)
        .when(is_comp & scoped, 2)
        .otherwise(3)
    )
    kidx = _key_idx_col(F.col("metric"))
    # first cik in the (scope, metric) group = insertion company
    grp = Window.partitionBy("industry", "metric")
    first_cik = F.min("cik").over(grp)
    # composite groups: insertion by first company of the industry
    grp_ind = Window.partitionBy("industry")
    first_cik_ind = F.min("cik").over(grp_ind)
    order_cik = F.when(is_comp, first_cik_ind).otherwise(first_cik)
    type_ord = F.when(F.col("ranking_type") == "Top10", 0).otherwise(1)
    return (
        rankings.withColumn("_family", family)
        .withColumn("_cik0", order_cik)
        .withColumn("_kidx", kidx)
        .withColumn("_t", type_ord)
        .orderBy("_family", "_cik0", "_kidx", "_t", "rank")
        .drop("_family", "_cik0", "_kidx", "_t")
    )


def golden_turtle(
    facts: DataFrame,
    companies: DataFrame,
    fy: int,
    tol_days: int = 90,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
    with_benchmarks: bool = True,
    with_rankings: bool = True,
) -> str:
    """Single-string Turtle document, byte-comparable to the
    reference's --emit-ttl output on the same inputs."""
    from ..emit.csv_format import (
        benchmarks_csv_frame, observations_csv_frame, rankings_csv_frame,
    )
    from ..emit.turtle import turtle_text

    t = run_pipeline(facts, companies, fy, tol_days)
    comp_pdf = companies.orderBy("cik").toPandas()
    # the emitter consumes the CSV-string views, exactly like the
    # reference's emit_after_csv re-reads its CSVs
    obs_pdf = observations_csv_frame(t["observations"]).toPandas()
    b_pdf = r_pdf = None
    if with_benchmarks:
        b_pdf = benchmarks_csv_frame(
            canonical_benchmarks_order(t["benchmarks"], t["observations"])
        ).toPandas()
    if with_rankings:
        r_pdf = rankings_csv_frame(
            canonical_rankings_order(t["rankings"])
        ).toPandas()
    return turtle_text(
        comp_pdf, obs_pdf, b_pdf, r_pdf,
        include_industry_scope=include_industry_scope,
        include_sector_scope=include_sector_scope,
    )
