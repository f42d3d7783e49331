"""Per-metric Top10/All rankings + min-max-normalized composite scores.

Reference: compute_rankings (select_xbrl_tags.py:717-1039).

Spark shape: one pass with the scope as data. Each KEY row is exploded
into its industry scope and the all-market scope (industry ''), and
every later operator is keyed by industry first, so the whole frame
shuffles once (hash on industry) and is then only sorted:

  * one window per (industry, metric), ordered by the signed value and
    `cik asc`, gives both the rank and the min/max/count the composite
    normalizes with — the reference's O(n²) per-company industry
    rescan (:879-916);
  * one pivot per (industry, cik) and one rank window per industry give
    the composite;
  * Top10 is a second `ranking_type` row wherever rank <= 10.

The `cik asc` tie-break equals the reference's stable-sort-by-
insertion-order when its input CSV is written in cik order (our
canonical ordering). Both branches read the one shuffle, and AQE
coalesces the small result to one or two partitions, so the float-repr
UDF of ranking_triples starts one or two Python tasks; the former
4-family x Top10/All union started eight.

The composite score is summed in BENCHMARK_RANKING_METRICS order with
+0.0 for absent metrics, reproducing the reference's left-to-right
float accumulation bit-for-bit (:892-916).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..vocab.metrics import BENCHMARK_RANKING_METRICS
from .benchmarks import _key_metric_values


def _with_ranking_types(df: DataFrame, fy: int) -> DataFrame:
    """Every row as an All ranking, plus a Top10 row where rank <= 10."""
    types = F.when(F.col("rank") <= 10, F.array(F.lit("Top10"), F.lit("All"))) \
        .otherwise(F.array(F.lit("All")))
    return df.select(
        "cik", "symbol", "industry", "sector", "metric",
        F.explode(types).alias("ranking_type"),
        "rank", "value", "composite_score", F.lit(fy).alias("fy"),
    )


def compute_rankings(observations: DataFrame, fy: int) -> DataFrame:
    """RANKINGS_SCHEMA rows across all four families: per-industry
    metric rankings, all-market metric rankings, per-industry composite,
    all-market composite — each as Top10 + All.

    Observations carry one row per (cik, metric) by construction
    (build_observations explodes one emission array per company), so
    no dedup shuffle runs here; tests/test_rankings_onepass.py guards
    the key."""
    rows = _key_metric_values(observations).withColumn(
        "industry", F.explode(F.array(F.col("industry"), F.lit("")))
    )
    # deterministic industry-level sector (reference takes the first
    # dict hit, select_xbrl_tags.py:788-791 — we pin min(sector));
    # the all-market scope has none
    rows = rows.withColumn("sector", F.when(
        F.col("industry") != "",
        F.min("sector").over(Window.partitionBy("industry")),
    ).otherwise(F.lit("")))

    # DebtToEquity ranks ascending and normalizes inverted (lower is
    # better), everything else descending (select_xbrl_tags.py:784-785)
    d2e = F.col("metric") == "DebtToEquity"
    sort_key = F.when(d2e, F.col("value")).otherwise(-F.col("value"))
    w = Window.partitionBy("industry", "metric").orderBy(
        sort_key.asc(), F.col("cik").asc())
    # one select: the rank and the whole-group min/max/count share the
    # partition and order spec, so they run in one Window operator
    grp = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    rows = rows.select(
        "*",
        F.row_number().over(w).alias("rank"),
        F.min("value").over(grp).alias("mn"),
        F.max("value").over(grp).alias("mx"),
        F.count("value").over(grp).alias("grp_n"),
    )
    metric_rows = rows.withColumn(
        "composite_score", F.lit(None).cast("double"))

    # Composite = Σ over KEY metrics of min-max-normalized value (0.5
    # when max==min; inverted for DebtToEquity); normalization groups
    # need ≥2 samples, else null -> skipped (:892-916, 978-1003)
    norm = F.when(F.col("mx") == F.col("mn"), F.lit(0.5)).otherwise(
        (F.col("value") - F.col("mn")) / (F.col("mx") - F.col("mn"))
    )
    norm = F.when(d2e, F.lit(1.0) - norm).otherwise(norm)
    norm = F.when(F.col("grp_n") >= 2, norm)
    pivoted = (
        rows.withColumn("norm", norm)
        .groupBy("industry", "cik", "symbol", "sector")
        .pivot("metric", BENCHMARK_RANKING_METRICS)
        .agg(F.first("norm"))
    )
    score = F.lit(0.0)
    for m in BENCHMARK_RANKING_METRICS:  # reference summation order
        score = score + F.coalesce(F.col(f"`{m}`"), F.lit(0.0))
    w2 = Window.partitionBy("industry").orderBy(
        F.col("composite_score").desc(), F.col("cik").asc())
    composite_rows = (
        pivoted.withColumn("composite_score", score)
        .withColumn("rank", F.row_number().over(w2))
        .withColumn("metric", F.lit("Composite"))
        .withColumn("value", F.lit(None).cast("double"))
    )

    return _with_ranking_types(
        metric_rows, fy).unionByName(_with_ranking_types(composite_rows, fy))
