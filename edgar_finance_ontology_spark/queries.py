"""Driver-contract query registry: every operator family from
SURVEY.md §2 exercised over the driver's testdata tables, each with a
DuckDB-oracle SQL twin (same algorithm, engine-portable primitives).

Conventions for cross-engine value-hash parity:
  * money/metric aggregates: exact DECIMAL sums, then round(double, 6)
    for any division — identical bits in both engines;
  * hashes: md5 (same hex in Spark and DuckDB);
  * rank ties: explicit deterministic tie-break columns;
  * timestamps surfaced as ISO strings or int years.

Each entry: NAME -> (spark_fn(spark, sf_dir) -> DataFrame, oracle_sql
or None). Oracle SQL runs on DuckDB views named after the parquet
files (region nation customer supplier part orders lineitem events
documents embeddings).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------
# 1. Relational core (reference operator families F/J/A/W/O/U)
# --------------------------------------------------------------------

def q_pricing_summary(spark, sf):
    """A1-style multi-aggregate scan (filter pushdown + partial agg).
    TPC-H Q1 analog on lineitem."""
    li = _t(spark, sf, "lineitem")
    out = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(20,2)")).alias("dq"),
            F.sum(F.col("l_extendedprice").cast("decimal(20,2)")).alias("dp"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(24,6)")
            ).alias("ddp"),
            F.count("*").alias("count_order"),
        )
        .select(
            "l_returnflag", "l_linestatus",
            F.round(F.col("dq").cast("double"), 2).alias("sum_qty"),
            F.round(F.col("dp").cast("double"), 2).alias("sum_base_price"),
            F.round(F.col("ddp").cast("double"), 4).alias("sum_disc_price"),
            F.round(
                F.col("dq").cast("double") / F.col("count_order"), 6
            ).alias("avg_qty"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )
    return out


SQL_PRICING = """
SELECT l_returnflag, l_linestatus,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(20,2))) AS DOUBLE), 2) AS sum_base_price,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE), 4) AS sum_disc_price,
       round(CAST(sum(CAST(l_quantity AS DECIMAL(20,2))) AS DOUBLE) / count(*), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q_star_join_revenue(spark, sf):
    """J1/J2-style star join with broadcast dims: revenue per region x
    order year (Catalyst broadcasts every dim)."""
    li, o = _t(spark, sf, "lineitem"), _t(spark, sf, "orders")
    c, n, r = _t(spark, sf, "customer"), _t(spark, sf, "nation"), _t(spark, sf, "region")
    out = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .groupBy(F.col("r_name").alias("region"),
                 F.year("o_orderdate").alias("order_year"))
        .agg(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(24,6)")
            ).alias("rev"),
            F.countDistinct("o_orderkey").alias("n_orders"),
        )
        .select(
            "region", "order_year",
            F.round(F.col("rev").cast("double"), 4).alias("revenue"),
            "n_orders",
        )
        .orderBy("region", "order_year")
    )
    return out


SQL_STAR_JOIN = """
SELECT r_name AS region, EXTRACT(year FROM o_orderdate) AS order_year,
       round(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(24,6))) AS DOUBLE), 4) AS revenue,
       count(DISTINCT o_orderkey) AS n_orders
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_top10_per_group(spark, sf):
    """W1: windowed Top-10 per group with deterministic tie-break
    (the reference's per-(industry, metric) Top10)."""
    o = _t(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        o.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 10)
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.col("rnk").alias("rank"),
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
        )
        .orderBy("priority", "rank")
    )


SQL_TOP10 = """
SELECT priority, rank, orderkey, totalprice FROM (
  SELECT o_orderpriority AS priority,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank,
         o_orderkey AS orderkey, round(o_totalprice, 2) AS totalprice
  FROM orders) t
WHERE rank <= 10 ORDER BY priority, rank
"""


def q_yoy_growth(spark, sf):
    """W6/C13: per-customer yearly totals + lag growth (the reference's
    prior-fiscal-year join as a window)."""
    o = _t(spark, sf, "orders")
    yearly = (
        o.groupBy(F.col("o_custkey").alias("custkey"),
                  F.year("o_orderdate").alias("yr"))
        .agg(F.sum(F.col("o_totalprice").cast("decimal(20,2)")).alias("tot"))
    )
    w = Window.partitionBy("custkey").orderBy("yr")
    out = (
        yearly.withColumn("prev", F.lag("tot").over(w))
        .select(
            "custkey", "yr",
            F.round(F.col("tot").cast("double"), 2).alias("total"),
            F.when(
                F.col("prev").isNotNull() & (F.col("prev") != 0),
                F.round(
                    (F.col("tot") - F.col("prev")).cast("double")
                    / F.col("prev").cast("double"),
                    6,
                ),
            ).alias("growth"),
        )
        .orderBy("custkey", "yr")
    )
    return out


SQL_YOY = """
WITH yearly AS (
  SELECT o_custkey AS custkey, EXTRACT(year FROM o_orderdate) AS yr,
         sum(CAST(o_totalprice AS DECIMAL(20,2))) AS tot
  FROM orders GROUP BY 1, 2)
SELECT custkey, yr, round(CAST(tot AS DOUBLE), 2) AS total,
       CASE WHEN lag(tot) OVER w IS NOT NULL AND lag(tot) OVER w <> 0
            THEN round(CAST(tot - lag(tot) OVER w AS DOUBLE)
                       / CAST(lag(tot) OVER w AS DOUBLE), 6) END AS growth
FROM yearly WINDOW w AS (PARTITION BY custkey ORDER BY yr)
ORDER BY custkey, yr
"""


def q_asof_pick(spark, sf):
    """J4/W5: smart_pick analog — per customer, the order whose date is
    closest to an anchor, priority-class bonus, ties -> later date,
    then key. (argmax via one window.)"""
    o = _t(spark, sf, "orders")
    anchor = F.lit("1995-06-30").cast("timestamp")
    score = (
        -F.abs(F.datediff(F.col("o_orderdate"), anchor))
        + F.when(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 5)
        .otherwise(0)
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("score").desc(), F.col("o_orderdate").desc(),
        F.col("o_orderkey").asc(),
    )
    return (
        o.withColumn("score", score)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("picked_order"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.col("score").cast("int").alias("score"),
        )
        .orderBy("custkey")
    )


SQL_ASOF = """
SELECT custkey, picked_order, orderdate, score FROM (
  SELECT o_custkey AS custkey, o_orderkey AS picked_order,
         strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
         CAST(-abs(date_diff('day', TIMESTAMP '1995-06-30 00:00:00', o_orderdate))
              + CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 5 ELSE 0 END AS INT) AS score,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY (-abs(date_diff('day', TIMESTAMP '1995-06-30 00:00:00', o_orderdate))
                                      + CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 5 ELSE 0 END) DESC,
                                     o_orderdate DESC, o_orderkey ASC) AS rn
  FROM orders) t
WHERE rn = 1 ORDER BY custkey
"""


def q_semi_anti(spark, sf):
    """J9/J12: left-semi + left-anti — customers with >=1 order but no
    urgent order."""
    o, c = _t(spark, sf, "orders"), _t(spark, sf, "customer")
    with_orders = c.join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
    urgent = o.where(F.col("o_orderpriority") == "1-URGENT")
    out = with_orders.join(
        urgent, with_orders["c_custkey"] == urgent["o_custkey"], "left_anti"
    )
    return out.select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    ).orderBy("custkey")


SQL_SEMI_ANTI = """
SELECT c_custkey AS custkey, c_mktsegment
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
ORDER BY custkey
"""


def q_grouping_sets(spark, sf):
    """A1: GROUPING SETS benchmark shape — acctbal stats per (nation,
    segment) and per (segment), n>=2 gate, index-based percentiles
    (the reference's sorted[int(n*q)], A1b)."""
    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"]).select(
        F.col("n_name").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.col("c_acctbal").alias("bal"),
    )
    g = (
        j.groupingSets([["nation", "segment"], ["segment"]],
                       "nation", "segment")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("bal").cast("decimal(20,2)")).alias("s"),
            F.sort_array(F.collect_list(F.round("bal", 2))).alias("vals"),
        )
        .where(F.col("n") >= 2)
    )
    out = g.select(
        F.coalesce(F.col("nation"), F.lit("")).alias("nation"),
        "segment",
        "n",
        F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg_bal"),
        F.element_at(
            "vals", (F.floor(F.col("n") * 0.25) + 1).cast("int")
        ).alias("p25"),
        F.element_at(
            "vals", (F.floor(F.col("n") * 0.75) + 1).cast("int")
        ).alias("p75"),
    ).orderBy("nation", "segment")
    return out


SQL_GROUPING_SETS = """
WITH j AS (
  SELECT n_name AS nation, c_mktsegment AS segment, c_acctbal AS bal
  FROM customer JOIN nation ON c_nationkey = n_nationkey),
g AS (
  SELECT CASE WHEN GROUPING(nation) = 1 THEN '' ELSE nation END AS nation,
         segment, count(*) AS n,
         sum(CAST(bal AS DECIMAL(20,2))) AS s,
         list_sort(list(round(bal, 2))) AS vals
  FROM j GROUP BY GROUPING SETS ((nation, segment), (segment)))
SELECT nation, segment, n,
       round(CAST(s AS DOUBLE) / n, 6) AS avg_bal,
       vals[CAST(floor(n * 0.25) AS INT) + 1] AS p25,
       vals[CAST(floor(n * 0.75) AS INT) + 1] AS p75
FROM g WHERE n >= 2 ORDER BY nation, segment
"""


def q_pivot_events(spark, sf):
    """J6/A2: wide pivot — per-user event-type counts + value sums."""
    e = _t(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        e.groupBy(F.col("user_id").alias("user"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )
    cols = [F.col("user")] + [
        F.col(f"`{t}`").cast("long").alias(f"n_{t}") for t in types
    ]
    return out.select(*cols).orderBy("user")


SQL_PIVOT = """
SELECT user_id AS user,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'error') AS n_error,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'view') AS n_view
FROM events GROUP BY 1 ORDER BY 1
"""


def q_composite_rank(spark, sf):
    """A3/W4: min-max-normalized composite score + rank per nation —
    the reference's composite ranking shape on customer balances."""
    c, n = _t(spark, sf, "customer"), _t(spark, sf, "nation")
    j = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    w = Window.partitionBy("n_name")
    mn, mx = F.min("c_acctbal").over(w), F.max("c_acctbal").over(w)
    norm = F.when(mx == mn, F.lit(0.5)).otherwise(
        (F.col("c_acctbal") - mn) / (mx - mn)
    )
    wr = Window.partitionBy("n_name").orderBy(
        F.col("norm").desc(), F.col("c_custkey").asc()
    )
    return (
        j.withColumn("norm", norm)
        .withColumn("rnk", F.row_number().over(wr))
        .where(F.col("rnk") <= 5)
        .select(
            F.col("n_name").alias("nation"), F.col("rnk").alias("rank"),
            F.col("c_custkey").alias("custkey"),
            F.round("norm", 6).alias("score"),
        )
        .orderBy("nation", "rank")
    )


SQL_COMPOSITE = """
WITH sc AS (
  SELECT n_name AS nation, c_custkey AS custkey,
         CASE WHEN max(c_acctbal) OVER w = min(c_acctbal) OVER w THEN 0.5
              ELSE (c_acctbal - min(c_acctbal) OVER w)
                   / (max(c_acctbal) OVER w - min(c_acctbal) OVER w) END AS raw
  FROM customer JOIN nation ON c_nationkey = n_nationkey
  WINDOW w AS (PARTITION BY n_name)),
r AS (
  SELECT nation, custkey, round(raw, 6) AS score,
         row_number() OVER (PARTITION BY nation
                            ORDER BY raw DESC, custkey ASC) AS rank
  FROM sc)
SELECT nation, rank, custkey, score FROM r
WHERE rank <= 5 ORDER BY nation, rank
"""


def q_sessionize(spark, sf):
    """Streaming-analog sessionization in batch (W6 + cumulative sum):
    session = new when gap > 30 min; output session stats."""
    e = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ws = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sess = (
        e.withColumn("new_sess", new_sess)
        .withColumn("session_id", F.sum("new_sess").over(ws).cast("long"))
    )
    return (
        sess.groupBy(F.col("user_id").alias("user"), "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(20,6)")).alias("v"),
        )
        .select(
            "user", "session_id", "n_events",
            F.round(F.col("v").cast("double"), 6).alias("total_value"),
        )
        .orderBy("user", "session_id")
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('second', lag(ts) OVER w, ts) > 1800
              THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
s AS (
  SELECT user_id, ts, event_id, value,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
  FROM g)
SELECT user_id AS user, session_id, count(*) AS n_events,
       round(CAST(sum(CAST(value AS DECIMAL(20,6))) AS DOUBLE), 6) AS total_value
FROM s GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_json_props(spark, sf):
    """C22-analog: JSON extraction + agg over events.props."""
    e = _t(spark, sf, "events")
    return (
        e.withColumn("k", F.get_json_object("props", "$.k").cast("int"))
        .groupBy(F.col("event_type").alias("etype"))
        .agg(
            F.count("k").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("etype")
    )


SQL_JSON = """
SELECT event_type AS etype, count(CAST(props->>'k' AS INT)) AS n,
       CAST(sum(CAST(props->>'k' AS INT)) AS BIGINT) AS sum_k,
       min(CAST(props->>'k' AS INT)) AS min_k,
       max(CAST(props->>'k' AS INT)) AS max_k
FROM events GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------
# 2. Training-data pipeline ops (dedup / similarity / text analysis)
# --------------------------------------------------------------------

def q_dedup_exact(spark, sf):
    from .operators.dedup import exact_duplicate_groups

    d = _t(spark, sf, "documents")
    g = exact_duplicate_groups(d)
    return (
        g.groupBy()
        .agg(
            F.count("*").alias("n_groups"),
            F.sum("n_docs").alias("n_docs"),
            F.sum(F.when(F.col("n_docs") > 1, F.col("n_docs") - 1)
                  .otherwise(0)).alias("n_redundant"),
        )
    )


SQL_DEDUP_EXACT = """
WITH g AS (SELECT md5(text) h, count(*) AS n_docs FROM documents GROUP BY 1)
SELECT count(*) AS n_groups, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN n_docs > 1 THEN n_docs - 1 ELSE 0 END) AS BIGINT) AS n_redundant
FROM g
"""


def q_minhash_lsh(spark, sf):
    """MinHash + banded LSH candidate pairs, exact-Jaccard verified.
    Fully deterministic (md5 minhashes) -> the oracle replays it."""
    from .operators.dedup import (
        jaccard_on_pairs, lsh_candidate_pairs, minhash_lsh_bands_fused,
        word_shingles,
    )

    d = _t(spark, sf, "documents")
    # ONE materialized shingle table feeds both the LSH banding and the
    # exact-Jaccard verify (it appears 4x in the final plan; Spark does
    # not dedupe common subplans, so left lazy the Arrow shingler ran
    # four times per action). Banding itself is the fused one-exchange
    # form — see minhash_lsh_bands_fused.
    sh = word_shingles(d).localCheckpoint(eager=True)
    pairs = lsh_candidate_pairs(
        minhash_lsh_bands_fused(sh, n_hashes=8, bands=4), max_bucket=64
    )
    j = jaccard_on_pairs(pairs, sh)
    return (
        j.where(F.col("jaccard") >= 0.05)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


SQL_MINHASH_LSH = """
WITH toks AS (
  SELECT doc_id AS id, string_split(trim(lower(text)), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS shingle
  FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0) + 1)) AS u(i)
  WHERE len(t) - 3 >= 0 OR i = 0),
sh3 AS (SELECT id, shingle FROM sh WHERE len(string_split(shingle, ' ')) = 3),
mh AS (
  SELECT id, seed, min(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS minhash
  FROM sh3, UNNEST(range(0, 8)) AS s(seed) GROUP BY 1, 2),
bands AS (
  SELECT id, seed % 4 AS band,
         md5(list_aggregate(list_sort(list(concat(CAST(seed AS VARCHAR), ':', minhash))), 'string_agg', ',')) AS bucket
  FROM mh GROUP BY 1, 2),
bands_ok AS (
  SELECT * FROM bands
  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 64),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands_ok a JOIN bands_ok b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id < b.id),
sizes AS (SELECT id, count(*) AS n FROM sh3 GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c JOIN sh3 a ON a.id = c.id_a JOIN sh3 b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
jac AS (
  SELECT c.id_a, c.id_b,
         COALESCE(i.inter, 0)::DOUBLE / (sa.n + sb.n - COALESCE(i.inter, 0)) AS jaccard
  FROM cand c LEFT JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
  JOIN sizes sa ON sa.id = c.id_a JOIN sizes sb ON sb.id = c.id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.05 ORDER BY id_a, id_b
"""


def q_ngram_jaccard(spark, sf):
    """Exact n-gram Jaccard near-dup pairs via inverted shingle join."""
    from .operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(d, threshold=0.12, max_df=64).orderBy(
        "id_a", "id_b"
    )


SQL_NGRAM_JACCARD = """
WITH toks AS (
  SELECT doc_id AS id, string_split(trim(lower(text)), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS shingle
  FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0) + 1)) AS u(i)),
sh3 AS (SELECT id, shingle FROM sh WHERE len(string_split(shingle, ' ')) = 3),
rare AS (
  SELECT shingle FROM sh3 GROUP BY 1 HAVING count(*) <= 64),
cand_sh AS (SELECT sh3.* FROM sh3 JOIN rare USING (shingle)),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM cand_sh a JOIN cand_sh b ON a.shingle = b.shingle WHERE a.id < b.id),
sizes AS (SELECT id, count(*) AS n FROM sh3 GROUP BY 1),
inter AS (
  SELECT p.id_a, p.id_b, count(*) AS inter
  FROM pairs p JOIN sh3 a ON a.id = p.id_a
  JOIN sh3 b ON b.id = p.id_b AND b.shingle = a.shingle GROUP BY 1, 2),
jac AS (
  SELECT p.id_a, p.id_b,
         COALESCE(i.inter, 0)::DOUBLE / (sa.n + sb.n - COALESCE(i.inter, 0)) AS jaccard
  FROM pairs p LEFT JOIN inter i USING (id_a, id_b)
  JOIN sizes sa ON sa.id = p.id_a JOIN sizes sb ON sb.id = p.id_b)
SELECT id_a, id_b, round(jaccard, 6) AS jaccard
FROM jac WHERE jaccard >= 0.12 ORDER BY id_a, id_b
"""


def q_simhash(spark, sf):
    """64-bit simhash near-dup pairs at the Manku et al. (WWW'07)
    web-scale operating point: 4 bands of 16 bits, hamming ≤ 3 —
    pigeonhole-GUARANTEED recall (3 = bands − 1) with buckets wide
    enough (2^16) that correlated near-duplicate clusters don't
    collapse into hot buckets. Higher radii keep their guarantee via
    the operator default bands = max_hamming + 1 (narrower buckets —
    pair with max_bucket at scale; a 9-band hamming-8 run at sf0.1
    measured 70 s vs 2 s here, exactly the precision cliff Manku's
    k=3 choice avoids)."""
    from .operators.dedup import simhash64, simhash_near_dup_pairs

    d = _t(spark, sf, "documents")
    pairs = simhash_near_dup_pairs(simhash64(d), bands=4, max_hamming=3)
    return pairs.orderBy("id_a", "id_b")


def _simhash_bands_values(bands):
    from .operators.dedup import band_bit_ranges
    return ", ".join(f"({b}, {lo}, {w})"
                     for b, lo, w in band_bit_ranges(bands))


def _bin64(col):
    from .operators.dedup import bin64_sql
    return bin64_sql(col)


SQL_SIMHASH = f"""
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(trim(lower(text)), ' ')) AS tok
  FROM documents),
h AS (SELECT id, md5(tok) AS h FROM toks WHERE tok <> ''),
bits AS (
  SELECT id, j, k,
         sum(2 * ((strpos('0123456789abcdef', substr(h, j, 1)) - 1) >> k & 1) - 1) AS s
  FROM h, UNNEST(range(1, 17)) AS u(j), UNNEST(range(0, 4)) AS v(k)
  GROUP BY 1, 2, 3),
nib AS (
  SELECT id, j,
         sum(CASE WHEN s > 0 THEN 1 << k ELSE 0 END) AS nibble
  FROM bits GROUP BY 1, 2),
sig AS (
  SELECT id,
         string_agg(substr('0123456789abcdef', CAST(nibble AS INT) + 1, 1),
                    '' ORDER BY j) AS simhash
  FROM nib GROUP BY 1),
bands AS (
  SELECT id, simhash, band, substr({_bin64('simhash')}, lo, w) AS bucket
  FROM sig, (VALUES {_simhash_bands_values(4)}) AS bb(band, lo, w)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         a.simhash AS sig_a, b.simhash AS sig_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
  WHERE a.id < b.id),
ham AS (
  SELECT id_a, id_b,
         CAST(list_sum(list_transform(range(1, 17), j ->
           bit_count(xor(strpos('0123456789abcdef', substr(sig_a, j, 1)) - 1,
                         strpos('0123456789abcdef', substr(sig_b, j, 1)) - 1)))) AS INT)
           AS hamming
  FROM cand)
SELECT id_a, id_b, hamming FROM ham
WHERE hamming <= 3 ORDER BY id_a, id_b
"""


def q_ann_cosine_topk(spark, sf):
    """Brute-force cosine top-5 neighbors for the 20 lowest vec_ids."""
    from .operators.similarity import brute_force_topk

    e = _t(spark, sf, "embeddings")
    q = e.orderBy("vec_id").limit(20)
    return brute_force_topk(e, q, k=5).orderBy("query_id", "rank")


SQL_ANN_TOPK = """
WITH q AS (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 20),
s AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cos
  FROM q JOIN embeddings e ON e.vec_id <> q.vec_id),
r AS (
  SELECT query_id, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s)
SELECT query_id, rank, neighbor_id, round(cos, 6) AS cos
FROM r WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_ann_ivf_cell(spark, sf):
    """IVF-style ANN: search restricted to the query's coarse cell
    (label = cell id); top-3 per query for the 10 lowest vec_ids."""
    from .operators.similarity import cell_topk

    e = _t(spark, sf, "embeddings")
    q = e.orderBy("vec_id").limit(10)
    return cell_topk(e, q, k=3).orderBy("query_id", "rank")


SQL_ANN_IVF = """
WITH q AS (SELECT vec_id, embedding, label FROM embeddings ORDER BY vec_id LIMIT 10),
s AS (
  SELECT q.vec_id AS query_id, q.label AS cell, e.vec_id AS neighbor_id,
         list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])) AS cos
  FROM q JOIN embeddings e ON e.label = q.label AND e.vec_id <> q.vec_id),
r AS (
  SELECT query_id, cell, neighbor_id, cos,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s)
SELECT query_id, cell, rank, neighbor_id, round(cos, 6) AS cos
FROM r WHERE rank <= 3 ORDER BY query_id, rank
"""


def q_ann_ivf_multiprobe(spark, sf):
    """REAL trained IVF: deterministic Lloyd's k-means coarse
    quantizer (k=8, 2 iterations, decimal-exact centroid updates,
    hash-order seed sample) fit on the embeddings, then multi-probe
    search — each of the 10 lowest-vec_id queries probes its 2 nearest
    cells, top-3 cosine neighbors overall."""
    from .operators.similarity import ann_ivf_multiprobe, kmeans_fit

    e = _t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    q = e.orderBy("vec_id").limit(10)
    return ann_ivf_multiprobe(e, q, cents, k=3, nprobe=2) \
        .orderBy("query_id", "rank")


_D2 = ("list_sum(list_transform(list_zip({v}, {c}), "
       "t -> (t[1]-t[2])*(t[1]-t[2])))")


def _sql_kmeans_parts(k: int = 8, iters: int = 2, dim: int = 64,
                      seed_sample: int = 2048, prefix: str = "",
                      vexpr: str = "CAST(embedding AS DOUBLE[])",
                      ) -> tuple[list[str], str]:
    """Shared DuckDB replay of the whole k-means fit (iterations
    unrolled at SQL-generation time): seed sample = the `seed_sample`
    lowest (md5(id), id) vectors (md5 hex is engine-identical, so the
    hash-order selection replays exactly), farthest-first seeding over
    that sample, assignment by sequential-fold squared distance
    (list_sum matches Spark's aggregate fold bit-for-bit — verified),
    centroid update by exact DECIMAL(38,15) per-dimension sums cast to
    double means — the same arithmetic contract the Spark fit
    documents. Returns (cte_parts, final_centroid_cte); the parts end
    with `asg` = the full corpus assignment to final cells, which both
    the ivf-multiprobe and semdedup twins consume."""
    d2 = _D2
    parts = [
        f"WITH base AS (SELECT vec_id AS id, {vexpr} "
        "AS v FROM embeddings)",
        # mirror kmeans_fit's input guards: null/empty vectors never
        # reach the sample, and the fit is restricted to the seed
        # sample's dimensionality (ragged rows excluded). MATERIALIZED
        # is load-bearing: without it DuckDB inlines this CTE chain
        # into the seed CTEs' scalar subqueries and the expansion
        # never finishes (observed hang; 4 s materialized)
        "basef AS MATERIALIZED (SELECT * FROM base "
        "WHERE v IS NOT NULL AND len(v) > 0)",
        f"smp AS MATERIALIZED (SELECT id, v FROM basef "
        f"ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT {seed_sample})",
        "seed0 AS MATERIALIZED (SELECT v FROM smp "
        "ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1)",
        "smpf AS MATERIALIZED (SELECT s.* FROM smp s "
        "WHERE len(s.v) = (SELECT len(v) FROM seed0))",
        "fitb AS MATERIALIZED (SELECT b.* FROM basef b "
        "WHERE len(b.v) = (SELECT len(v) FROM seed0))",
    ]
    # farthest-first traversal over the bounded seed sample, one CTE
    # per seed: maximize the min distance to every previously chosen
    # seed (ties -> lowest id)
    for j in range(1, k):
        prev_d2 = ", ".join(
            d2.format(v="b.v", c=f"s{i}.c")
            for i in range(j)
        )
        prev_from = ", ".join(
            f"(SELECT v AS c FROM seed{i}) s{i}" for i in range(j)
        )
        mind = f"least({prev_d2})" if j > 1 else prev_d2
        # tie-break = lowest SAMPLE POSITION, which is hash order now
        parts.append(
            f"seed{j} AS (SELECT b.v FROM smpf b, {prev_from} "
            f"ORDER BY {mind} DESC, md5(CAST(b.id AS VARCHAR)) ASC, "
            f"b.id ASC LIMIT 1)"
        )
    init_union = " UNION ALL ".join(
        f"SELECT {j} AS cell, v AS c FROM seed{j}" for j in range(k)
    )
    parts.append(f"c0 AS ({init_union})")
    for it in range(iters):
        prev, nxt = f"c{it}", f"c{it + 1}"
        assign_d2 = d2.format(v="b.v", c="c.c")
        parts.append(f"""a{it} AS (
  SELECT id, v, cell FROM (
    SELECT b.id, b.v, c.cell,
           row_number() OVER (PARTITION BY b.id
                              ORDER BY {assign_d2} ASC, c.cell ASC) AS rn
    FROM fitb b, {prev} c) x WHERE rn = 1)""")
        parts.append(f"""s{it} AS (
  SELECT a.cell, t.i, sum(CAST(a.v[t.i] AS DECIMAL(38,15))) AS s,
         count(*) AS n
  FROM a{it} a, range(1, {dim + 1}) t(i) GROUP BY 1, 2)""")
        parts.append(f"""{nxt} AS (
  SELECT {prev}.cell, coalesce(u.c, {prev}.c) AS c
  FROM {prev} LEFT JOIN (
    SELECT cell, list(CAST(s AS DOUBLE) / n ORDER BY i) AS c
    FROM s{it} GROUP BY cell) u USING (cell))""")
    fin = f"c{iters}"
    final_d2 = d2.format(v="b.v", c="c.c")
    parts.append(f"""asg AS MATERIALIZED (
  SELECT id, v, cell FROM (
    SELECT b.id, b.v, c.cell,
           row_number() OVER (PARTITION BY b.id
                              ORDER BY {final_d2} ASC, c.cell ASC) AS rn
    FROM fitb b, {fin} c) x WHERE rn = 1)""")
    if prefix:
        # PQ twins replay one fit per subspace in a single WITH list:
        # prefix every CTE name (aliases sharing a name are renamed at
        # definition and use together, which keeps them consistent)
        names = sorted(
            ["basef", "base", "smpf", "smp", "fitb", "asg"]
            + [f"seed{j}" for j in range(k)]
            + [f"c{i}" for i in range(iters + 1)]
            + [f"a{i}" for i in range(iters)]
            + [f"s{i}" for i in range(iters)],
            key=len, reverse=True,
        )
        pat = re.compile(r"\b(" + "|".join(names) + r")\b")
        parts = [pat.sub(lambda m: prefix + m.group(1), q) for q in parts]
        fin = prefix + fin
    return parts, fin


def _sql_ivf_multiprobe(k: int = 8, iters: int = 2, dim: int = 64,
                        nq: int = 10, nprobe: int = 2,
                        topk: int = 3, seed_sample: int = 2048) -> str:
    """IVF multi-probe twin on top of the shared k-means replay."""
    parts, fin = _sql_kmeans_parts(k, iters, dim, seed_sample)
    d2 = _D2
    probe_d2 = d2.format(v="q.v", c="c.c")
    parts.append(
        f"qsel AS (SELECT id, v FROM base ORDER BY id LIMIT {nq})"
    )
    # the search guards mirror the Spark operator: null/ragged vectors
    # are excluded from both the query and corpus sides (qsel still
    # picks the nq lowest ids of the RAW table, matching the caller's
    # query selection; invalid ones then drop out)
    parts.append(f"""probe AS (
  SELECT id AS query_id, v AS qv, cell FROM (
    SELECT q.id, q.v, c.cell,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {probe_d2} ASC, c.cell ASC) AS rn
    FROM qsel q, {fin} c
    WHERE q.v IS NOT NULL
      AND len(q.v) = (SELECT len(v) FROM seed0)) x
  WHERE rn <= {nprobe})""")
    return ",\n".join(parts) + f"""
SELECT query_id, rank, neighbor_id, cell, round(cos, 6) AS cos FROM (
  SELECT p.query_id, a.id AS neighbor_id, a.cell,
         list_cosine_similarity(p.qv, a.v) AS cos,
         row_number() OVER (
           PARTITION BY p.query_id
           ORDER BY list_cosine_similarity(p.qv, a.v) DESC, a.id ASC
         ) AS rank
  FROM probe p JOIN asg a ON a.cell = p.cell AND a.id <> p.query_id) x
WHERE rank <= {topk} ORDER BY query_id, rank
"""


SQL_ANN_IVF_MULTIPROBE = _sql_ivf_multiprobe()


def q_ann_pq_adc(spark, sf):
    """Product-quantization ADC search (Jégou et al. 2011): two
    32-dim subspace codebooks (k=8 each, one deterministic
    kmeans_fit_multi fit), corpus compressed to 2 codes/vector, the 10
    lowest-vec_id queries scored by per-query lookup tables — top-3
    by asymmetric distance."""
    from .operators.similarity import pq_adc_topk, pq_fit

    e = _t(spark, sf, "embeddings")
    cbs = pq_fit(e, m=2, k=8, iters=2, dim=64)
    q = e.orderBy("vec_id").limit(10)
    return pq_adc_topk(e, q, cbs, topk=3).orderBy("query_id", "rank")


def _sql_pq_adc(m: int = 2, k: int = 8, iters: int = 2,
                dim: int = 64, nq: int = 10, topk: int = 3,
                seed_sample: int = 2048) -> str:
    """PQ-ADC twin: one prefixed k-means replay per subspace (the
    sliced `vexpr` reuses the whole fit chain), codes = the joined
    per-subspace asg cells, ADC = the two sequential-fold squared
    distances added left-to-right — the same order the Spark LUT fold
    produces, so scores replay bit-for-bit."""
    sub = dim // m
    all_parts: list[str] = []
    fins: list[str] = []
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        parts, fin = _sql_kmeans_parts(
            k, iters, sub, seed_sample, prefix=f"p{j}",
            vexpr=f"CAST(embedding AS DOUBLE[])[{lo}:{hi}]",
        )
        if j:
            parts[0] = parts[0][len("WITH "):]
        all_parts += parts
        fins.append(fin)
    d2 = _D2
    join_cells = " ".join(
        f"JOIN {fins[j]} c{j} ON c{j}.cell = d.k{j}" for j in range(m)
    )
    code_cols = ", ".join(
        f"a{j}.cell AS k{j}" for j in range(m))
    code_join = " ".join(
        f"JOIN p{j}asg a{j} USING (id)" for j in range(1, m))
    adc_sum = " + ".join(
        d2.format(v=f"q.v[{j * sub + 1}:{(j + 1) * sub}]", c=f"c{j}.c")
        for j in range(m)
    )
    all_parts += [
        f"pqcodes AS (SELECT a0.id, {code_cols} "
        f"FROM p0asg a0 {code_join})",
        f"pqq AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v "
        f"FROM embeddings ORDER BY vec_id LIMIT {nq})",
        f"pqqv AS (SELECT id, v FROM pqq "
        f"WHERE v IS NOT NULL AND len(v) = {dim})",
        f"padc AS (SELECT q.id AS query_id, d.id AS neighbor_id, "
        f"{adc_sum} AS adc FROM pqqv q, pqcodes d {join_cells} "
        f"WHERE d.id <> q.id)",
    ]
    return ",\n".join(all_parts) + f"""
SELECT query_id, rank, neighbor_id, round(adc, 6) AS adc FROM (
  SELECT query_id, neighbor_id, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM padc) x
WHERE rank <= {topk} ORDER BY query_id, rank
"""


SQL_ANN_PQ_ADC = _sql_pq_adc()


def q_ann_ivfadc(spark, sf):
    """IVF + ADC composed: coarse k=8 quantizer restricts each of the
    10 lowest-vec_id queries to its 2 nearest cells; survivors score
    by the PQ lookup tables (m=2, k=8 per subspace) — top-3 by
    asymmetric distance."""
    from .operators.similarity import ann_ivfadc_topk, kmeans_fit_multi

    e = _t(spark, sf, "embeddings")
    # one fused fit: the whole-vector coarse quantizer and both PQ
    # subspaces share one sample collect and one aggregation job per
    # Lloyd iteration
    coarse, *cbs = kmeans_fit_multi(e, [(1, None), (1, 32), (33, 32)],
                                    k=8, iters=2)
    q = e.orderBy("vec_id").limit(10)
    return ann_ivfadc_topk(e, q, coarse, cbs, nprobe=2, topk=3) \
        .orderBy("query_id", "rank")


def _sql_ivfadc(k: int = 8, iters: int = 2, dim: int = 64,
                m: int = 2, nq: int = 10, nprobe: int = 2,
                topk: int = 3, seed_sample: int = 2048) -> str:
    """IVFADC twin: the coarse fit replays under the default CTE
    names (its asg = the cell restriction), the subspace fits under
    p{j} prefixes (their asg cells = the codes), probe selection
    mirrors the multiprobe twin, and ADC adds the per-subspace
    sequential-fold distances left-to-right."""
    sub = dim // m
    coarse_parts, cfin = _sql_kmeans_parts(k, iters, dim, seed_sample)
    all_parts = list(coarse_parts)
    fins: list[str] = []
    for j in range(m):
        parts, fin = _sql_kmeans_parts(
            k, iters, sub, seed_sample, prefix=f"p{j}",
            vexpr=f"CAST(embedding AS DOUBLE[])"
                  f"[{j * sub + 1}:{(j + 1) * sub}]",
        )
        parts[0] = parts[0][len("WITH "):]
        all_parts += parts
        fins.append(fin)
    d2 = _D2
    probe_d2 = d2.format(v="q.v", c="c.c")
    code_cols = ", ".join(f"a{j}.cell AS k{j}" for j in range(m))
    code_join = " ".join(
        f"JOIN p{j}asg a{j} USING (id)" for j in range(1, m))
    join_cells = " ".join(
        f"JOIN {fins[j]} c{j} ON c{j}.cell = d.k{j}" for j in range(m))
    adc_sum = " + ".join(
        d2.format(v=f"q.qv[{j * sub + 1}:{(j + 1) * sub}]", c=f"c{j}.c")
        for j in range(m)
    )
    all_parts += [
        f"pqcodes AS (SELECT a0.id, {code_cols} "
        f"FROM p0asg a0 {code_join})",
        f"qsel AS (SELECT id, v FROM base ORDER BY id LIMIT {nq})",
        f"""probe AS (
  SELECT id AS query_id, v AS qv, cell FROM (
    SELECT q.id, q.v, c.cell,
           row_number() OVER (PARTITION BY q.id
                              ORDER BY {probe_d2} ASC, c.cell ASC) AS rn
    FROM qsel q, {cfin} c
    WHERE q.v IS NOT NULL
      AND len(q.v) = {dim}) x
  WHERE rn <= {nprobe})""",
        f"padc AS (SELECT q.query_id, a.id AS neighbor_id, a.cell, "
        f"{adc_sum} AS adc "
        f"FROM probe q JOIN asg a ON a.cell = q.cell "
        f"AND a.id <> q.query_id "
        f"JOIN pqcodes d ON d.id = a.id {join_cells})",
    ]
    return ",\n".join(all_parts) + f"""
SELECT query_id, rank, neighbor_id, cell, round(adc, 6) AS adc FROM (
  SELECT query_id, neighbor_id, cell, adc,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY adc ASC, neighbor_id ASC) AS rank
  FROM padc) x
WHERE rank <= {topk} ORDER BY query_id, rank
"""


SQL_ANN_IVFADC = _sql_ivfadc()


def q_semdedup(spark, sf):
    """SemDeDup (Abbas et al. 2023): semantic dedup inside TRAINED
    k-means cells — pairwise cosine >= tau within a cell forms
    near-dup components; per component keep the member FARTHEST from
    the cell centroid (the paper's keep-the-atypical rule). Reuses the
    same deterministic k-means fit as ann_ivf_multiprobe, so the
    DuckDB twin replays the full fit + assignment + component + keep
    chain."""
    from .operators.similarity import kmeans_fit, semdedup

    e = _t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    return semdedup(e, cents, tau=0.35).orderBy("id")


def _sql_semdedup(k: int = 8, iters: int = 2, tau: float = 0.35,
                  seed_sample: int = 2048) -> str:
    """SemDeDup twin on the shared k-means replay: `asg` (final cell
    assignment) -> within-cell fold-cosine edges -> recursive-CTE
    connected components (cluster_id = min id) -> centroid cosine ->
    keep = lowest (cent_cos, id) per cluster. Cosines use the same
    list_sum sequential fold the Spark side folds with (bit-identical,
    so both the tau edge test and the keep ORDERING replay exactly —
    list_cosine_similarity would not)."""
    parts, fin = _sql_kmeans_parts(k, iters, seed_sample=seed_sample)
    dot = ("list_sum(list_transform(list_zip({a}, {b}), "
           "t -> t[1]*t[2]))")
    nrm = "sqrt(list_sum(list_transform({a}, t -> t*t)))"

    def cos(a, b):
        return (f"({dot.format(a=a, b=b)} / "
                f"({nrm.format(a=a)} * {nrm.format(a=b)}))")

    parts.append(f"""edges AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM asg a JOIN asg b ON a.cell = b.cell AND a.id < b.id
  WHERE {cos('a.v', 'b.v')} >= {tau!r})""")
    parts.append("""sym AS (
  SELECT id_a AS a, id_b AS b FROM edges
  UNION SELECT id_b, id_a FROM edges),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a WHERE r.a <> s.b)
  SELECT * FROM r),
clus AS (
  SELECT n.a AS id, least(n.a, min(r.b)) AS cluster_id
  FROM (SELECT DISTINCT a FROM sym) n JOIN reach r ON r.a = n.a
  GROUP BY n.a)""")
    parts.append(f"""mem AS (
  SELECT a.cell, c.cluster_id, c.id,
         {cos('a.v', 'ct.c')} AS cent_cos
  FROM clus c JOIN asg a ON a.id = c.id
  JOIN {fin} ct ON ct.cell = a.cell)""")
    return ",\n".join(parts) + """
SELECT cell, cluster_id, id, round(cent_cos, 6) AS cent_cos,
       (row_number() OVER (PARTITION BY cluster_id
                           ORDER BY cent_cos ASC, id ASC) = 1) AS keep
FROM mem ORDER BY id
"""


SQL_SEMDEDUP = _sql_semdedup()


def q_cluster_balanced_sample(spark, sf):
    """D4-style diversity sampling: equal per-cell quota (10) from the
    trained k-means cells, members picked in (md5(id), id) hash order
    — flattens the corpus's topic distribution instead of sampling
    proportional to cluster mass."""
    from .operators.similarity import cluster_balanced_sample, kmeans_fit

    e = _t(spark, sf, "embeddings")
    cents = kmeans_fit(e, k=8, iters=2)
    return cluster_balanced_sample(e, cents, per_cell=10) \
        .orderBy("cell", "pos")


def _sql_cluster_balanced(k: int = 8, iters: int = 2,
                          per_cell: int = 10,
                          seed_sample: int = 2048) -> str:
    """Twin on the shared k-means replay: rank `asg` members within
    each final cell by (md5(id), id) and keep the quota."""
    parts, _fin = _sql_kmeans_parts(k, iters, seed_sample=seed_sample)
    return ",\n".join(parts) + f"""
SELECT cell, pos::INT AS pos, id FROM (
  SELECT cell, id,
         row_number() OVER (
           PARTITION BY cell
           ORDER BY md5(CAST(id AS VARCHAR)) ASC, id ASC) AS pos
  FROM asg) x
WHERE pos <= {per_cell} ORDER BY cell, pos
"""


SQL_CLUSTER_BALANCED = _sql_cluster_balanced()


def q_lang_id(spark, sf):
    from .operators.textops import lang_id

    d = _t(spark, sf, "documents")
    out = lang_id(d)
    return (
        out.groupBy("guess_lang")
        .agg(F.count("*").alias("n"), F.sum("score").cast("long").alias("total_score"))
        .orderBy("guess_lang")
    )


SQL_LANG_ID = """
WITH toks AS (
  SELECT doc_id AS id, string_split(trim(lower(text)), ' ') AS t FROM documents),
sc AS (
  SELECT id,
    len(list_filter(t, x -> x IN ('der','und','die','ist','ein'))) AS s_de,
    len(list_filter(t, x -> x IN ('the','and','of','is','a'))) AS s_en,
    len(list_filter(t, x -> x IN ('el','y','la','es','un'))) AS s_es,
    len(list_filter(t, x -> x IN ('le','et','la','est','un'))) AS s_fr
  FROM toks),
pick AS (
  SELECT id,
    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
         WHEN s_en > s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
         WHEN s_es > s_de AND s_es > s_en AND s_es >= s_fr AND s_es > 0 THEN 'es'
         WHEN s_fr > s_de AND s_fr > s_en AND s_fr > s_es AND s_fr > 0 THEN 'fr'
         ELSE 'und' END AS guess_lang,
    greatest(s_de, s_en, s_es, s_fr) AS score
  FROM sc)
SELECT guess_lang, count(*) AS n, CAST(sum(score) AS BIGINT) AS total_score
FROM pick GROUP BY 1 ORDER BY 1
"""


def q_quality(spark, sf):
    from .operators.textops import quality_scores

    d = _t(spark, sf, "documents")
    q = quality_scores(d)
    return (
        q.groupBy("quality")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("stop_ratio").cast("decimal(20,6)"))
                .cast("double"), 6
            ).alias("sum_stop_ratio"),
        )
        .orderBy("quality")
    )


# per-doc quality CTE chain, shared by SQL_QUALITY and SQL_KEEP_BEST
_QUALITY_CTES = """q AS (
  SELECT doc_id AS id, length(text) AS n_chars,
         len(string_split(trim(lower(text)), ' ')) AS n_tokens,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split(trim(lower(text)), ' '),
             x -> x IN ('the','a','of','and','is','to','in'))) AS stop,
         length(regexp_replace(text, '\\s+', '', 'g')) AS n_nospace
  FROM documents),
m AS (
  SELECT id, n_chars,
         CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
         CASE WHEN n_tokens > 0 THEN stop::DOUBLE / n_tokens ELSE 0.0 END AS stop_ratio,
         CASE WHEN n_tokens > 0 THEN n_nospace::DOUBLE / n_tokens ELSE 0.0 END AS mean_word_len
  FROM q),
s AS (
  SELECT id, round(stop_ratio, 6) AS stop_ratio,
         round((CASE WHEN n_chars >= 200 THEN 0.25 WHEN n_chars >= 50 THEN 0.15 ELSE 0.0 END)
         + (CASE WHEN punct_ratio <= 0.1 THEN 0.25 ELSE 0.0 END)
         + (CASE WHEN stop_ratio >= 0.01 AND stop_ratio <= 0.6 THEN 0.25 ELSE 0.0 END)
         + (CASE WHEN mean_word_len >= 2.0 AND mean_word_len <= 12.0 THEN 0.25 ELSE 0.0 END), 2) AS quality
  FROM m)"""

SQL_QUALITY = f"""
WITH {_QUALITY_CTES}
SELECT quality, count(*) AS n,
       round(CAST(sum(CAST(stop_ratio AS DECIMAL(20,6))) AS DOUBLE), 6) AS sum_stop_ratio
FROM s GROUP BY 1 ORDER BY 1
"""


def q_gopher_rules(spark, sf):
    from .operators.textops import gopher_rules

    d = _t(spark, sf, "documents")
    return gopher_rules(d).orderBy("id")


SQL_GOPHER = r"""
WITH w AS (
  SELECT doc_id AS id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     x -> x <> '') AS words,
         string_split(text, chr(10)) AS lines,
         length(text) - length(replace(text, '#', '')) AS n_hash,
         (length(text) - length(replace(text, '...', ''))) // 3 AS n_ell
  FROM documents),
m AS (
  SELECT id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(len(lines) AS BIGINT) AS n_lines,
         CAST(coalesce(list_sum(list_transform(words, x -> length(x))), 0)
              AS BIGINT) AS sum_word_len,
         CAST(n_hash + n_ell AS BIGINT) AS n_sym,
         CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))
              AS BIGINT) AS n_alpha,
         CAST(len(list_filter(lines, x ->
              ltrim(x) LIKE '-%' OR ltrim(x) LIKE '*%'
              OR ltrim(x) LIKE '•%')) AS BIGINT) AS n_bullet,
         CAST(len(list_filter(lines, x ->
              rtrim(x) LIKE '%...' OR rtrim(x) LIKE '%…'))
              AS BIGINT) AS n_ell_lines,
         CAST(len(list_filter(
              ['the','be','to','of','and','that','have','with'],
              s -> list_contains(list_transform(words, x -> lower(x)), s)))
              AS BIGINT) AS n_stop
  FROM w),
r AS (
  SELECT id, n_words, n_lines,
         CASE WHEN n_words >= 50 AND n_words <= 100000 THEN 1 ELSE 0 END
             AS r_word_count,
         CASE WHEN sum_word_len >= 3 * n_words
                   AND sum_word_len <= 10 * n_words THEN 1 ELSE 0 END
             AS r_mean_word_len,
         CASE WHEN 10 * n_sym <= n_words THEN 1 ELSE 0 END AS r_symbol_ratio,
         CASE WHEN 10 * n_bullet <= 9 * n_lines THEN 1 ELSE 0 END
             AS r_bullet_lines,
         CASE WHEN 10 * n_ell_lines <= 3 * n_lines THEN 1 ELSE 0 END
             AS r_ellipsis_lines,
         CASE WHEN 5 * n_alpha >= 4 * n_words THEN 1 ELSE 0 END
             AS r_alpha_words,
         CASE WHEN n_stop >= 2 THEN 1 ELSE 0 END AS r_stopwords
  FROM m)
SELECT id, n_words, n_lines, r_word_count, r_mean_word_len,
       r_symbol_ratio, r_bullet_lines, r_ellipsis_lines, r_alpha_words,
       r_stopwords,
       r_word_count * r_mean_word_len * r_symbol_ratio * r_bullet_lines
       * r_ellipsis_lines * r_alpha_words * r_stopwords AS gopher_pass
FROM r ORDER BY id
"""


def q_winnow_pairs(spark, sf):
    from .operators.textops import winnow_shared_pairs

    d = _t(spark, sf, "documents")
    return winnow_shared_pairs(d).orderBy("id_a", "id_b")


SQL_WINNOW = r"""
WITH g AS (
  SELECT doc_id AS id,
         list_transform(
             range(1, greatest(length(text) - 8 + 1, 1) + 1),
             i -> md5(substr(text, i::INT, 8))) AS grams
  FROM documents),
f AS (
  SELECT id,
         list_distinct(list_transform(
             range(1, greatest(len(grams) - 4 + 1, 1) + 1),
             j -> list_aggregate(
                 list_slice(grams, j::INT, j::INT + 3), 'min'))) AS fps
  FROM g),
fp AS (SELECT id, unnest(fps) AS fp FROM f),
dfc AS (SELECT fp, count(*) AS dfc FROM fp GROUP BY 1),
good AS (SELECT fp.id, fp.fp FROM fp JOIN dfc USING (fp) WHERE dfc <= 8),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*)::BIGINT AS shared_fps
  FROM good a JOIN good b USING (fp)
  WHERE a.id < b.id GROUP BY 1, 2)
SELECT id_a, id_b, shared_fps FROM pairs
WHERE shared_fps >= 2 ORDER BY id_a, id_b
"""


def q_c4_clean(spark, sf):
    """The synthetic docs are single-line and unpunctuated (no C4 rule
    can fire on them), so the query derives a deterministic punctuated
    variant first — ' table ' becomes a sentence/line break, and two
    doc_id-keyed slices get the lorem-ipsum / curly-brace poison —
    with the identical derivation in the DuckDB twin."""
    from .operators.textops import c4_clean

    d = _t(spark, sf, "documents")
    doc_id = F.col("doc_id")
    text = F.regexp_replace(F.col("text"), " table ", ".\n")
    text = F.when(doc_id % 17 == 0, F.concat(text, F.lit(" lorem ipsum"))) \
        .otherwise(text)
    text = F.when(doc_id % 23 == 0, F.concat(text, F.lit(" {"))) \
        .otherwise(text)
    return c4_clean(d.select(doc_id, text.alias("text"))).orderBy("id")


SQL_C4 = r"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 23 = 0 THEN base || ' {'
              ELSE base END AS text
  FROM (
    SELECT doc_id,
           CASE WHEN doc_id % 17 = 0 THEN punct || ' lorem ipsum'
                ELSE punct END AS base
    FROM (
      SELECT doc_id,
             replace(text, ' table ', '.' || chr(10)) AS punct
      FROM documents))),
k AS (
  SELECT doc_id AS id, text,
         list_filter(string_split(text, chr(10)), l ->
             len(list_filter(regexp_split_to_array(trim(l), '\s+'),
                 y -> y <> '')) >= 5
             AND regexp_matches(rtrim(l), '[.!?"]$')
             AND NOT contains(lower(l), 'javascript')) AS kept
  FROM d),
m AS (
  SELECT id,
         -- array_to_string([]) is NULL in DuckDB (string_agg
         -- semantics); Spark concat_ws gives '' — align on ''
         coalesce(array_to_string(kept, chr(10)), '') AS text_clean,
         len(kept) AS n_lines_kept,
         CASE WHEN contains(lower(text), 'lorem ipsum') THEN 1 ELSE 0 END
             AS has_lorem_ipsum,
         CASE WHEN contains(text, '{') THEN 1 ELSE 0 END AS has_curly_brace
  FROM k),
s AS (
  SELECT id, text_clean, n_lines_kept,
         (length(text_clean)
          - length(regexp_replace(text_clean, '[.!?]', '', 'g')))::INT
             AS n_sentences,
         has_lorem_ipsum, has_curly_brace
  FROM m)
SELECT id, text_clean, n_lines_kept, n_sentences, has_lorem_ipsum,
       has_curly_brace,
       CASE WHEN has_lorem_ipsum = 0 AND has_curly_brace = 0
                 AND n_sentences >= 3 THEN 1 ELSE 0 END AS c4_keep
FROM s ORDER BY id
"""


def q_token_counts(spark, sf):
    from .operators.textops import token_counts

    d = _t(spark, sf, "documents")
    t = token_counts(d)
    return (
        t.groupBy()
        .agg(
            F.sum("ws_tokens").alias("total_ws"),
            F.sum("bpe_tokens").alias("total_bpe"),
            F.max("ws_tokens").alias("max_ws"),
        )
    )


SQL_TOKENS = """
SELECT CAST(sum(len(string_split(trim(lower(text)), ' '))) AS BIGINT) AS total_ws,
       CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]'))) AS BIGINT) AS total_bpe,
       max(len(string_split(trim(lower(text)), ' '))) AS max_ws
FROM documents
"""


def q_unigram_surprisal(spark, sf):
    """Unigram-LM perplexity-filter scores (integer-bit surprisal,
    corpus-fit vocab) per document."""
    from .operators.textops import unigram_surprisal_scores

    d = _t(spark, sf, "documents")
    return unigram_surprisal_scores(d).orderBy("id")


SQL_SURPRISAL = r"""
WITH tl AS (
  SELECT doc_id AS id,
         unnest(string_split_regex(trim(lower(text)), '\s+')) AS token
  FROM documents),
t2 AS (SELECT * FROM tl WHERE token <> ''),
freqs AS (SELECT token, count(*) AS freq FROM t2 GROUP BY 1),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total,
               CAST(floor(log2(CAST(sum(freq) AS DOUBLE))) AS BIGINT) + 1
                 AS oov_bits
        FROM freqs),
vocab AS (SELECT token, freq FROM freqs
          ORDER BY freq DESC, token LIMIT 50000),
scored AS (
  SELECT t2.id,
         CASE WHEN v.freq IS NULL THEN tot.oov_bits
              ELSE CAST(floor(log2(CAST(tot.total AS DOUBLE) / v.freq))
                        AS BIGINT) END AS bits
  FROM t2 LEFT JOIN vocab v USING (token), tot)
SELECT id,
       CAST(count(*) AS INT) AS n_tokens,
       CAST(sum(CASE WHEN bits = (SELECT oov_bits FROM tot)
                THEN 1 ELSE 0 END) AS INT) AS oov_tokens,
       CAST(sum(bits) AS BIGINT) AS sum_surprisal_bits,
       round(CAST(sum(bits) AS DOUBLE) / count(*), 6) + 0
         AS mean_surprisal_bits
FROM scored GROUP BY id ORDER BY id
"""


def q_pack_sequences(spark, sf):
    """GPT-style fixed-length sequence packing of the documents token
    stream (seq_len=256, ws counter): one row per (sequence,
    doc-slice) with doc-relative token spans and in-sequence offsets."""
    from .operators.textops import pack_sequences

    d = _t(spark, sf, "documents")
    return pack_sequences(d, 256).orderBy("seq_id", "id")


SQL_PACK_SEQUENCES = r"""
WITH counted AS (
  SELECT doc_id AS id,
         CAST(len(string_split_regex(trim(lower(text)), '\s+'))
              AS BIGINT) AS n_tokens
  FROM documents),
pre AS (
  SELECT id, n_tokens,
         CAST(sum(n_tokens) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED
           PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
  FROM counted),
d AS (SELECT id, n_tokens, cum, cum - n_tokens AS strt
      FROM pre WHERE n_tokens > 0),
ex AS (SELECT id, strt, cum,
              unnest(generate_series(strt // 256, (cum - 1) // 256))
                AS seq_id
       FROM d)
SELECT seq_id, id,
       greatest(strt, seq_id * 256) - strt AS doc_from,
       least(cum, (seq_id + 1) * 256) - strt AS doc_to,
       greatest(strt, seq_id * 256) - seq_id * 256 AS seq_off
FROM ex ORDER BY seq_id, id
"""


def q_bigram_lm(spark, sf):
    """Interpolated bigram-LM perplexity scores (CCNet-style gate one
    model order above unigram_surprisal) per document."""
    from .operators.textops import bigram_lm_scores

    d = _t(spark, sf, "documents")
    return bigram_lm_scores(d).orderBy("id")


# the bigram model fit + per-doc scoring as a reusable CTE chain
# (ends at `docscores`) — shared by the score query and the
# perplexity-bucket query so the twins cannot drift
_SQL_BIGRAM_CORE = r"""base AS (
  SELECT doc_id AS id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS toks
  FROM documents),
ne AS (SELECT * FROM base WHERE len(toks) > 0),
tl AS (SELECT id, unnest(toks) AS token FROM ne),
freqs AS (SELECT token, count(*) AS freq FROM tl GROUP BY 1),
tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total,
               CAST(floor(log2(CAST(sum(freq) AS DOUBLE))) AS BIGINT)
                 + 1 AS oov_bits
        FROM freqs),
vocab AS (SELECT token, freq FROM freqs
          ORDER BY freq DESC, token LIMIT 50000),
idx AS (SELECT id, toks,
               unnest(generate_series(1, len(toks) - 1)) AS i
        FROM ne),
pairs AS (SELECT id, toks[i] AS prev, toks[i + 1] AS cur FROM idx),
bigrams AS (SELECT prev, cur, count(*) AS c12 FROM pairs
            GROUP BY 1, 2
            ORDER BY c12 DESC, prev, cur LIMIT 200000),
events AS (
  SELECT id, CAST(NULL AS VARCHAR) AS prev, toks[1] AS cur FROM ne
  UNION ALL SELECT id, prev, cur FROM pairs),
j AS (
  SELECT e.id, e.prev, vc.freq AS c_cur, vp.freq AS c_prev, b.c12
  FROM events e
  LEFT JOIN vocab vc ON e.cur = vc.token
  LEFT JOIN vocab vp ON e.prev = vp.token
  LEFT JOIN bigrams b ON e.prev = b.prev AND e.cur = b.cur),
scored AS (
  SELECT id,
    CASE WHEN c_cur IS NULL THEN (SELECT oov_bits FROM tot)
         WHEN prev IS NULL OR c_prev IS NULL THEN
           CAST(floor(-log2(CAST(c_cur AS DOUBLE)
                            / (SELECT total FROM tot))) AS BIGINT)
         ELSE CAST(floor(-log2(
              (CAST(coalesce(c12, 0) AS DOUBLE) / c_prev
               + CAST(c_cur AS DOUBLE) / (SELECT total FROM tot))
              / 2)) AS BIGINT)
    END AS bits,
    CASE WHEN c_cur IS NULL THEN 1 ELSE 0 END AS is_oov,
    CASE WHEN c12 IS NOT NULL THEN 1 ELSE 0 END AS is_hit
  FROM j),
docscores AS (
  SELECT id,
         CAST(count(*) AS INT) AS n_tokens,
         CAST(sum(is_oov) AS INT) AS oov_tokens,
         CAST(sum(is_hit) AS INT) AS bigram_hits,
         CAST(sum(bits) AS BIGINT) AS sum_bits,
         round(CAST(sum(bits) AS DOUBLE) / count(*), 6) + 0 AS mean_bits
  FROM scored GROUP BY id)"""

SQL_BIGRAM_LM = (
    "WITH " + _SQL_BIGRAM_CORE
    + "\nSELECT * FROM docscores ORDER BY id"
)


def q_perplexity_buckets(spark, sf):
    """CCNet-style head/middle/tail perplexity split: bigram-LM scores
    + histogram-sketch 1/3 and 2/3 quantile thresholds."""
    from .operators.textops import perplexity_buckets

    d = _t(spark, sf, "documents")
    return perplexity_buckets(d).orderBy("id")


# histogram replay mirrors histogram_quantiles' arithmetic exactly:
# width = 32/512 = 0.0625 (exact binary), clamp in double before
# floor, rank = greatest(1, ceil(q*n)), answer = upper bucket edge
SQL_PPX_BUCKETS = (
    "WITH " + _SQL_BIGRAM_CORE + r""",
hist AS (
  SELECT CAST(floor(least(511.0, greatest(0.0, mean_bits / 0.0625)))
              AS INT) AS bucket, count(*) AS c
  FROM docscores GROUP BY 1),
n_tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
cdf AS (SELECT bucket,
               CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS cum
        FROM hist),
th AS (
  SELECT
    round((min(CASE WHEN cum >= greatest(1, ceil(n * (1.0/3.0)))
               THEN bucket END) + 1) * 0.0625, 6) + 0 AS p33,
    round((min(CASE WHEN cum >= greatest(1, ceil(n * (2.0/3.0)))
               THEN bucket END) + 1) * 0.0625, 6) + 0 AS p67
  FROM cdf, n_tot)
SELECT id, mean_bits,
       CASE WHEN mean_bits <= (SELECT p33 FROM th) THEN 'head'
            WHEN mean_bits <= (SELECT p67 FROM th) THEN 'middle'
            ELSE 'tail' END AS ppx_bucket
FROM docscores ORDER BY id
"""
)


def q_boilerplate_lines(spark, sf):
    """C4-style segment-level dedup, driven end-to-end (explode ->
    df-count -> anti-join -> ORDER-PRESERVING rebuild). The synthetic
    corpus is single-line (whole-doc '\\n' segments never repeat), so
    the query runs the operator at delimiter=' ' with a high df bar —
    ubiquitous segments are scrubbed corpus-wide and the rebuilt text
    must preserve the surviving order exactly."""
    from .operators.textops import remove_boilerplate_lines

    d = _t(spark, sf, "documents")
    return remove_boilerplate_lines(
        d, min_df=400, delimiter=" "
    ).orderBy("id")


SQL_BOILERPLATE = """
WITH p AS (
  SELECT doc_id AS id, string_split(text, ' ') AS parts FROM documents),
l AS (
  SELECT id, i - 1 AS pos, parts[i] AS line
  FROM p, UNNEST(range(1, len(parts) + 1)) AS u(i)),
boiler AS (
  SELECT md5(trim(line)) AS h FROM l WHERE trim(line) <> ''
  GROUP BY 1 HAVING count(DISTINCT id) >= 400),
kept AS (
  SELECT l.* FROM l LEFT JOIN boiler b ON md5(trim(l.line)) = b.h
  WHERE b.h IS NULL),
rebuilt AS (
  SELECT id, string_agg(line, ' ' ORDER BY pos) AS clean_text,
         CAST(count(*) AS INT) AS kept_lines
  FROM kept GROUP BY id)
SELECT d.doc_id AS id,
       coalesce(r.clean_text, '') AS clean_text,
       CAST(len(string_split(d.text, ' ')) AS INT) AS total_lines,
       coalesce(r.kept_lines, 0) AS kept_lines
FROM documents d LEFT JOIN rebuilt r ON r.id = d.doc_id
ORDER BY id
"""


def q_token_counts_bpe(spark, sf):
    """REAL byte-level BPE piece counts (functions/bpe.py) per
    document, under the committed 16-merge table — truncated so the
    counts differ from both whitespace and pretoken counts on this
    corpus (the full 512 table fuses every word: bpe == ws, a
    non-discriminating oracle). Oracle: golden parquet produced by the
    INDEPENDENT rank-order BPE formulation
    (scripts/make_golden_bpe.py); equivalence of the two formulations
    is itself hypothesis-fuzzed in tests/test_bpe.py.

    NOTE: like the kg_* entries, the golden is pinned to the driver's
    correctness scale (sf0.01 — regenerate via make_golden_bpe.py for
    any other); dual-engine comparisons at other sfs will mismatch by
    construction, while bench runs (no oracle) are unaffected."""
    from .operators.textops import token_counts

    merges = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "models", "bpe_merges_16.txt",
    )
    d = _t(spark, sf, "documents")
    return token_counts(d, tokenizer="bpe", merges_path=merges) \
        .orderBy("id")


_GOLDEN_BPE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tests", "golden", "token_counts_bpe.parquet",
)
SQL_TOKENS_BPE = f"""
SELECT id, ws_tokens, bpe_tokens
FROM read_parquet('{_GOLDEN_BPE}')
ORDER BY id
"""


def q_fingerprints(spark, sf):
    from .operators.textops import fingerprints

    d = _t(spark, sf, "documents")
    fp = fingerprints(d)
    return (
        fp.groupBy("fingerprint").agg(F.count("*").alias("n_docs"),
                                      F.min("id").alias("min_id"))
        .orderBy("fingerprint")
    )


SQL_FINGERPRINTS = """
WITH g AS (
  SELECT doc_id AS id,
         list_min(list_transform(range(1, greatest(length(text) - 8 + 1, 1) + 1),
                                 i -> md5(substr(text, i, 8)))) AS fingerprint
  FROM documents)
SELECT fingerprint, count(*) AS n_docs, min(id) AS min_id
FROM g GROUP BY 1 ORDER BY 1
"""


def q_gazetteer_mentions(spark, sf):
    """Aho-Corasick gazetteer matching over documents.text — counted
    per term; the oracle counts via substring arithmetic (terms chosen
    non-self-overlapping so the counts agree)."""
    from .operators.mentions import detect_mentions

    d = _t(spark, sf, "documents").select(
        F.col("doc_id").cast("string").alias("url"), "text"
    )
    terms = [("spark", "t"), ("join", "t"), ("window", "t"),
             ("customer", "t"), ("vector", "t")]
    m = detect_mentions(d, terms)
    return (
        m.groupBy("term").agg(F.count("*").alias("n_mentions"),
                              F.countDistinct("url").alias("n_docs"))
        .orderBy("term")
    )


SQL_GAZETTEER = """
WITH t AS (SELECT unnest(['spark','join','window','customer','vector']) AS term),
c AS (
  SELECT t.term, d.doc_id,
         (length(lower(d.text)) - length(replace(lower(d.text), t.term, '')))
           / length(t.term) AS cnt
  FROM documents d CROSS JOIN t)
SELECT term, CAST(sum(cnt) AS BIGINT) AS n_mentions, count(*) FILTER (WHERE cnt > 0) AS n_docs
FROM c GROUP BY 1 ORDER BY 1
"""



def q_doc_dup_clusters(spark, sf):
    """Canonicalization: connected components (salted label
    propagation) over the exact n-gram-Jaccard near-dup pair graph ->
    (id, cluster_id = min doc in component). The oracle replays the
    closure with a recursive CTE."""
    from .operators.canonicalize import duplicate_clusters
    from .operators.dedup import ngram_jaccard_pairs

    d = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(d, threshold=0.12, max_df=64)
    return duplicate_clusters(pairs).orderBy("id")


# near-dup cluster CTE chain (through `nodes`/`reach`), shared by
# SQL_DOC_CLUSTERS and SQL_KEEP_BEST
_CLUSTER_CTES = """toks AS (
  SELECT doc_id AS id, string_split(trim(lower(text)), ' ') AS t FROM documents),
sh AS (
  SELECT DISTINCT id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS shingle
  FROM toks, UNNEST(range(0, greatest(len(t) - 3, 0) + 1)) AS u(i)),
sh3 AS (SELECT id, shingle FROM sh WHERE len(string_split(shingle, ' ')) = 3),
rare AS (
  SELECT shingle FROM sh3 GROUP BY 1 HAVING count(*) <= 64),
cand_sh AS (SELECT sh3.* FROM sh3 JOIN rare USING (shingle)),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM cand_sh a JOIN cand_sh b ON a.shingle = b.shingle WHERE a.id < b.id),
sizes AS (SELECT id, count(*) AS n FROM sh3 GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c JOIN sh3 a ON a.id = c.id_a
  JOIN sh3 b ON b.id = c.id_b AND b.shingle = a.shingle GROUP BY 1, 2),
pairs0 AS (
  SELECT c.id_a, c.id_b
  FROM cand c JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
  JOIN sizes sa ON sa.id = c.id_a JOIN sizes sb ON sb.id = c.id_b
  WHERE i.inter::DOUBLE / (sa.n + sb.n - i.inter) >= 0.12),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs0
  UNION SELECT id_b, id_a FROM pairs0),
reach AS (
  WITH RECURSIVE r(a, b) AS (
    SELECT a, b FROM sym
    UNION
    SELECT r.a, s.b FROM r JOIN sym s ON r.b = s.a WHERE r.a <> s.b)
  SELECT * FROM r),
nodes AS (SELECT DISTINCT a AS id FROM sym)"""

SQL_DOC_CLUSTERS = f"""
WITH {_CLUSTER_CTES}
SELECT n.id, least(n.id, min(r.b)) AS cluster_id
FROM nodes n JOIN reach r ON r.a = n.id
GROUP BY n.id ORDER BY n.id
"""


def q_hll_distinct(spark, sf):
    """Portable HyperLogLog (p=12, ~1.6% error): per returnflag,
    estimated vs exact distinct order count over lineitem. The whole
    sketch — md5 registers, exact scaled harmonic sum, linear-counting
    correction — replays bit-for-bit in the DuckDB twin, which Spark's
    native approx_count_distinct cannot do."""
    from .operators.sketches import hll_distinct

    li = _t(spark, sf, "lineitem")
    hll = hll_distinct(li, "l_orderkey", ["l_returnflag"], p=12)
    exact = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_distinct"))
    return (
        exact.join(hll, "l_returnflag")
        .select(F.col("l_returnflag").alias("flag"), "exact_distinct",
                "n_registers_hit", "hll_estimate")
        .orderBy("flag")
    )


SQL_HLL = """
WITH h AS (
  SELECT l_returnflag AS flag, md5(CAST(l_orderkey AS VARCHAR)) AS hx
  FROM lineitem WHERE l_orderkey IS NOT NULL),
ir AS (
  SELECT flag,
         ((('0x' || substr(hx, 1, 8))::BIGINT % 4096))::INT AS idx,
         ('0x' || substr(hx, 9, 8))::BIGINT AS w
  FROM h),
regs AS (
  SELECT flag, idx,
         (33 - (CASE WHEN w > 0 THEN floor(log2(w)) + 1
                     ELSE 0 END))::INT AS m_rho
  FROM ir),
mx AS (SELECT flag, idx, max(m_rho) AS M FROM regs GROUP BY 1, 2),
stats AS (
  SELECT flag, count(*)::BIGINT AS n_hit,
         sum(pow(2.0, 33 - M))::BIGINT AS t_hit
  FROM mx GROUP BY 1),
est AS (
  SELECT flag, n_hit,
         ((0.7213 / (1.0 + 1.079 / 4096)) * 4096 * 4096 * 8589934592.0)
           / (t_hit + (4096 - n_hit) * 8589934592.0) AS raw
  FROM stats),
fin AS (
  SELECT flag, n_hit,
         CASE WHEN raw <= 10240.0 AND (4096 - n_hit) > 0
              THEN 4096.0 * ln(4096.0 / (4096 - n_hit))
              ELSE raw END AS e
  FROM est)
SELECT x.flag, x.exact_distinct, f.n_hit::INT AS n_registers_hit,
       round(f.e, 3) AS hll_estimate
FROM (SELECT l_returnflag AS flag,
             count(DISTINCT l_orderkey) AS exact_distinct
      FROM lineitem GROUP BY 1) x
JOIN fin f USING (flag) ORDER BY flag
"""


def q_countmin_words(spark, sf):
    """Heavy-hitter words via count-min: candidates from a
    deterministic hash-sample, counts from the d=4 × w=2048 cell
    table — the full word-cardinality groupBy never happens."""
    from .operators.dedup import tokens_col
    from .operators.sketches import countmin_heavy_hitters

    d = _t(spark, sf, "documents")
    words = (
        d.select(F.explode(tokens_col(F.col("text"))).alias("word"))
        .where(F.col("word") != "")
    )
    return countmin_heavy_hitters(
        words, "word", min_count=20, w=2048, d=4, candidate_rate=0.5
    ).orderBy("word")


SQL_COUNTMIN = r"""
WITH words AS (
  SELECT x AS v FROM (
    SELECT unnest(list_filter(
        regexp_split_to_array(trim(lower(text)), '\s+'),
        y -> y <> '')) AS x
    FROM documents)),
depths AS (SELECT unnest(range(4)) AS depth),
cells AS (
  SELECT depth,
         (('0x' || substr(md5(depth::VARCHAR || ':' || v), 1, 8))::BIGINT
          % 2048)::INT AS cell,
         count(*)::BIGINT AS c
  FROM words, depths GROUP BY 1, 2),
cand AS (
  SELECT DISTINCT v FROM words
  WHERE ('0x' || substr(md5(v), 1, 8))::BIGINT::DOUBLE
        / 4294967296.0 < 0.5),
probes AS (
  SELECT v, depth,
         (('0x' || substr(md5(depth::VARCHAR || ':' || v), 1, 8))::BIGINT
          % 2048)::INT AS cell
  FROM cand, depths),
est AS (
  SELECT p.v, min(coalesce(c.c, 0))::BIGINT AS cm_estimate
  FROM probes p LEFT JOIN cells c USING (depth, cell)
  GROUP BY 1)
SELECT v AS word, cm_estimate FROM est
WHERE cm_estimate >= 20 ORDER BY word
"""


def q_hist_quantiles(spark, sf):
    """Histogram quantile sketch (B=1024 over [0, 120000), error ≤
    one bucket = 117.1875): p50/p95 of l_extendedprice per returnflag
    — the O(B)-memory answer where a 10^12-row range sort isn't worth
    it; `grouping_sets_benchmarks` keeps the exact path."""
    from .operators.sketches import histogram_quantiles

    li = _t(spark, sf, "lineitem")
    return histogram_quantiles(
        li, "l_extendedprice", ["l_returnflag"],
        lo=0.0, hi=120000.0, n_buckets=1024, quantiles=(0.5, 0.95),
    ).withColumnRenamed("l_returnflag", "flag").orderBy("flag")


SQL_HIST_Q = """
WITH base AS (
  SELECT l_returnflag AS flag, CAST(l_extendedprice AS DOUBLE) AS v
  FROM lineitem WHERE l_extendedprice IS NOT NULL),
b AS (
  SELECT flag,
         floor(least(1023.0, greatest(0.0, (v - 0.0) / 117.1875)))::INT
           AS bucket
  FROM base),
c AS (SELECT flag, bucket, count(*)::BIGINT AS c FROM b GROUP BY 1, 2),
w AS (
  SELECT flag, bucket, c,
         sum(c) OVER (PARTITION BY flag ORDER BY bucket) AS cum,
         sum(c) OVER (PARTITION BY flag) AS n
  FROM c)
SELECT flag, max(n)::BIGINT AS n_rows,
       round(0.0 + (min(CASE WHEN cum >= greatest(1, ceil(0.5 * n))
                             THEN bucket END) + 1) * 117.1875, 6) AS p50,
       round(0.0 + (min(CASE WHEN cum >= greatest(1, ceil(0.95 * n))
                             THEN bucket END) + 1) * 117.1875, 6) AS p95
FROM w GROUP BY flag ORDER BY flag
"""


def q_kmv_overlap(spark, sf):
    """KMV-sketch cross-source vocabulary overlap: estimated token
    Jaccard between every source pair from 256-row sketches — the
    cheap pre-flight before the exact decontamination join."""
    from .operators.dedup import tokens_col
    from .operators.sketches import kmv_pairwise_jaccard

    d = _t(spark, sf, "documents")
    toks = d.select(
        "source",
        F.explode(tokens_col(F.col("text"))).alias("token"),
    ).where(F.col("token") != "")
    return kmv_pairwise_jaccard(toks, "token", "source", k=256) \
        .orderBy("set_a", "set_b")


SQL_KMV = """
WITH toks AS (
  SELECT DISTINCT source AS s, t.value
  FROM documents,
       UNNEST(string_split_regex(trim(lower(text)), '\\s+')) AS t(value)
  WHERE t.value <> '' AND t.value IS NOT NULL),
fr AS (
  SELECT s, value,
         (('0x' || substr(md5(value), 1, 13))::BIGINT)
           / 4503599627370496.0 AS frac
  FROM toks),
sk AS (
  SELECT s, frac, value FROM (
    SELECT s, frac, value,
           row_number() OVER (PARTITION BY s
                              ORDER BY frac ASC, value ASC) AS pos
    FROM fr) x WHERE pos <= 256),
prs AS (
  SELECT a.s AS set_a, b.s AS set_b
  FROM (SELECT DISTINCT s FROM sk) a, (SELECT DISTINCT s FROM sk) b
  WHERE a.s < b.s),
union_rows AS (
  SELECT set_a, set_b, frac, value, count(*) AS sides FROM (
    SELECT p.set_a, p.set_b, m.frac, m.value
    FROM prs p JOIN sk m ON m.s = p.set_a
    UNION ALL
    SELECT p.set_a, p.set_b, m.frac, m.value
    FROM prs p JOIN sk m ON m.s = p.set_b) u
  GROUP BY 1, 2, 3, 4),
merged AS (
  SELECT * FROM (
    SELECT set_a, set_b, frac, value, sides,
           row_number() OVER (PARTITION BY set_a, set_b
                              ORDER BY frac ASC, value ASC) AS pos
    FROM union_rows) x WHERE pos <= 256)
SELECT set_a, set_b, count(*)::INT AS n_merged,
       sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END)::INT AS n_both,
       round(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END)::BIGINT
             / count(*), 6) AS kmv_jaccard
FROM merged GROUP BY 1, 2 ORDER BY set_a, set_b
"""


def q_pagerank_neardup(spark, sf):
    """Integer-exact PageRank (4 rounds, 17/20 damping, 10^6-unit
    ranks) over the symmetrized near-dup pair graph — 'how central is
    this document in its duplication neighborhood', the
    prior-popularity signal shape over an alias/identity graph."""
    from .operators.dedup import ngram_jaccard_pairs
    from .operators.graphs import pagerank_int

    d = _t(spark, sf, "documents")
    # materialize the expensive pair generation once — the symmetrize
    # union below reads it from both sides in a single job
    pairs = ngram_jaccard_pairs(d, threshold=0.12, max_df=64) \
        .localCheckpoint(eager=True)
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(pairs.select(
        F.col("id_b").alias("src"), F.col("id_a").alias("dst")
    ))
    return pagerank_int(sym, iters=4).orderBy("id")


def _sql_pagerank(iters: int = 4, scale: int = 1_000_000,
                  num: int = 17, den: int = 20, *,
                  prelude: str | None = None,
                  edges: str = "sym", a: str = "a",
                  b: str = "b") -> str:
    """Twin generator: a prelude defining `nodes(id)` and an edge CTE,
    then the integer PageRank recurrence unrolled — every engine-side
    op is an integer multiply / floor divide / sum, so the replay is
    bit-exact. Defaults replay the shared near-dup `sym` edges; the
    domain-graph twin passes its own prelude/edge names."""
    teleport = (scale * (den - num)) // den
    parts = [
        prelude if prelude is not None else f"WITH {_CLUSTER_CTES}",
        f"deg AS (SELECT {a} AS src, count(*)::BIGINT AS deg "
        f"FROM {edges} GROUP BY 1)",
        f"r0 AS (SELECT id, {scale}::BIGINT AS r FROM nodes)",
    ]
    for i in range(iters):
        parts.append(f"""r{i + 1} AS (
  SELECT n.id, ({teleport} + coalesce(c.s, 0))::BIGINT AS r
  FROM nodes n LEFT JOIN (
    SELECT s.{b} AS id, sum(({num} * r.r) // ({den} * d.deg))::BIGINT AS s
    FROM {edges} s JOIN r{i} r ON r.id = s.{a} JOIN deg d ON d.src = s.{a}
    GROUP BY 1) c USING (id))""")
    return ",\n".join(parts) + f"""
SELECT id, r AS rank_units FROM r{iters} ORDER BY id
"""


SQL_PAGERANK = _sql_pagerank()


def q_domain_pagerank(spark, sf):
    """Domain-level PageRank over a deterministic synthetic link graph
    derived from document ids: page d(i%40).test carries one double-
    and one single-quoted href to d((7i+1)%40).test / d((13i+3)%40)
    .test — both engines construct the identical graph from the same
    table, then the full chain (href extraction, domain contraction,
    self-loop drop, integer PageRank) replays end-to-end."""
    from .operators.webgraph import domain_pagerank

    i = F.col("doc_id")
    url = F.concat(F.lit("https://d"), (i % 40).cast("string"),
                   F.lit(".test/p"))
    html = F.concat(
        F.lit('<a href="https://d'),
        ((i * 7 + 1) % 40).cast("string"), F.lit('.test/x">a</a>'),
        F.lit("<a href='https://d"),
        ((i * 13 + 3) % 40).cast("string"), F.lit(".test/y'>b</a>"),
    )
    pages = _t(spark, sf, "documents").select(
        url.alias("url"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.lit(None).cast("string").alias("text"),
        F.lit("en").alias("lang"),
    )
    return domain_pagerank(pages, iters=4).orderBy("id")


_DOMAIN_EDGE_PRELUDE = r"""WITH pg AS (
  SELECT doc_id % 40 AS sd, (doc_id * 7 + 1) % 40 AS d1,
         (doc_id * 13 + 3) % 40 AS d2
  FROM documents),
lk AS (
  SELECT 'd' || sd || '.test' AS src, 'd' || d1 || '.test' AS dst
  FROM pg
  UNION ALL
  SELECT 'd' || sd || '.test', 'd' || d2 || '.test' FROM pg),
ed AS (SELECT DISTINCT src, dst FROM lk WHERE src <> dst),
nodes AS (SELECT src AS id FROM ed UNION SELECT dst FROM ed)"""

SQL_DOMAIN_PAGERANK = _sql_pagerank(
    prelude=_DOMAIN_EDGE_PRELUDE, edges="ed", a="src", b="dst",
)


def q_dedup_keep_best(spark, sf):
    """Cluster selection policy: for every multi-member near-dup
    cluster, keep the best-quality representative (quality desc, id
    asc) — the step that turns canonicalization output into an actual
    corpus decision."""
    from .operators.canonicalize import dedup_keep_best

    d = _t(spark, sf, "documents")
    return dedup_keep_best(d, threshold=0.12, max_df=64) \
        .orderBy("cluster_id")


SQL_KEEP_BEST = f"""
WITH {_CLUSTER_CTES},
{_QUALITY_CTES},
clus AS (
  SELECT n.id, least(n.id, min(r.b)) AS cluster_id
  FROM nodes n JOIN reach r ON r.a = n.id GROUP BY n.id),
member AS (
  SELECT s.id, coalesce(c.cluster_id, s.id) AS cluster_id, s.quality
  FROM s LEFT JOIN clus c USING (id)),
ranked AS (
  SELECT cluster_id, id, quality,
         row_number() OVER (PARTITION BY cluster_id
                            ORDER BY quality DESC, id ASC) AS rn,
         count(*) OVER (PARTITION BY cluster_id) AS n_members
  FROM member)
SELECT cluster_id, id AS kept_id, quality AS kept_quality,
       CAST(n_members AS INT) AS n_members
FROM ranked WHERE rn = 1 AND n_members > 1 ORDER BY cluster_id
"""


def q_global_topk(spark, sf):
    """O3: global ORDER BY ... LIMIT (TakeOrderedAndProject) — the
    SPARQL 'ORDER BY DESC LIMIT 20' shape."""
    o = _t(spark, sf, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(20)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.col("o_orderpriority").alias("priority"),
        )
    )


SQL_GLOBAL_TOPK = """
SELECT o_orderkey AS orderkey, round(o_totalprice, 2) AS totalprice,
       o_orderpriority AS priority
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20
"""


def q_embedding_near_dup(spark, sf):
    """Embedding-cosine near-duplicate pairs, cell-restricted (IVF
    coarse cells bound the pair space — never n² across cells)."""
    from .operators.similarity import _dot, _norm

    e = _t(spark, sf, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        F.col("label").alias("cell"),
    # norm hoisted out of the pair predicate (once per row, not per
    # pair — HOF folds are interpreted); same IEEE value as cosine_col
    ).withColumn("nrm", _norm(F.col("v")))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
                 F.col("nrm").alias("na"), "cell")
    b = e.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
                 F.col("nrm").alias("nb"), "cell")
    j = a.join(b, "cell").where(F.col("id_a") < F.col("id_b"))
    j = j.withColumn(
        "cos",
        _dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
    )
    return (
        j.where(F.col("cos") >= 0.35)
        .select("cell", "id_a", "id_b", F.round("cos", 6).alias("cos"))
        .orderBy("id_a", "id_b")
    )


SQL_EMB_NEAR_DUP = """
SELECT a.label AS cell, a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 6) AS cos
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                             CAST(b.embedding AS DOUBLE[])) >= 0.35
ORDER BY id_a, id_b
"""

def q_repetition(spark, sf):
    """Gopher-style repetition metrics per doc (dup 5-gram fraction +
    top-word frequency share)."""
    from .operators.textops import repetition_scores

    d = _t(spark, sf, "documents")
    return repetition_scores(d).orderBy("id")


SQL_REPETITION = """
WITH toks AS (
  SELECT doc_id AS id, unnest(string_split(trim(lower(text)), ' ')) AS tok
  FROM documents),
tk AS (SELECT id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2),
words AS (
  SELECT id, CAST(sum(c) AS BIGINT) AS n_words, max(c) AS top_c
  FROM tk GROUP BY 1),
tl AS (
  SELECT doc_id AS id, string_split(trim(lower(text)), ' ') AS t
  FROM documents),
grams0 AS (
  SELECT id, concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4], t[i+5]) AS gram
  FROM tl, UNNEST(range(0, greatest(len(t) - 5, 0) + 1)) AS u(i)),
grams AS (
  SELECT id, gram FROM grams0 WHERE len(string_split(gram, ' ')) = 5),
g AS (
  SELECT id, count(*) AS n_grams, count(DISTINCT gram) AS n_distinct
  FROM grams GROUP BY 1)
SELECT w.id, w.n_words,
       round(w.top_c / w.n_words, 6) AS top_word_frac,
       CASE WHEN g.n_grams > 0
            THEN round(1 - g.n_distinct / g.n_grams, 6) END AS dup_ngram_frac
FROM words w LEFT JOIN g ON g.id = w.id
ORDER BY w.id
"""


def q_cross_source_overlap(spark, sf):
    """Benchmark-decontamination shape: docs of source 'src0' (the
    held-out set) sharing any 8-gram with docs of other sources."""
    from .operators.textops import cross_source_overlap

    d = _t(spark, sf, "documents")
    return cross_source_overlap(d, "src0").orderBy("test_id")


SQL_CROSS_SOURCE = """
WITH tl AS (
  SELECT doc_id AS id, source, string_split(trim(lower(text)), ' ') AS t
  FROM documents),
grams0 AS (
  SELECT id, source,
         concat_ws(' ', t[i+1], t[i+2], t[i+3], t[i+4],
                   t[i+5], t[i+6], t[i+7], t[i+8]) AS gram
  FROM tl, UNNEST(range(0, greatest(len(t) - 8, 0) + 1)) AS u(i)),
sh0 AS (
  SELECT DISTINCT id, source, gram FROM grams0
  WHERE len(string_split(gram, ' ')) = 8),
rare AS (SELECT gram FROM sh0 GROUP BY 1 HAVING count(*) <= 64),
sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (gram)),
hits AS (
  SELECT a.id AS test_id, b.id AS train_id, count(*) AS shared
  FROM sh a JOIN sh b ON a.gram = b.gram
  WHERE a.source = 'src0' AND b.source <> 'src0'
  GROUP BY 1, 2)
SELECT test_id, count(*) AS n_train_matches,
       CAST(max(shared) AS BIGINT) AS max_shared_grams
FROM hits GROUP BY 1 ORDER BY 1
"""


def q_quality_classifier(spark, sf):
    """Trained hashed-feature quality classifier (committed logistic
    model distilled from the quality rubric) applied corpus-wide —
    per-doc margin + prediction, margins as decimal sums (portable)."""
    from .operators.classifier import classifier_scores

    d = _t(spark, sf, "documents")
    return classifier_scores(d).orderBy("id")


def _sql_quality_classifier() -> str:
    """DuckDB twin with the SAME committed weights rendered as literal
    VALUES rows (exact reprs, cast to DOUBLE at use sites)."""
    from .operators.classifier import load_linear_model

    weights, bias = load_linear_model()
    vals = ", ".join(
        f"({i}, CAST('{w!r}' AS DOUBLE))" for i, w in enumerate(weights)
    )
    return f"""
WITH w(bucket, w) AS (VALUES {vals}),
toks AS (
  SELECT doc_id AS id, unnest(string_split(trim(lower(text)), ' ')) AS token
  FROM documents),
feats AS (
  SELECT DISTINCT id,
         CAST(('0x' || substr(md5(token), 1, 8))::BIGINT % {len(weights)}
              AS INT) AS bucket
  FROM toks WHERE token <> ''),
m AS (
  SELECT f.id, count(*) AS n_feature_buckets,
         sum(CAST(w.w AS DECIMAL(38,12))) AS m
  FROM feats f JOIN w USING (bucket) GROUP BY 1),
j AS (
  SELECT d.doc_id AS id,
         coalesce(m.n_feature_buckets, 0) AS n_feature_buckets,
         coalesce(m.m, CAST(0 AS DECIMAL(38,12)))
           + CAST('{bias!r}' AS DECIMAL(38,12)) AS margin_d
  FROM documents d LEFT JOIN m ON m.id = d.doc_id)
SELECT id, CAST(n_feature_buckets AS INT) AS n_feature_buckets,
       round(CAST(margin_d AS DOUBLE), 6) AS margin,
       margin_d > 0 AS pred
FROM j ORDER BY id
"""


# registered as the CALLABLE, resolved by __spark_entry__.oracle_sql()
# at call time: evaluating here would load the committed .npz at
# module import, breaking `import queries` in any environment missing
# the model artifact and taxing every unrelated import
SQL_QUALITY_CLF = _sql_quality_classifier


def q_bm25_topk(spark, sf):
    """BM25 top-5 documents for 3 probe queries (the first 8 tokens of
    docs 0/1/2 — self-retrieval probes derived from the corpus itself,
    so both engines construct identical queries). Integer-bit idf +
    decimal score sums keep the scores engine-portable."""
    from .operators.dedup import tokens_col
    from .operators.retrieval import bm25_topk

    d = _t(spark, sf, "documents")
    probes = d.where(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"),
        F.slice(tokens_col(F.col("text")), 1, 8).alias("terms"),
    )
    return bm25_topk(d, probes, k=5).orderBy("query_id", "rank")


def _sql_bm25(k: int = 5, k1: float = 1.2, b: float = 0.75) -> str:
    """DuckDB twin generated from the SAME Python-computed constants
    the Spark operator embeds (numeric literals in DuckDB default to
    DECIMAL — every constant is CAST AS DOUBLE via its exact repr)."""
    d = lambda x: f"CAST('{x!r}' AS DOUBLE)"  # noqa: E731
    k1p1 = k1 + 1.0
    one_minus_b = 1.0 - b
    return f"""
WITH toks AS (
  SELECT doc_id AS doc, unnest(string_split(trim(lower(text)), ' ')) AS token
  FROM documents),
lens AS (
  SELECT doc_id AS doc,
         len(list_filter(string_split(trim(lower(text)), ' '),
             t -> t <> '')) AS len
  FROM documents),
stats AS (
  SELECT count(*) AS n_docs,
         CAST(sum(len) AS DOUBLE) / count(*) AS avg_len FROM lens),
qt AS (
  SELECT DISTINCT doc_id AS query_id, unnest(
    list_slice(string_split(trim(lower(text)), ' '), 1, 8)) AS token
  FROM documents WHERE doc_id < 3),
tf AS (
  SELECT doc, token, count(*) AS tf FROM toks
  WHERE token <> '' AND token IN (SELECT token FROM qt)
  GROUP BY 1, 2),
dfq AS (
  SELECT token,
         CAST(floor(log2(CAST((SELECT n_docs FROM stats) + 1 AS DOUBLE)
                         / count(*))) AS BIGINT) AS idf_bits
  FROM tf GROUP BY token),
scored AS (
  SELECT q.query_id, t.doc,
         sum(CAST(d.idf_bits * (t.tf * {d(k1p1)} / (t.tf + {d(k1)} *
             ({d(one_minus_b)} + {d(b)} * l.len /
              (SELECT avg_len FROM stats))))
             AS DECIMAL(38,12))) AS score_d
  FROM tf t
  JOIN dfq d USING (token)
  JOIN qt q USING (token)
  JOIN lens l ON l.doc = t.doc
  GROUP BY 1, 2),
r AS (
  SELECT query_id, doc AS doc_id,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score_d DESC, doc ASC) AS rank,
         round(CAST(score_d AS DOUBLE), 6) AS score
  FROM scored)
SELECT query_id, rank, doc_id, score FROM r
WHERE rank <= {k} ORDER BY query_id, rank
"""


SQL_BM25 = _sql_bm25()


def q_near_dup_decon(spark, sf):
    """Paraphrase-level decontamination: training docs whose shingle
    Jaccard with any held-out ('src0') doc clears the threshold, via a
    cross-source MinHash-LSH join (train buckets never self-join; the
    held-out bucket side broadcasts)."""
    from .operators.decontaminate import near_dup_decontaminate

    d = _t(spark, sf, "documents")
    return near_dup_decontaminate(d, "src0", threshold=0.05) \
        .orderBy("test_id")


SQL_NEAR_DUP_DECON = """
WITH slim AS (
  SELECT doc_id AS id, source, string_split(trim(lower(text)), ' ') AS t
  FROM documents),
sh0 AS (
  SELECT DISTINCT id, concat_ws(' ', t[i+1], t[i+2], t[i+3]) AS shingle
  FROM slim, UNNEST(range(0, greatest(len(t) - 3, 0) + 1)) AS u(i)),
sh3 AS (SELECT id, shingle FROM sh0
        WHERE len(string_split(shingle, ' ')) = 3),
mh AS (
  SELECT id, seed,
         min(md5(concat(CAST(seed AS VARCHAR), '|', shingle))) AS minhash
  FROM sh3, UNNEST(range(0, 8)) AS s(seed) GROUP BY 1, 2),
bands AS (
  SELECT id, seed % 4 AS band,
         md5(list_aggregate(list_sort(list(concat(CAST(seed AS VARCHAR),
             ':', minhash))), 'string_agg', ',')) AS bucket
  FROM mh GROUP BY 1, 2),
src AS (SELECT DISTINCT id, source FROM slim),
bs AS (SELECT b.id, b.band, b.bucket, s.source
       FROM bands b JOIN src s USING (id)),
train_b0 AS (SELECT * FROM bs WHERE source <> 'src0'),
train_b AS (
  SELECT * FROM train_b0
  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= 64),
eval_b AS (SELECT * FROM bs WHERE source = 'src0'),
cand AS (
  SELECT DISTINCT a.id AS id_a, e.id AS id_b
  FROM train_b a JOIN eval_b e
    ON a.band = e.band AND a.bucket = e.bucket),
sizes AS (SELECT id, count(*) AS n FROM sh3 GROUP BY 1),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN sh3 a ON a.id = c.id_a
  JOIN sh3 b ON b.id = c.id_b AND b.shingle = a.shingle
  GROUP BY 1, 2),
jac AS (
  SELECT c.id_a, c.id_b,
         CAST(coalesce(i.inter, 0) AS DOUBLE)
           / (na.n + nb.n - coalesce(i.inter, 0)) AS jaccard
  FROM cand c
  LEFT JOIN inter i USING (id_a, id_b)
  JOIN sizes na ON na.id = c.id_a
  JOIN sizes nb ON nb.id = c.id_b)
SELECT id_b AS test_id, count(*) AS n_train_near_dups,
       round(max(jaccard), 6) AS max_jaccard
FROM jac WHERE jaccard >= 0.05
GROUP BY 1 ORDER BY 1
"""


def q_pii_scrub(spark, sf):
    """PII masking sweep stats over the corpus (emails/cards/IBANs/
    SSNs/IPs/phones/addresses -> tokens); corpus-level scrub summary."""
    from .operators.textops import pii_scrub

    d = _t(spark, sf, "documents")
    s = pii_scrub(d)
    return s.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("text_scrubbed") != F.col("text"), 1)
              .otherwise(0)).alias("n_docs_changed"),
        F.sum("pii_removed_chars").cast("long").alias("total_removed_chars"),
    )


def _pii_sql_chain() -> str:
    """The oracle regexp_replace chain GENERATED from PII_PATTERNS so
    the two engines can never drift (patterns are portable Java/RE2:
    no backrefs, no lookaround, no quote chars)."""
    from .operators.textops import PII_PATTERNS

    expr = "text"
    for _, pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr},\n  '{pat}', '{token}', 'g')"
    return expr


SQL_PII = f"""
WITH s AS (SELECT text, {_pii_sql_chain()} AS scrubbed FROM documents)
SELECT count(*) AS n_docs,
       CAST(sum(CASE WHEN scrubbed <> text THEN 1 ELSE 0 END) AS BIGINT)
         AS n_docs_changed,
       CAST(sum(greatest(length(text) - length(scrubbed), 0)) AS BIGINT)
         AS total_removed_chars
FROM s
"""


def q_pii_cards(spark, sf):
    """Luhn card-number DETECTION sweep (non-destructive audit of bare
    13-19-digit runs the precision-doctrine scrubber leaves alone):
    corpus totals of candidate runs and Luhn-valid ones."""
    from .operators.textops import pii_card_stats

    d = _t(spark, sf, "documents")
    s = pii_card_stats(d)
    return s.groupBy().agg(
        F.count("*").alias("n_docs"),
        F.sum("card_candidates").cast("long").alias("total_candidates"),
        F.sum("luhn_valid").cast("long").alias("total_luhn_valid"),
    )


# DuckDB twin replays candidate extraction AND the Luhn checksum with
# list lambdas — NOTE DuckDB lambda indexes are 1-BASED (double when
# i % 2 = 0 counting from the reversed tail) where Spark transform's
# are 0-based (double when i % 2 = 1).
SQL_PII_CARDS = r"""
WITH c AS (
  SELECT regexp_extract_all(text, '\b\d(?:[ -]?\d){12,18}\b') AS cands
  FROM documents),
v AS (
  SELECT len(cands) AS nc,
         len(list_filter(cands, cand ->
           len(regexp_extract_all(cand, '\d')) BETWEEN 13 AND 19 AND
           list_sum(list_transform(
             list_reverse(list_transform(
               regexp_extract_all(cand, '\d'), x -> CAST(x AS INT))),
             (x, i) -> CASE WHEN i % 2 = 0
                       THEN CASE WHEN x * 2 > 9 THEN x * 2 - 9
                            ELSE x * 2 END
                       ELSE x END)) % 10 = 0
         )) AS nv
  FROM c)
SELECT count(*) AS n_docs,
       CAST(coalesce(sum(nc), 0) AS BIGINT) AS total_candidates,
       CAST(coalesce(sum(nv), 0) AS BIGINT) AS total_luhn_valid
FROM v
"""




def q_stratified_sample(spark, sf):
    """Deterministic hash-threshold down-sampling per source stratum —
    reproducible across reruns/retries (pure function of doc_id), so
    speculative re-execution never resamples a different corpus."""
    from .operators.textops import stratified_sample

    d = _t(spark, sf, "documents")
    s = stratified_sample(d, {"src0": 0.25, "src1": 1.0},
                          default_rate=0.5)
    return (
        s.groupBy("source")
        .agg(F.count("*").alias("n_kept"),
             F.min("doc_id").alias("min_id"),
             F.max("doc_id").alias("max_id"))
        .orderBy("source")
    )


def q_mix_token_budgets(spark, sf):
    """Corpus mixing to absolute per-source token budgets (src0 capped
    at 3000 tokens, src1 at 1200, everything else dropped); per-source
    summary of what survived."""
    from .operators.textops import mix_to_token_budgets
    from .operators.dedup import tokens_col

    d = _t(spark, sf, "documents")
    kept = mix_to_token_budgets(
        d, {"src0": 3000, "src1": 1200}, default_rate=0.0
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(F.size(tokens_col(F.col("text"))))
            .cast("long").alias("kept_tokens"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


# the twin re-derives the SAME rates (min(1, budget/total) in IEEE
# double — both engines divide exact integers) and replays the hash
# threshold
SQL_MIX = r"""
WITH tot AS (
  SELECT source,
         sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS t
  FROM documents GROUP BY 1),
r AS (
  SELECT source,
         CASE WHEN source = 'src0' THEN least(1.0, 3000 / CAST(t AS DOUBLE))
              WHEN source = 'src1' THEN least(1.0, 1200 / CAST(t AS DOUBLE))
              ELSE 0.0 END AS rate
  FROM tot),
s AS (
  SELECT d.*, (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
              / 4294967296.0 AS frac, r.rate
  FROM documents d JOIN r USING (source))
SELECT source, count(*) AS n_kept,
       CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
            AS BIGINT) AS kept_tokens,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM s WHERE frac < rate GROUP BY 1 ORDER BY 1
"""


SQL_STRATIFIED = """
WITH s AS (
  SELECT *, (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
            / 4294967296.0 AS frac
  FROM documents)
SELECT source, count(*) AS n_kept, min(doc_id) AS min_id,
       max(doc_id) AS max_id
FROM s
WHERE frac < CASE WHEN source = 'src0' THEN 0.25
                  WHEN source = 'src1' THEN 1.0 ELSE 0.5 END
GROUP BY 1 ORDER BY 1
"""


def q_dsir_select(spark, sf):
    """DSIR (Xie et al. 2023) deterministic selection: treat source
    'src0' documents as the TARGET distribution, every other source as
    the raw pool; hashed uni+bigram bag models (B=8192, Laplace
    smoothed), per-doc integer-bit-quantized importance weights, top-20
    by (weight_bits desc, id asc)."""
    from .operators.dsir import dsir_select_topk

    d = _t(spark, sf, "documents")
    target = d.where(F.col("source") == "src0")
    raw = d.where(F.col("source") != "src0")
    return dsir_select_topk(raw, target, k=20)


_DSIR_B = 8192

SQL_DSIR = f"""
WITH toks AS (
  SELECT doc_id AS id, source,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS t
  FROM documents),
grams AS (
  SELECT id, source, unnest(list_concat(t,
           CASE WHEN len(t) >= 2
                THEN list_transform(range(1, len(t)),
                                    i -> t[i] || ' ' || t[i+1])
                ELSE [] END)) AS gram
  FROM toks),
feats AS (
  SELECT id, source,
         (('0x' || substr(md5(gram), 1, 8))::BIGINT % {_DSIR_B})
           ::INT AS bucket,
         count(*)::BIGINT AS n
  FROM grams WHERE gram <> '' GROUP BY 1, 2, 3),
rfeats AS (SELECT id, bucket, n FROM feats WHERE source <> 'src0'),
tfeats AS (SELECT id, bucket, n FROM feats WHERE source = 'src0'),
rm AS (SELECT bucket, sum(n)::BIGINT AS cnt_r FROM rfeats GROUP BY 1),
tm AS (SELECT bucket, sum(n)::BIGINT AS cnt_t FROM tfeats GROUP BY 1),
tot AS (
  SELECT (SELECT coalesce(sum(n), 0) FROM rfeats)::DOUBLE AS tot_r,
         (SELECT coalesce(sum(n), 0) FROM tfeats)::DOUBLE AS tot_t),
lam AS (
  SELECT bucket,
         floor(log2(((coalesce(cnt_t, 0) + 1)
                       * (tot.tot_r + {_DSIR_B}))
                    / ((coalesce(cnt_r, 0) + 1)
                       * (tot.tot_t + {_DSIR_B})))
               * 1024 + 0.5)::BIGINT AS lam_mb
  FROM rm FULL JOIN tm USING (bucket), tot),
scored AS (
  SELECT f.id, sum(f.n)::BIGINT AS n_feats,
         sum(f.n * l.lam_mb)::BIGINT AS weight_mb
  FROM rfeats f JOIN lam l USING (bucket) GROUP BY 1),
alldocs AS (
  SELECT DISTINCT doc_id AS id FROM documents WHERE source <> 'src0'),
w AS (
  SELECT a.id, coalesce(s.n_feats, 0)::BIGINT AS n_feats,
         coalesce(s.weight_mb, 0)::BIGINT AS weight_mb
  FROM alldocs a LEFT JOIN scored s USING (id))
SELECT row_number() OVER (ORDER BY weight_mb DESC, id ASC) AS rank,
       id, n_feats, weight_mb
FROM w ORDER BY weight_mb DESC, id ASC LIMIT 20
"""


def q_temperature_mix(spark, sf):
    """Temperature-based source mixing (p_i ∝ n_i^0.5, 4000-token
    target): per-source kept summary. sqrt (correctly rounded in
    IEEE) + ascending-order Z fold keep the rates engine-identical."""
    from .operators.dedup import tokens_col
    from .operators.textops import mix_by_temperature

    d = _t(spark, sf, "documents")
    kept = mix_by_temperature(d, target_tokens=4000, alpha=0.5)
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_kept"),
            F.sum(F.size(tokens_col(F.col("text"))))
            .cast("long").alias("kept_tokens"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
        .orderBy("source")
    )


SQL_TEMPERATURE_MIX = r"""
WITH tot AS (
  SELECT source,
         sum(len(string_split_regex(trim(lower(text)), '\s+'))) AS t
  FROM documents GROUP BY 1),
z AS (
  SELECT list_aggregate(list_sort(list(sqrt(CAST(t AS DOUBLE)))), 'sum')
    AS z
  FROM tot WHERE t > 0),
r AS (
  SELECT source,
         least(CAST(1 AS DOUBLE),
               CAST(4000 AS DOUBLE) * sqrt(CAST(t AS DOUBLE))
                 / (SELECT z FROM z) / t) AS rate
  FROM tot WHERE t > 0),
s AS (
  SELECT d.*, (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT)
              / 4294967296.0 AS frac, r.rate
  FROM documents d JOIN r USING (source))
SELECT source, count(*) AS n_kept,
       CAST(sum(len(string_split_regex(trim(lower(text)), '\s+')))
            AS BIGINT) AS kept_tokens,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM s WHERE frac < rate GROUP BY 1 ORDER BY 1
"""


def q_substring_dup(spark, sf):
    """Exact-substring duplication signal (15-token rolling windows):
    per-doc shared-window counts — catches verbatim long spans that
    3-gram Jaccard and 8-gram decontamination are not tuned for."""
    from .operators.textops import substring_dup_stats

    d = _t(spark, sf, "documents")
    return substring_dup_stats(d, window_tokens=15).orderBy("id")


def _sql_substring_dup(n: int = 15) -> str:
    terms = ", ".join(f"t[i+{j}]" for j in range(1, n + 1))
    return f"""
WITH tl AS (
  SELECT doc_id AS id, string_split(trim(lower(text)), ' ') AS t
  FROM documents),
wins AS (
  SELECT id, md5(concat_ws(' ', {terms})) AS h
  FROM tl, UNNEST(range(0, greatest(len(t) - {n}, 0) + 1)) AS u(i)
  WHERE len(t) >= {n}),
dpw AS (SELECT h, count(DISTINCT id) AS n_docs FROM wins GROUP BY 1)
SELECT w.id, CAST(count(*) AS INT) AS n_windows,
       CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS INT)
         AS n_dup_windows,
       round(CAST(sum(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END)
             AS DOUBLE) / count(*), 6) AS dup_window_frac
FROM wins w JOIN dpw d USING (h)
GROUP BY 1 ORDER BY 1
"""


SQL_SUBSTRING_DUP = _sql_substring_dup()


def q_trim_dup_spans(spark, sf):
    """Exact-substring REMOVAL (the policy on top of the duplication
    signal): verbatim 15-token cross-doc spans survive only in their
    owner doc; per-doc rebuilt text + removal counts."""
    from .operators.textops import trim_dup_spans

    d = _t(spark, sf, "documents")
    return trim_dup_spans(d, window_tokens=15).orderBy("id")


def _sql_trim_dup_spans(n: int = 15) -> str:
    terms = ", ".join(f"t[i+{j}]" for j in range(1, n + 1))
    return f"""
WITH tl AS (
  SELECT doc_id AS id,
         list_filter(string_split(trim(lower(text)), ' '),
                     x -> x <> '') AS t
  FROM documents),
toks AS (
  SELECT id, CAST(i AS INT) AS pos, t[i+1] AS token
  FROM tl, UNNEST(range(0, len(t))) AS u(i)),
wins AS (
  SELECT id, CAST(i AS INT) AS pos, md5(concat_ws(' ', {terms})) AS h
  FROM tl, UNNEST(range(0, greatest(len(t) - {n}, 0) + 1)) AS u(i)
  WHERE len(t) >= {n}),
stats AS (
  SELECT h, count(DISTINCT id) AS n_docs, min(id) AS owner
  FROM wins GROUP BY 1 HAVING count(DISTINCT id) >= 2),
removable AS (
  SELECT DISTINCT w.id, CAST(p AS INT) AS pos
  FROM wins w JOIN stats s USING (h),
       UNNEST(range(w.pos, w.pos + {n})) AS r(p)
  WHERE w.id <> s.owner),
kept AS (
  SELECT k.id, k.pos, k.token FROM toks k
  LEFT JOIN removable r ON r.id = k.id AND r.pos = k.pos
  WHERE r.id IS NULL),
rebuilt AS (
  SELECT id, string_agg(token, ' ' ORDER BY pos) AS clean_text,
         count(*) AS kept_tokens
  FROM kept GROUP BY 1)
SELECT tl.id, coalesce(rebuilt.clean_text, '') AS clean_text,
       CAST(len(tl.t) AS INT) AS n_tokens,
       CAST(len(tl.t) - coalesce(rebuilt.kept_tokens, 0) AS INT)
         AS removed_tokens
FROM tl LEFT JOIN rebuilt USING (id) ORDER BY id
"""


SQL_TRIM_DUP_SPANS = _sql_trim_dup_spans()


def q_quality_funnel(spark, sf):
    """Corpus-cleaning funnel report: cumulative per-stage survivor
    counts (ingested -> lang gate -> length gate -> dup-line gate)."""
    from .operators.textops import quality_funnel

    d = _t(spark, sf, "documents")
    return quality_funnel(
        d, allowed_langs=("en", "de"), min_chars=50, max_chars=100000
    ).orderBy("stage_idx")


SQL_FUNNEL = """
WITH f AS (
  SELECT lang IN ('en', 'de') AS s1,
         lang IN ('en', 'de') AND length(text) >= 50
           AND length(text) <= 100000 AS s2,
         CASE WHEN len(string_split(text, chr(10))) > 0
              THEN (len(string_split(text, chr(10)))
                    - len(list_distinct(string_split(text, chr(10)))))
                   * 1.0 / len(string_split(text, chr(10)))
              ELSE 0.0 END AS dup_line_frac
  FROM documents),
agg AS (
  SELECT count(*) AS ingested,
         sum(CASE WHEN s1 THEN 1 ELSE 0 END) AS a1,
         sum(CASE WHEN s2 THEN 1 ELSE 0 END) AS a2,
         sum(CASE WHEN s2 AND dup_line_frac <= 0.5 THEN 1 ELSE 0 END) AS a3
  FROM f)
SELECT 0 AS stage_idx, 'ingested' AS stage,
       CAST(ingested AS BIGINT) AS n_docs FROM agg
UNION ALL SELECT 1, 'after_lang_gate', CAST(a1 AS BIGINT) FROM agg
UNION ALL SELECT 2, 'after_length_gate', CAST(a2 AS BIGINT) FROM agg
UNION ALL SELECT 3, 'after_dup_line_gate', CAST(a3 AS BIGINT) FROM agg
ORDER BY stage_idx
"""


def q_pack_shards(spark, sf):
    """Token-budget corpus packing: shard_id from one window cumulative
    sum over a deterministic doc order (resumable, no driver loop)."""
    from .operators.textops import pack_token_shards

    d = _t(spark, sf, "documents")
    p = pack_token_shards(d, shard_tokens=20000)
    return (
        p.groupBy("shard_id")
        .agg(F.count("*").alias("n_docs"),
             F.sum("n_tokens").alias("shard_tokens"),
             F.min("id").alias("first_id"))
        .orderBy("shard_id")
    )


SQL_PACK = """
WITH t AS (
  SELECT doc_id AS id,
         len(string_split(trim(lower(text)), ' ')) AS n_tok
  FROM documents),
c AS (
  SELECT id, n_tok,
         sum(n_tok) OVER (ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum
  FROM t)
SELECT CAST(floor((cum - 1) / 20000.0) AS BIGINT) AS shard_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS shard_tokens,
       min(id) AS first_id
FROM c GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------
# registry
# --------------------------------------------------------------------

QUERIES = {
    "pricing_summary": (q_pricing_summary, SQL_PRICING),
    "star_join_revenue": (q_star_join_revenue, SQL_STAR_JOIN),
    "top10_per_group": (q_top10_per_group, SQL_TOP10),
    "yoy_growth": (q_yoy_growth, SQL_YOY),
    "asof_pick": (q_asof_pick, SQL_ASOF),
    "semi_anti": (q_semi_anti, SQL_SEMI_ANTI),
    "grouping_sets_benchmarks": (q_grouping_sets, SQL_GROUPING_SETS),
    "pivot_events": (q_pivot_events, SQL_PIVOT),
    "composite_rank": (q_composite_rank, SQL_COMPOSITE),
    "sessionize": (q_sessionize, SQL_SESSIONIZE),
    "json_props": (q_json_props, SQL_JSON),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "boilerplate_lines": (q_boilerplate_lines, SQL_BOILERPLATE),
    "minhash_lsh_dedup": (q_minhash_lsh, SQL_MINHASH_LSH),
    "ngram_jaccard_dedup": (q_ngram_jaccard, SQL_NGRAM_JACCARD),
    "simhash_dedup": (q_simhash, SQL_SIMHASH),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_TOPK),
    "ann_ivf_cell": (q_ann_ivf_cell, SQL_ANN_IVF),
    "ann_ivf_multiprobe": (q_ann_ivf_multiprobe, SQL_ANN_IVF_MULTIPROBE),
    "ann_pq_adc": (q_ann_pq_adc, SQL_ANN_PQ_ADC),
    "ann_ivfadc": (q_ann_ivfadc, SQL_ANN_IVFADC),
    "semdedup": (q_semdedup, SQL_SEMDEDUP),
    "cluster_balanced_sample": (q_cluster_balanced_sample,
                                SQL_CLUSTER_BALANCED),
    "lang_id": (q_lang_id, SQL_LANG_ID),
    "quality_scores": (q_quality, SQL_QUALITY),
    "gopher_rules": (q_gopher_rules, SQL_GOPHER),
    "c4_clean": (q_c4_clean, SQL_C4),
    "winnow_pairs": (q_winnow_pairs, SQL_WINNOW),
    "token_counts": (q_token_counts, SQL_TOKENS),
    "token_counts_bpe": (q_token_counts_bpe, SQL_TOKENS_BPE),
    "unigram_surprisal": (q_unigram_surprisal, SQL_SURPRISAL),
    "bigram_lm": (q_bigram_lm, SQL_BIGRAM_LM),
    "pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "perplexity_buckets": (q_perplexity_buckets, SQL_PPX_BUCKETS),
    "domain_pagerank": (q_domain_pagerank, SQL_DOMAIN_PAGERANK),
    "doc_fingerprints": (q_fingerprints, SQL_FINGERPRINTS),
    "gazetteer_mentions": (q_gazetteer_mentions, SQL_GAZETTEER),
    "doc_dup_clusters": (q_doc_dup_clusters, SQL_DOC_CLUSTERS),
    "pagerank_neardup": (q_pagerank_neardup, SQL_PAGERANK),
    "hll_distinct": (q_hll_distinct, SQL_HLL),
    "kmv_overlap": (q_kmv_overlap, SQL_KMV),
    "hist_quantiles": (q_hist_quantiles, SQL_HIST_Q),
    "countmin_words": (q_countmin_words, SQL_COUNTMIN),
    "dedup_keep_best": (q_dedup_keep_best, SQL_KEEP_BEST),
    "global_topk": (q_global_topk, SQL_GLOBAL_TOPK),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMB_NEAR_DUP),
    "repetition_scores": (q_repetition, SQL_REPETITION),
    "cross_source_overlap": (q_cross_source_overlap, SQL_CROSS_SOURCE),
    "near_dup_decontaminate": (q_near_dup_decon, SQL_NEAR_DUP_DECON),
    "bm25_topk": (q_bm25_topk, SQL_BM25),
    "quality_classifier": (q_quality_classifier, SQL_QUALITY_CLF),
    "temperature_mix": (q_temperature_mix, SQL_TEMPERATURE_MIX),
    "substring_dup_stats": (q_substring_dup, SQL_SUBSTRING_DUP),
    "trim_dup_spans": (q_trim_dup_spans, SQL_TRIM_DUP_SPANS),
    "pii_scrub_stats": (q_pii_scrub, SQL_PII),
    "pii_card_stats": (q_pii_cards, SQL_PII_CARDS),
    "stratified_sample": (q_stratified_sample, SQL_STRATIFIED),
    "dsir_select": (q_dsir_select, SQL_DSIR),
    "mix_token_budgets": (q_mix_token_budgets, SQL_MIX),
    "quality_funnel": (q_quality_funnel, SQL_FUNNEL),
    "pack_token_shards": (q_pack_shards, SQL_PACK),
}
