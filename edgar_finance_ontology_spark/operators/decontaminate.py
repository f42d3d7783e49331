"""Bloom-filter benchmark decontamination — the constant-memory scale
path beside the exact inverted-index check (textops.cross_source_overlap).

Why a Bloom here: the exact check shuffles (gram, doc) pairs of BOTH
corpora. At 10^12 training docs vs a ~10^6-gram held-out benchmark,
the right plan never shuffles the big side at all: build a bitmap of
the held-out grams once (size fixed by `m_bits`, NOT by corpus size),
broadcast the ~MBs of bits to every executor, and flag training grams
with a pure map. False-positive rate is the classic
(1 - e^{-kn/m})^k trade (callers size m_bits per held-out set);
FALSE NEGATIVES ARE IMPOSSIBLE — a doc sharing a gram with the
held-out set is always flagged (tested). Flagged docs route to the
exact verifier; the bloom's job is to make the exact check's input
tiny.

Engineering split: gram hashing runs JVM-side (xxhash64 with k seeds —
whole-stage codegen, no Python in the hash loop); only the final
bitmap probe is an Arrow-batched numpy gather (vectorized, no per-row
Python).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _seed_positions(grams, seed: int, m_bits: int):
    """Helper scope pins `seed` (a closure over a loop variable would
    capture its final value; a default-arg lambda would silently bind
    as (element, index) — the known PySpark HOF trap)."""
    return F.transform(
        grams,
        lambda g: F.pmod(F.xxhash64(g, F.lit(seed)), F.lit(m_bits)),
    )


def _stage_gram_positions(df: DataFrame, text_col, ngram: int,
                          m_bits: int, k: int):
    """Return (staged_df, "_grams", ["_pos0", ...]) with the gram
    array and the k seeded-position arrays materialized as REAL
    columns. Staging matters: interpreted HOF lambdas re-evaluate
    their body per element with no CSE, so an inline token/gram array
    referenced inside a lambda is rebuilt per element — per-gram
    re-tokenization here, and in the flagging path the k FULL position
    arrays were rebuilt per gram (quadratic in grams). Columns
    evaluate once per row."""
    from .dedup import tokens_col

    staged = df.withColumn("_toks", tokens_col(text_col))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - ngram, F.lit(0)))
    staged = staged.withColumn(
        "_raw",
        F.transform(
            idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, ngram))
        ),
    ).withColumn(
        "_grams",
        F.filter(F.col("_raw"),
                 lambda g: F.size(F.split(g, " ")) == ngram),
    )
    pos_cols = []
    for seed in range(k):
        staged = staged.withColumn(
            f"_pos{seed}",
            _seed_positions(F.col("_grams"), seed, m_bits),
        )
        pos_cols.append(f"_pos{seed}")
    return staged, "_grams", pos_cols


def build_gram_bloom(heldout: DataFrame, text_col: str = "text",
                     ngram: int = 8, m_bits: int = 1 << 23,
                     k: int = 4) -> dict:
    """Fit the bloom on the held-out set: k seeded xxhash64 positions
    per distinct word n-gram, distinct positions to the driver (at
    most m_bits values; the bitmap itself is m_bits/8 bytes — for the
    default 2^23 bits that is 1 MiB regardless of corpus size), packed
    with numpy. Returns {'bits': bytes, 'm_bits', 'k', 'ngram'}."""
    import numpy as np

    staged, _, pos_cols = _stage_gram_positions(
        heldout, F.col(text_col), ngram, m_bits, k)
    pos = staged.select(
        F.explode(F.flatten(F.array(*[F.col(c) for c in pos_cols])))
        .alias("p")
    ).distinct().collect()
    bits = np.zeros(m_bits, dtype=bool)
    if pos:
        bits[np.array([r["p"] for r in pos], dtype=np.int64)] = True
    return {
        "bits": np.packbits(bits).tobytes(),
        "m_bits": m_bits, "k": k, "ngram": ngram,
    }


def bloom_flag_contaminated(train: DataFrame, bloom: dict,
                            text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """(id, n_grams, flagged_grams): per training document, how many
    word n-grams MIGHT appear in the held-out set (zero false
    negatives; false positives at the configured bloom rate). Docs
    with flagged_grams == 0 are PROVABLY clean — only the rest go to
    the exact verifier."""
    import numpy as np

    m_bits, k, ngram = bloom["m_bits"], bloom["k"], bloom["ngram"]
    spark = train.sparkSession
    bc = spark.sparkContext.broadcast(bloom["bits"])

    staged, gram_col, pos_cols = _stage_gram_positions(
        train, F.col(text_col), ngram, m_bits, k)
    grams = F.col(gram_col)
    pos_arrays = [F.col(c) for c in pos_cols]
    slim = staged.select(
        F.col(id_col).alias("id"),
        F.size(grams).alias("n_grams"),
        # k position arrays flattened gram-major: gram j occupies
        # slots j*k .. j*k+k-1 (the probe reshapes to [-1, k]);
        # pa are plain column refs, so per-element access is a lookup,
        # not a rebuild of the whole position array
        F.when(F.size(grams) == 0, F.array().cast("array<bigint>"))
        .otherwise(F.flatten(F.transform(
            F.sequence(F.lit(0), F.size(grams) - 1),
            lambda j: F.array(*[
                F.element_at(pa, j + 1) for pa in pos_arrays
            ]),
        ))).alias("pos"),
    )
    id_type = slim.schema["id"].dataType.simpleString()

    def probe(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bits = np.unpackbits(
            np.frombuffer(bc.value, dtype=np.uint8)
        ).astype(bool)
        for pdf in batches:
            flagged = []
            for pos in pdf["pos"]:
                p = np.asarray(pos, dtype=np.int64)
                if p.size == 0:
                    flagged.append(0)
                    continue
                hit = bits[p.reshape(-1, k)].all(axis=1)
                flagged.append(int(hit.sum()))
            yield pd.DataFrame({
                "id": pdf["id"],
                "n_grams": pdf["n_grams"],
                "flagged_grams": flagged,
            })

    return slim.mapInPandas(
        probe, f"id {id_type}, n_grams int, flagged_grams int"
    )


def near_dup_decontaminate(
    df: DataFrame,
    test_source: str,
    threshold: float = 0.05,
    n_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    max_bucket: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """PARAPHRASE-level decontamination: training docs whose shingle
    Jaccard with any held-out (`test_source`) doc clears `threshold`,
    found via a cross-source MinHash-LSH JOIN. The exact 8-gram
    overlap (cross_source_overlap) and the bloom filter catch verbatim
    contamination; an eval item lightly rephrased inside a training
    page shares few exact 8-grams but keeps a high shingle Jaccard —
    this is the standard near-dup decontamination pass
    (GPT-3/The Pile methodology) as a DataFrame plan.

    Output: (test_id, n_train_near_dups, max_jaccard) per contaminated
    held-out doc — the same bounded reporting shape as
    cross_source_overlap.

    100-TB posture: signatures are computed ONCE over the union (the
    narrow minhash stage is volume-proportional); the held-out side's
    band buckets are a bounded frame (benchmarks are millions of rows
    at most) and BROADCAST against the training buckets, so the
    training corpus is never shuffled for the candidate join and never
    self-joins; hot training buckets (template pages hashing
    identically in one band) are capped at `max_bucket` exactly like
    the in-corpus LSH dedup; exact Jaccard verification runs only on
    the surviving candidate pairs. Fully md5-deterministic — the
    DuckDB oracle replays every stage (queries.SQL_NEAR_DUP_DECON)."""
    from .dedup import (
        jaccard_on_pairs, minhash_lsh_bands_fused, word_shingles,
    )

    slim = df.select(
        F.col(id_col).alias("_did"), F.col(source_col).alias("_src"),
        F.col(text_col).alias("_text"),
    )
    # ONE materialized shingle table feeds banding AND the exact-
    # Jaccard verify (it appears 4x in the final plan otherwise — the
    # same re-execution q_minhash_lsh paid before round 6), and the
    # banding is the fused one-aggregation form (row-identical to the
    # unfused minhash_signatures -> lsh_bands reference kept in
    # tests/test_dedup_scale.py).
    sh = word_shingles(
        slim, text_col="_text", n=shingle_n, id_col="_did"
    ).localCheckpoint(eager=True)
    src = slim.select(F.col("_did").alias("id"), "_src")
    b = minhash_lsh_bands_fused(sh, n_hashes=n_hashes, bands=bands) \
        .join(src, "id")
    train_b = b.where(F.col("_src") != test_source)
    eval_b = b.where(F.col("_src") == test_source)
    # cap HOT TRAINING buckets (non-discriminative bands); held-out
    # docs in those buckets still pair through their other bands
    sizes = train_b.groupBy("band", "bucket").agg(
        F.count("*").alias("_n")
    ).where(F.col("_n") <= max_bucket)
    train_b = train_b.join(sizes.select("band", "bucket"),
                           ["band", "bucket"], "left_semi")
    pairs = (
        train_b.join(
            F.broadcast(eval_b.select(
                "band", "bucket", F.col("id").alias("id_b"))),
            ["band", "bucket"],
        )
        .select(F.col("id").alias("id_a"), "id_b")
        .distinct()
    )
    j = jaccard_on_pairs(pairs, sh)
    return (
        j.where(F.col("jaccard") >= threshold)
        .groupBy(F.col("id_b").alias("test_id"))
        .agg(
            F.count("*").alias("n_train_near_dups"),
            F.round(F.max("jaccard"), 6).alias("max_jaccard"),
        )
    )
