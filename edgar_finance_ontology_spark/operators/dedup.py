"""Deduplication operators for web-scale training-data pipelines.

All hashing is md5-based so results are engine-portable (the DuckDB
oracle replays the identical algorithm) and deterministic across
cluster sizes — no JVM-specific hash functions in results.

Scale notes (10^12 docs):
  * exact dedup: one shuffle on the content hash (map-side combine).
  * minhash: narrow per-doc work (explode shingles x seeds is a
    generator inside codegen), then one groupBy(doc) — signatures are
    64-128 bytes/doc.
  * LSH banding: groupBy(band, bucket) with skew-safe two-phase
    counting; candidate pairs come from within-bucket joins, bounded
    by bucket size, not n².
  * exact-jaccard verify runs ONLY on candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def tokens_col(text, lowercase: bool = True):
    t = F.lower(text) if lowercase else text
    return F.split(F.trim(t), r"\s+")


def word_shingles(df: DataFrame, text_col: str = "text", n: int = 3,
                  id_col: str = "doc_id",
                  impl: str = "arrow") -> DataFrame:
    """(id, shingle) distinct word n-grams.

    impl="arrow" (default): Arrow-batched mapInPandas — measured ~6x
    the throughput of the HOF form at sf0.1 (interpreted transform +
    per-shingle slice/concat_ws allocation dominates the explode
    stage; shingling feeds every near-dup family, so this is the
    hottest string kernel in the engine). impl="hof" keeps the pure
    column-expression form for contexts that must stay JVM-only.
    Both implementations produce IDENTICAL rows (equality
    property-tested in tests/test_dedup_scale.py, including tab/
    multi-space/short/empty edge docs): the Python path replicates
    Java's \\s class (ASCII-only), Spark split's keep-trailing-empty
    semantics, space-only trim, and the literal-space size filter.
    """
    if impl == "arrow":
        return _word_shingles_arrow(df, text_col, n, id_col)
    # stage the token array as a real column: interpreted HOF lambdas
    # re-evaluate their body per element with no CSE, so an inline
    # split expression would re-tokenize the document once per shingle
    staged = df.withColumn("_toks", tokens_col(F.col(text_col)))
    toks = F.col("_toks")
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    sh = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return (
        staged.select(F.col(id_col).alias("id"),
                      F.explode(sh).alias("shingle"))
        .where(F.size(F.split(F.col("shingle"), " ")) == n)
        .distinct()
    )


def _word_shingles_arrow(df: DataFrame, text_col: str, n: int,
                         id_col: str) -> DataFrame:
    """mapInPandas twin of the HOF shingler — bit-identical rows."""
    from ..functions.partitions import spread_small_input

    id_type = df.schema[id_col].dataType.simpleString()
    # shingling is the hottest Python kernel in the near-dup family; a
    # single-row-group input would run it on ONE core (see
    # functions/partitions.py) — widen small inputs before the map
    slim = spread_small_input(
        df.select(F.col(id_col).alias("id"),
                  F.col(text_col).alias("_text"))
    )

    def gen(batches):
        import re

        import pandas as pd

        # Java \s is ASCII-only ([ \t\n\x0B\f\r]); re.split keeps
        # leading AND trailing empties, matching Spark split's -1 limit
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, shingles = [], []
            for i, t in zip(pdf["id"], pdf["_text"]):
                if t is None:
                    continue  # split(NULL) -> NULL, explode drops it
                toks = ws.split(t.lower().strip(" "))
                ss = set()
                for j in range(max(len(toks) - n, 0) + 1):
                    s = " ".join(toks[j:j + n])
                    # replicate size(split(shingle, ' ')) == n
                    if len(s.split(" ")) == n:
                        ss.add(s)
                ids.extend([i] * len(ss))
                shingles.extend(ss)
            yield pd.DataFrame({"id": ids, "shingle": shingles})

    return (
        slim.mapInPandas(gen, f"id {id_type}, shingle string")
        # per-doc sets dedupe within a row; the global distinct also
        # collapses repeated id rows, matching the HOF form exactly
        .distinct()
    )


def exact_duplicate_groups(df: DataFrame, text_col: str = "text",
                           id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: (content_md5, n_docs, min_id) for
    groups, n_docs >= 1. One shuffle, map-side combined."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_md5"),
                  F.col(id_col).alias("id"))
        .groupBy("content_md5")
        .agg(F.count("id").alias("n_docs"), F.min("id").alias("keep_id"))
    )


def minhash_lsh_bands_fused(sh: DataFrame, n_hashes: int = 16,
                            bands: int = 4) -> DataFrame:
    """(id, band, bucket): per band, the md5 of the band's sorted
    "seed:minhash" entries, where minhash_j = min over shingles of
    md5(j || '|' || shingle), compared lexicographically (portable).
    Row-identical to the unfused minhash-signatures -> bands
    composition that tests/test_dedup_scale.py keeps as its reference,
    in ONE aggregation instead of three shuffles. `sh` is a (id,
    shingle) frame (word_shingles output — pass it CHECKPOINTED when
    the caller also feeds it to the exact-Jaccard verify, so the
    shingler runs once, not once per consumer).

    Shape argument (guide §2.3/2.4): the original path exploded
    |shingles| x n_hashes rows carrying 32-char md5 strings through a
    groupBy(id, seed) exchange, then a second groupBy(id, band) with a
    collect_list. Here the n per-seed hashes are computed as columns on
    the un-exploded shingle rows, min-aggregated in one map-side-
    combined groupBy(id), and the per-band buckets are pure column
    expressions over the n mins (sort_array over the "seed:minhash"
    strings replays the original collect_list+list_sort ordering
    exactly — also the oracle's). One exchange, n_hashes x fewer
    shuffled rows, no per-group list buffer."""
    hashes = [
        F.md5(F.concat_ws("|", F.lit(str(j)), F.col("shingle")))
        for j in range(n_hashes)
    ]
    mins = sh.groupBy("id").agg(*[
        F.min(h).alias(f"_mh_{j}") for j, h in enumerate(hashes)
    ])
    bb = []
    for b in range(bands):
        entries = [
            F.concat_ws(":", F.lit(str(j)), F.col(f"_mh_{j}"))
            for j in range(n_hashes) if j % bands == b
        ]
        bucket = F.md5(F.concat_ws(",", F.sort_array(F.array(*entries))))
        bb.append(F.struct(F.lit(b).alias("band"), bucket.alias("bucket")))
    return mins.select(
        "id", F.explode(F.array(*bb)).alias("bb")
    ).select("id", F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(bands_df: DataFrame,
                        max_bucket: int | None = None) -> DataFrame:
    """distinct (id_a < id_b) sharing any band bucket.

    `max_bucket` caps the bucket size admitted to the pair join: a hot
    bucket (boilerplate docs hashing identically in one band) otherwise
    degenerates to |bucket|² candidate rows — at 10^12 docs a single
    template-page bucket would emit more pairs than the rest of the
    corpus combined. Oversize buckets are dropped (non-discriminative
    bands); their members still pair through their other bands."""
    if max_bucket is not None:
        sizes = bands_df.groupBy("band", "bucket").agg(
            F.count("*").alias("_n")
        ).where(F.col("_n") <= max_bucket)
        bands_df = bands_df.join(sizes.select("band", "bucket"),
                                 ["band", "bucket"], "left_semi")
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    return (
        a.join(b, ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def jaccard_on_pairs(pairs: DataFrame, shingles: DataFrame) -> DataFrame:
    """exact |A∩B| / |A∪B| for the given candidate pairs."""
    sizes = shingles.groupBy("id").agg(F.count("*").alias("n"))
    sh_a = shingles.select(F.col("id").alias("id_a"), "shingle")
    sh_b = shingles.select(F.col("id").alias("id_b"),
                           F.col("shingle").alias("shingle"))
    inter = (
        pairs.join(sh_a, "id_a").join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b").agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .na.fill({"inter": 0})
        .join(na, "id_a").join(nb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float,
                        text_col: str = "text", id_col: str = "doc_id",
                        shingle_n: int = 3,
                        max_df: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard >= threshold via inverted shingle join
    (pair work bounded by posting-list sizes, not n²).

    `max_df` caps the shingle document frequency admitted to CANDIDATE
    generation (df-cut / stop-shingle filtering): a shingle shared by
    k docs yields k² candidate rows, so one boilerplate phrase across
    10^6 pages would alone emit 10^12 pairs. Jaccard itself is still
    computed over the FULL shingle sets, so surviving pairs carry exact
    values; only pairs whose every shared shingle is ultra-common can
    be missed (those have near-zero Jaccard against any cap ≥ 1/θ
    posting sizes in practice).

    Plan shape (candidate-count pruning): the self-join that generates
    candidates aggregates straight to a per-pair shared-capped-shingle
    count `ic` (no intermediate pair-distinct), and per-doc sizes carry
    both the full shingle count `n` and the over-cap ("common") count
    `c`. Since inter_full = ic + inter_common and inter_common <=
    min(c_a, c_b), the bound

        jaccard <= (ic + m) / (n_a + n_b - ic - m),  m = min(c_a, c_b)

    is exact, so pairs below it are dropped BEFORE any full-set join.
    At a 0.12 threshold on ~50-shingle docs this eliminates the ~90%
    of candidates that share only 1-2 shingles; only survivors pay the
    common-shingle correction join (bounded by per-doc common counts,
    which the df-cap keeps tiny). Results are bit-identical to the
    naive candidates->full-verify form (equality test in
    tests/test_dedup_scale.py::test_ngram_count_pruning_matches_naive)."""
    if max_df is None:
        # no cap: every shingle is a candidate shingle and the per-pair
        # count is already the full intersection.
        max_df = 2**62
    sh = word_shingles(df, text_col, shingle_n, id_col)
    w = Window.partitionBy("shingle")
    # Materialize the df-annotated shingle table ONCE: it feeds five
    # consumers in the final plan (per-doc sizes, BOTH sides of the
    # candidate self-join, both sides of the common-shingle
    # correction) and Spark does not dedupe common subplans, so left
    # lazy the explode + shingle-keyed window re-ran per consumer.
    sh_df = sh.withColumn("_df", F.count("*").over(w)) \
        .localCheckpoint(eager=True)
    sizes = (
        sh_df.groupBy("id")
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("_df") > max_df, 1).otherwise(0))
              .alias("c"))
    )
    cand = sh_df.where(F.col("_df") <= max_df).select("id", "shingle")
    pairs = (
        cand.alias("a").join(cand.alias("b"), "shingle")
        .where(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("ic"))
    )
    na = sizes.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"),
                      F.col("c").alias("c_a"))
    nb = sizes.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"),
                      F.col("c").alias("c_b"))
    m = F.least(F.col("c_a"), F.col("c_b"))
    ub_num = F.col("ic") + m
    survivors = (
        pairs.join(na, "id_a").join(nb, "id_b")
        .where(ub_num >= threshold * (F.col("n_a") + F.col("n_b") - ub_num))
    )
    common = sh_df.where(F.col("_df") > max_df).select("id", "shingle")
    com_a = common.select(F.col("id").alias("id_a"), "shingle")
    com_b = common.select(F.col("id").alias("id_b"), "shingle")
    inter_common = (
        survivors.select("id_a", "id_b").join(com_a, "id_a")
        .join(com_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b").agg(F.count("*").alias("icc"))
    )
    inter = F.col("ic") + F.coalesce(F.col("icc"), F.lit(0))
    j = (
        survivors.join(inter_common, ["id_a", "id_b"], "left")
        .withColumn(
            "jaccard",
            inter / (F.col("n_a") + F.col("n_b") - inter),
        )
    )
    return j.where(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


_HEX = "0123456789abcdef"


def simhash64(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """(id, simhash) — 64-bit simhash as a 16-hex-char string.

    bit (j,k) = sign of Σ over tokens of ±1 by bit k of md5(token)'s
    j-th hex digit. Computed in ONE groupBy(id) with 64 conditional
    sums — no positional explode (the 16-bit round-1 version blew rows
    up 16× and added two shuffles) and a width that still discriminates
    at 10^12 docs (16 bits = 65k buckets would make everything collide).
    Portable md5 arithmetic: the DuckDB oracle replays it exactly."""
    toks = (
        df.select(F.col(id_col).alias("id"),
                  F.explode(tokens_col(F.col(text_col))).alias("tok"))
        .where(F.col("tok") != "")
        .withColumn("h", F.md5("tok"))
    )
    # stage the 16 digit values once per token: each digit feeds 4 bit
    # sums, and an inline instr/substr in every aggregate re-extracted
    # the digit 4x per token (64 expression occurrences total)
    digit_cols = [
        F.expr(f"(instr('{_HEX}', substr(h, {j}, 1)) - 1)")
        .alias(f"d_{j}")
        for j in range(1, 17)
    ]
    toks = toks.select("id", *digit_cols)
    aggs = []
    for j in range(1, 17):
        for k in range(4):
            aggs.append(
                F.sum(F.expr(f"2 * (shiftright(d_{j}, {k}) & 1) - 1"))
                .alias(f"s_{j}_{k}")
            )
    sums = toks.groupBy("id").agg(*aggs)
    chars = [
        F.expr(
            f"substr('{_HEX}', cast(s_{j}_3 > 0 as int) * 8"
            f" + cast(s_{j}_2 > 0 as int) * 4"
            f" + cast(s_{j}_1 > 0 as int) * 2"
            f" + cast(s_{j}_0 > 0 as int) + 1, 1)"
        )
        for j in range(1, 17)
    ]
    return sums.select("id", F.concat(*chars).alias("simhash"))


# 16 nibbles 0000..1111 concatenated — the hex->binary lookup string
# used by bin64_sql (portable: the identical expression runs in Spark
# SQL and in the DuckDB oracle).
_NIBBLES = "".join(format(i, "04b") for i in range(16))


def bin64_sql(col: str) -> str:
    """SQL fragment turning a 16-hex-char column into its 64-char
    binary-string expansion. Pure instr/substr/concat — valid in both
    Spark SQL and DuckDB, so oracles replay banding exactly."""
    parts = [
        f"substr('{_NIBBLES}', (instr('{_HEX}', substr({col}, {j}, 1)) - 1)"
        f" * 4 + 1, 4)"
        for j in range(1, 17)
    ]
    return "concat(" + ", ".join(parts) + ")"


def band_bit_ranges(bands: int) -> list[tuple[int, int, int]]:
    """Partition the 64 fingerprint bits into `bands` contiguous ranges:
    [(band, lo_1based, width), ...] with widths differing by ≤ 1."""
    base, rem = divmod(64, bands)
    out, lo = [], 1
    for b in range(bands):
        w = base + (1 if b < rem else 0)
        out.append((b, lo, w))
        lo += w
    return out


def simhash_bands(sigs: DataFrame, bands: int = 4) -> DataFrame:
    """(id, band, bucket): bucket = the band's bit-substring of the
    64-bit fingerprint (bands partition ALL 64 bits at bit granularity,
    so any 1..64 band count is valid — not just divisors of 16).

    Pigeonhole recall guarantee: a pair with hamming ≤ bands − 1 has at
    least one band with zero differing bits, hence shares that band's
    bucket. Above bands − 1 recall is best-effort only (a hamming-h
    pair can spread h ≥ bands differing bits across every band and be
    missed). For hamming ≤ h guarantees use bands = h + 1 — see
    simhash_near_dup_pairs, which defaults to exactly that."""
    bin64 = F.expr(bin64_sql("simhash"))
    arr = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.substring(bin64, lo, w).alias("bucket"),
        )
        for b, lo, w in band_bit_ranges(bands)
    ])
    return sigs.select("id", "simhash", F.explode(arr).alias("bb")).select(
        "id", "simhash", F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def simhash_near_dup_pairs(
    sigs: DataFrame, bands: int | None = None, max_hamming: int = 8,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) for pairs sharing any simhash band bucket
    with hamming distance ≤ max_hamming.

    `bands=None` (default) picks bands = max_hamming + 1, the minimum
    band count whose pigeonhole bound covers max_hamming — every
    qualifying pair is guaranteed to surface (full recall). Passing a
    smaller explicit `bands` trades recall above bands − 1 for more
    selective (wider) buckets: with 9 bands the buckets are ~7 bits
    (128 values), so at true web scale prefer the Manku et al. (WWW'07)
    operating point — max_hamming=3, bands=4, 16-bit buckets — or run
    multiple permuted fingerprint tables. Candidate generation is
    bucket-bounded (never all-pairs); `max_bucket` drops degenerate hot
    buckets the same way lsh_candidate_pairs does."""
    if bands is None:
        bands = max_hamming + 1
    b = simhash_bands(sigs, bands)
    if max_bucket is not None:
        ok = b.groupBy("band", "bucket").agg(F.count("*").alias("_n")) \
              .where(F.col("_n") <= max_bucket)
        b = b.join(ok.select("band", "bucket"), ["band", "bucket"],
                   "left_semi")
    pairs = (
        b.alias("a").join(b.alias("b"), ["band", "bucket"])
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("sig_a"), F.col("b.simhash").alias("sig_b"),
        )
        .distinct()
    )
    da = f"(instr('{_HEX}', substr(sig_a, j, 1)) - 1)"
    db = f"(instr('{_HEX}', substr(sig_b, j, 1)) - 1)"
    ham = F.expr(
        "aggregate(sequence(1, 16), 0, "
        f"(acc, j) -> acc + bit_count({da} ^ {db}))"
    )
    return (
        pairs.withColumn("hamming", ham)
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )
