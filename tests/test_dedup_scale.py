"""Scale-safety of the dedup candidate generators: hot buckets and
stop-shingles must not degenerate quadratic (the 100-TB liability the
round-1 review flagged), and the capped paths must stay correct."""

import hashlib

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def boiler_docs(spark):
    """200 identical boilerplate docs + 3 near-dup pairs + 10 distinct."""
    rows = []
    boiler = "terms of use privacy policy all rights reserved contact us"
    for i in range(200):
        rows.append((f"b{i:03d}", boiler))
    for i in range(3):
        rows.append((f"p{i}a", f"unique tale {i} about a quick brown fox jumping high"))
        rows.append((f"p{i}b", f"unique tale {i} about a quick brown fox jumping higher"))
    for i in range(10):
        rows.append((f"u{i}", f"totally distinct content {i} with words nr{i} alpha{i} beta{i} gamma{i} delta{i}"))
    return spark.createDataFrame(rows, "doc_id string, text string").cache()


def minhash_signatures(df, text_col="text", id_col="doc_id", n_hashes=16,
                       shingle_n=3):
    """(id, seed, minhash) — minhash_i = min over shingles of
    md5(i || '|' || shingle), compared lexicographically (portable).
    With lsh_bands, the unfused reference banding that
    minhash_lsh_bands_fused must reproduce row for row."""
    from edgar_finance_ontology_spark.operators.dedup import word_shingles

    sh = word_shingles(df, text_col, shingle_n, id_col)
    seeds = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    exploded = sh.select(
        "id", "shingle", F.explode(seeds).alias("seed")
    ).withColumn(
        "h", F.md5(F.concat_ws("|", F.col("seed").cast("string"),
                               F.col("shingle")))
    )
    return exploded.groupBy("id", "seed").agg(F.min("h").alias("minhash"))


def lsh_bands(sigs, bands=4):
    """(id, band, bucket): bucket = md5 of the band's concatenated
    minhashes (seeds sorted within band)."""
    b = sigs.withColumn("band", F.col("seed") % bands)
    return (
        b.groupBy("id", "band")
        .agg(
            F.md5(
                F.concat_ws(
                    ",", F.sort_array(F.collect_list(
                        F.concat_ws(":", F.col("seed").cast("string"),
                                    F.col("minhash"))
                    ))
                )
            ).alias("bucket")
        )
    )


def test_lsh_bucket_cap_bounds_candidates(boiler_docs):
    from edgar_finance_ontology_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_lsh_bands_fused, word_shingles,
    )

    bands = minhash_lsh_bands_fused(word_shingles(boiler_docs), n_hashes=8,
                                    bands=4)
    uncapped = lsh_candidate_pairs(bands).count()
    capped = lsh_candidate_pairs(bands, max_bucket=50)
    n_capped = capped.count()
    # uncapped: the 200-doc boilerplate bucket alone yields 19900 pairs
    assert uncapped >= 200 * 199 // 2
    # capped: hot bucket dropped; only the small-bucket pairs remain
    assert n_capped <= 50 * 49 // 2
    # the genuine near-dup pairs survive (their buckets are tiny)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    for i in range(3):
        assert (f"p{i}a", f"p{i}b") in got


def test_ngram_df_cap_bounds_candidates_and_keeps_exactness(boiler_docs):
    from edgar_finance_ontology_spark.operators.dedup import (
        ngram_jaccard_pairs,
    )

    capped = ngram_jaccard_pairs(boiler_docs, threshold=0.3, max_df=50)
    rows = capped.collect()
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
    # boilerplate (df=200 shingles) generates no candidates at all
    assert not any(a.startswith("b") for a, _ in got)
    # near-dup pairs survive with EXACT jaccard (full shingle sets)
    for i in range(3):
        assert (f"p{i}a", f"p{i}b") in got
    # exactness: on a corpus without hot shingles the capped and
    # uncapped results are identical
    small = boiler_docs.where(~F.col("doc_id").startswith("b"))
    a = sorted(map(tuple, ngram_jaccard_pairs(small, 0.3).collect()))
    b = sorted(map(tuple, ngram_jaccard_pairs(small, 0.3, max_df=50).collect()))
    assert a == b


def _py_simhash64(text: str) -> str:
    """Pure-Python oracle for simhash64 (same md5 arithmetic)."""
    toks = [t for t in text.strip().lower().split() if t]
    sums = [[0] * 4 for _ in range(16)]
    for t in toks:
        h = hashlib.md5(t.encode()).hexdigest()
        for j in range(16):
            d = int(h[j], 16)
            for k in range(4):
                sums[j][k] += 1 if (d >> k) & 1 else -1
    out = []
    for j in range(16):
        nib = sum(1 << k for k in range(4) if sums[j][k] > 0)
        out.append("0123456789abcdef"[nib])
    return "".join(out)


def test_simhash64_matches_python_oracle(spark):
    from edgar_finance_ontology_spark.operators.dedup import simhash64

    docs = [
        ("d1", "the quick brown fox jumps over the lazy dog"),
        ("d2", "the quick brown fox jumps over the lazy dog"),
        ("d3", "an entirely different document about spark shuffles"),
        ("d4", "the quick brown fox jumps over the lazy cat"),
    ]
    df = spark.createDataFrame(docs, "doc_id string, text string")
    got = {r["id"]: r["simhash"] for r in simhash64(df).collect()}
    for doc_id, text in docs:
        assert got[doc_id] == _py_simhash64(text), doc_id
    assert got["d1"] == got["d2"]


def test_simhash64_single_shuffle_plan(spark):
    """The signature computation must be ONE aggregation over the token
    stream — no positional explode, no second shuffle."""
    from edgar_finance_ontology_spark.operators.dedup import simhash64

    df = spark.createDataFrame([("d", "a b c")], "doc_id string, text string")
    plan = simhash64(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan


def test_simhash_near_dup_pairs_finds_near_and_skips_far(spark):
    from edgar_finance_ontology_spark.operators.dedup import (
        simhash64, simhash_near_dup_pairs,
    )

    rows = [("a1", "alpha beta gamma delta epsilon zeta eta theta"),
            ("a2", "alpha beta gamma delta epsilon zeta eta theta"),
            ("zz", "completely unrelated corpus of financial filings text")]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    pairs = simhash_near_dup_pairs(simhash64(df), bands=4, max_hamming=3)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get(("a1", "a2")) == 0
    assert not any("zz" in p for p in got)


def test_simhash_banding_recall_guarantee(spark):
    """A hamming-8 pair whose 8 differing bits spread 2-per-16-bit-band
    is invisible to 4-band banding (pigeonhole covers only hamming ≤
    bands − 1 = 3) but MUST surface at the default
    bands = max_hamming + 1 = 9 — the round-2 recall-contract fix."""
    from edgar_finance_ontology_spark.operators.dedup import (
        simhash_near_dup_pairs,
    )

    # sig_b = '3000' * 4: hex '3' = 0011 -> exactly 2 differing bits in
    # each of the four 16-bit bands (bits 3,4 / 19,20 / 35,36 / 51,52)
    sigs = spark.createDataFrame(
        [("a", "0" * 16), ("b", "3000" * 4)], "id string, simhash string"
    )
    found = simhash_near_dup_pairs(sigs, max_hamming=8).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in found] == [
        ("a", "b", 8)
    ]
    # explicit bands=4 misses it — the documented ≤ bands−1 bound
    missed = simhash_near_dup_pairs(sigs, bands=4, max_hamming=8).collect()
    assert missed == []


def test_simhash_band_bit_ranges_partition_all_64_bits():
    from edgar_finance_ontology_spark.operators.dedup import band_bit_ranges

    for bands in (1, 2, 4, 9, 13, 64):
        ranges = band_bit_ranges(bands)
        assert len(ranges) == bands
        covered = []
        for _, lo, w in ranges:
            covered.extend(range(lo, lo + w))
        assert covered == list(range(1, 65)), bands


def test_ngram_count_pruning_matches_naive(boiler_docs):
    """The candidate-count upper-bound prune (round-5 rewrite) must be
    invisible in results: same pairs, same exact jaccard values as the
    naive candidates->full-set-verify form, including when a low
    max_df forces the common-shingle correction join to carry real
    intersection mass."""
    from edgar_finance_ontology_spark.operators.dedup import (
        jaccard_on_pairs, ngram_jaccard_pairs, word_shingles,
    )

    def naive(df, threshold, max_df):
        sh = word_shingles(df, "text", 3, "doc_id")
        cand_sh = sh
        if max_df is not None:
            rare = (sh.groupBy("shingle").agg(F.count("*").alias("_df"))
                    .where(F.col("_df") <= max_df))
            cand_sh = sh.join(rare.select("shingle"), "shingle", "left_semi")
        pairs = (cand_sh.alias("a").join(cand_sh.alias("b"), "shingle")
                 .where(F.col("a.id") < F.col("b.id"))
                 .select(F.col("a.id").alias("id_a"),
                         F.col("b.id").alias("id_b")).distinct())
        j = jaccard_on_pairs(pairs, sh)
        return j.where(F.col("jaccard") >= threshold).select(
            "id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))

    # max_df=2: most shared shingles land on the common (df>cap) side,
    # so survivors' jaccard mass flows through the correction join.
    # max_df=None: pure per-pair-count path, no common side at all.
    for cap in (2, 50, None):
        a = sorted(map(tuple, naive(boiler_docs, 0.3, cap).collect()))
        b = sorted(map(tuple,
                       ngram_jaccard_pairs(boiler_docs, 0.3,
                                           max_df=cap).collect()))
        assert a == b, f"max_df={cap}"
        if cap == 2:
            assert a, "fixture must produce pairs through the correction path"


def test_word_shingles_arrow_equals_hof(spark):
    """The Arrow shingler must produce EXACTLY the HOF form's rows —
    including the whitespace/empty-token edge cases where Java \\s
    (ASCII-only), space-only trim, and keep-trailing-empty split
    semantics all matter."""
    from edgar_finance_ontology_spark.operators.dedup import word_shingles

    rows = [
        ("d0", "plain three word shingle text here"),
        ("d1", "two words"),                       # shorter than n
        ("d2", ""),                                 # empty
        ("d3", None),                               # null text
        ("d4", "   leading spaces and  double  gaps inside   "),
        ("d5", "\ttab\tseparated\ttokens\tleading tab too"),
        ("d6", "trailing whitespace tokens here\t"),
        ("d7", " \t "),                             # whitespace-only
        ("d8", "MIXED Case TOKENS lower the SAME way"),
        ("d9", "dup dup dup dup dup"),              # repeated shingles
        ("d9", "dup dup dup dup dup"),              # duplicate id row
        ("d10", "unicode nbsp is not java whitespace"),
    ]
    df = spark.createDataFrame(rows, "doc_id string, text string")
    for n in (2, 3):
        arrow = {tuple(r) for r in
                 word_shingles(df, "text", n, "doc_id",
                               impl="arrow").collect()}
        hof = {tuple(r) for r in
               word_shingles(df, "text", n, "doc_id",
                             impl="hof").collect()}
        assert arrow == hof, (n, arrow ^ hof)
    # non-string id type flows through the dynamic schema
    dfl = spark.createDataFrame([(1, "a b c d"), (2, "x y z w")],
                                "doc_id long, text string")
    a = {tuple(r) for r in word_shingles(dfl, "text", 3, "doc_id",
                                         impl="arrow").collect()}
    h = {tuple(r) for r in word_shingles(dfl, "text", 3, "doc_id",
                                         impl="hof").collect()}
    assert a == h and len(a) == 4


def test_minhash_lsh_bands_fused_matches_original(spark, boiler_docs):
    """Round-6 fused banding (one aggregation) must be row-identical to
    the minhash_signatures -> lsh_bands composition it replaces in
    q_minhash_lsh — including edge docs (empty/short/tab/duplicate-id)
    and multi-digit seeds where the sort is lexicographic on the
    'seed:minhash' string in both forms."""
    from edgar_finance_ontology_spark.operators.dedup import (
        minhash_lsh_bands_fused, word_shingles,
    )

    edge = spark.createDataFrame(
        [("e0", ""), ("e1", "one two"), ("e2", "a\tb c d e"),
         ("dup", "same doc twice here today"),
         ("dup", "same doc twice here today"),
         ("dup2", "version one of this doc"),
         ("dup2", "version two of this doc")],
        "doc_id string, text string",
    )
    for df in (boiler_docs, edge):
        for n_hashes, bands in ((8, 4), (16, 4), (6, 3), (12, 5)):
            orig = lsh_bands(
                minhash_signatures(df, n_hashes=n_hashes), bands=bands
            )
            fused = minhash_lsh_bands_fused(
                word_shingles(df), n_hashes=n_hashes, bands=bands
            )
            a = sorted(map(tuple, orig.collect()))
            b = sorted(map(tuple, fused.collect()))
            assert a == b, (n_hashes, bands)
