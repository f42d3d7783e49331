"""kmeans_fit_multi, the one Lloyd fit of operators/similarity.py, must
be bit-equal, space by space, to a one-space fit run on the sliced
vectors — the PQ / IVFADC oracles replay those per-space fits exactly,
so any drift is an oracle break. `_reference_fit` below is that
one-space fit, kept here as the reference the fused fit is checked
against on uniform, ragged, top-up, out-of-range and longer-vector
inputs."""

import hashlib
import random

import pytest
from pyspark.sql import functions as F

from edgar_finance_ontology_spark.operators.similarity import (
    _seed_traversal, cell_assign_col, kmeans_fit, kmeans_fit_multi,
)

SCHEMA = "vec_id long, embedding array<double>"


def _reference_fit(embeddings, k=8, iters=3, id_col="vec_id",
                   vec_col="embedding", seed_sample=2048):
    """One space, one Lloyd loop: the `seed_sample` lowest
    (md5(id), id) non-empty vectors seed a farthest-first traversal
    over the first sampled vector's length; the fit keeps rows of that
    length and updates by exact decimal per-(cell, d) sums."""
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull() & (F.size("v") > 0))
    sample = [
        list(r["v"])
        for r in e.orderBy(F.md5(F.col("id").cast("string")), "id")
        .limit(seed_sample).collect()
    ]
    if not sample:
        raise ValueError("no non-empty vectors in input")
    expected_dim = len(sample[0])
    sample = [v for v in sample if len(v) == expected_dim]

    cents = _seed_traversal(sample, k)
    dim = len(cents[0])
    fit = e.where(F.size("v") == dim)
    for _ in range(iters):
        cell = cell_assign_col(F.col("v"), cents)
        rows = (
            fit.select(cell.alias("cell"), "v")
            .select("cell", F.posexplode("v").alias("d", "x"))
            .groupBy("cell", "d")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("x").cast("decimal(38,15)")).alias("s"))
            .collect()
        )
        new = [list(c) for c in cents]
        for r in rows:
            if r["cell"] is None:
                continue
            new[r["cell"]][r["d"]] = float(r["s"]) / r["n"]
        cents = new
    return cents


def _reference(df, spaces, **kw):
    """One `_reference_fit` per space: (1, None) on the unsliced
    vectors, (start, dim) on F.slice(embedding, start, dim)."""
    out = []
    for start, dim in spaces:
        src = df if dim is None else df.select(
            "vec_id", F.slice("embedding", start, dim).alias("embedding"))
        out.append(_reference_fit(src, **kw))
    return out


def _by_hash(ids):
    """`ids` in the fits' (md5(id), id) sample order."""
    return sorted(ids, key=lambda i: (
        hashlib.md5(str(i).encode()).hexdigest(), i))


@pytest.fixture(scope="module")
def vecs(spark):
    rng = random.Random(42)
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(8)]) for i in range(300)
    ]
    return spark.createDataFrame(rows, SCHEMA)


def top_up_frame(spark):
    """8-dim vectors whose three lowest-hash rows are 2-dim: with
    seed_sample=10 the shared sample is full and holds rows shorter
    than start 5, so a (5, _) space needs its own bounded collect."""
    rng = random.Random(7)
    short = set(_by_hash(range(60))[:3])
    rows = [(i, [rng.uniform(-3, 3) for _ in range(2 if i in short else 8)])
            for i in range(60)]
    return spark.createDataFrame(rows, SCHEMA)


@pytest.fixture(scope="module")
def longer(spark):
    """40 rows of 4-dim vectors plus one 6-dim row that comes last in
    (md5(id), id) order, outside a seed_sample=8 sample."""
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(40)]
    last = next(i for i in range(40, 10_000)
                if _by_hash(list(range(40)) + [i])[-1] == i)
    rows.append((last, [100.0, 100.0, 100.0, 100.0, 5.0, 5.0]))
    return spark.createDataFrame(rows, SCHEMA)


def test_multi_equals_per_space_fits(vecs):
    spaces = [(1, None), (1, 8), (1, 4), (5, 4)]
    kw = dict(k=4, iters=2, seed_sample=128)
    multi = kmeans_fit_multi(vecs, spaces, **kw)
    assert multi == _reference(vecs, spaces, **kw)  # bit equality


def test_multi_partition_invariant(vecs):
    a = kmeans_fit_multi(vecs.repartition(7), [(1, 4), (5, 4)],
                         k=3, iters=2, seed_sample=64)
    b = kmeans_fit_multi(vecs.coalesce(1), [(1, 4), (5, 4)],
                         k=3, iters=2, seed_sample=64)
    assert a == b


def test_ragged_sample_matches_reference(spark):
    rows = [(0, [1.0, 2.0, 3.0, 4.0]), (1, [1.0, 2.0]), (2, [0.0] * 4)]
    df = spark.createDataFrame(rows, SCHEMA)
    spaces = [(1, None), (1, 2), (3, 2)]
    kw = dict(k=2, iters=1)
    assert kmeans_fit_multi(df, spaces, **kw) == _reference(df, spaces, **kw)


def test_top_up_collect_matches_reference(spark):
    top_up = top_up_frame(spark)
    spaces = [(1, 4), (5, 4)]
    kw = dict(k=3, iters=2, seed_sample=10)
    assert kmeans_fit_multi(top_up, spaces, **kw) \
        == _reference(top_up, spaces, **kw)


def test_out_of_range_space_matches_reference(vecs):
    kw = dict(k=2, iters=1)
    got = kmeans_fit_multi(vecs, [(7, 4)], **kw)
    assert got == _reference(vecs, [(7, 4)], **kw)
    assert len(got[0][0]) == 2  # the 2 values an 8-dim slice holds


def test_invalid_space_raises_before_any_job(spark, vecs):
    sc = spark.sparkContext
    sc.setJobGroup("kmeans-invalid-space", "kmeans-invalid-space")
    try:
        for space in [(0, 4), (1, 0)]:
            with pytest.raises(ValueError, match="start >= 1"):
                kmeans_fit_multi(vecs, [(1, 4), space], k=2, iters=1)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup("kmeans-invalid-space")


def test_space_without_vectors_raises(vecs):
    with pytest.raises(ValueError, match="no non-empty vectors"):
        kmeans_fit_multi(vecs, [(1, 4), (9, 4)], k=2, iters=1)


def test_longer_vector_left_out_of_whole_vector_space(longer):
    """A whole-vector space keeps only rows of the sample's length: the
    6-dim row must not enter the 4-dim fit cut down to its first four
    values (a (1, 4) slice space would take it in)."""
    kw = dict(k=2, iters=2, seed_sample=8)
    ref = _reference(longer, [(1, None)], **kw)
    assert kmeans_fit_multi(longer, [(1, None)], **kw) == ref
    assert kmeans_fit(longer, **kw) == ref[0]
    assert all(abs(x) <= 1 for c in ref[0] for x in c)
    assert kmeans_fit_multi(longer, [(1, 4)], **kw)[0] != ref[0]


def test_ivfadc_shaped_fit_on_longer_vector(longer):
    """The q_ann_ivfadc shape: a whole-vector coarse space plus two
    subspace slices, each equal to its own reference fit."""
    spaces = [(1, None), (1, 2), (3, 2)]
    kw = dict(k=2, iters=2, seed_sample=8)
    assert kmeans_fit_multi(longer, spaces, **kw) \
        == _reference(longer, spaces, **kw)


def test_per_space_k(vecs):
    got = kmeans_fit_multi(vecs, [(1, None), (1, 4)], k=[3, 5], iters=1,
                           seed_sample=64)
    assert got == [_reference(vecs, [(1, None)], k=3, iters=1,
                              seed_sample=64)[0],
                   _reference(vecs, [(1, 4)], k=5, iters=1,
                              seed_sample=64)[0]]
