"""Trained IVF coarse quantizer (operators/similarity.py:
kmeans_fit / cell_assign_col / ann_ivf_multiprobe)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edgar_finance_ontology_spark.operators.similarity import (
    ann_ivf_multiprobe, cell_assign_col, kmeans_fit,
)


def _blob_df(spark):
    """Two tight, well-separated 2-D blobs (ids 0-4 near (0,0),
    ids 10-14 near (10,10))."""
    rows = [(i, [0.0 + i * 0.01, 0.0 - i * 0.01]) for i in range(5)]
    rows += [(10 + i, [10.0 + i * 0.01, 10.0 - i * 0.01]) for i in range(5)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_kmeans_separates_blobs(spark):
    df = _blob_df(spark)
    cents = kmeans_fit(df, k=2, iters=3)
    # one centroid per blob, near the blob means
    cents = sorted(cents)
    assert abs(cents[0][0]) < 1 and abs(cents[1][0] - 10) < 1
    cells = df.select(
        "vec_id", cell_assign_col(F.col("embedding"), cents).alias("cell")
    ).collect()
    by_cell = {}
    for r in cells:
        by_cell.setdefault(r["cell"], set()).add(r["vec_id"])
    assert by_cell[0] == {0, 1, 2, 3, 4}
    assert by_cell[1] == {10, 11, 12, 13, 14}


def test_kmeans_partitioning_invariant(spark):
    """The decimal-sum update contract: identical centroids (bit for
    bit) no matter how the input is partitioned — the property a
    double-sum update does NOT have."""
    df = _blob_df(spark)
    a = kmeans_fit(df.repartition(7), k=2, iters=3)
    b = kmeans_fit(df.coalesce(1), k=2, iters=3)
    assert a == b


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """With k init points and all mass collapsing onto fewer cells,
    the emptied cluster's centroid must survive unchanged."""
    rows = [(0, [0.0, 0.0]), (1, [100.0, 100.0]),
            (2, [0.1, 0.1]), (3, [0.2, 0.2]), (4, [0.1, 0.2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=2, iters=2)
    # cell 1 seeds at (100,100) and keeps its single member; cell 0
    # absorbs the rest — no NaNs, both centroids finite
    assert all(all(x == x for x in c) for c in cents)
    assert abs(cents[1][0] - 100.0) < 1e-9


def test_kmeans_empty_input_raises(spark):
    """An empty (or all-null-vector) input must fail with a clear
    ValueError, not an IndexError deep in the seeding loop."""
    import pytest

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-empty vectors"):
        kmeans_fit(empty, k=2, iters=1)
    nulls = spark.createDataFrame(
        [(0, None), (1, None)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-empty vectors"):
        kmeans_fit(nulls, k=2, iters=1)


def test_kmeans_ignores_dim_mismatched_vectors(spark):
    """Rows whose vector length disagrees with the sample dim are
    excluded from the fit instead of poisoning the update aggregation
    with NULL cells (round-4 advice)."""
    df = _blob_df(spark)
    junk = spark.createDataFrame(
        [(99, [1.0, 2.0, 3.0]), (98, None)],
        "vec_id long, embedding array<double>")
    a = sorted(kmeans_fit(df.unionByName(junk), k=2, iters=3))
    b = sorted(kmeans_fit(df, k=2, iters=3))
    assert a == b


def test_multiprobe_recovers_cross_cell_neighbor(spark):
    """The recall knob: a query sitting between two cells whose true
    nearest neighbor is assigned to its SECOND-closest cell is missed
    at nprobe=1 and found at nprobe=2."""
    # two HEAVY angular clusters along +x and +y (20 points each, so
    # two stray vectors barely move the centroids and the Voronoi
    # boundary stays ~45 degrees); neighbor 20 sits at 48 degrees
    # (assigned to the +y cell), query 100 at 43 degrees (assigned to
    # the +x cell) — 20 is the query's by-far-nearest vector but lives
    # across the cell boundary
    import math

    def vec(deg):
        return [math.cos(math.radians(deg)), math.sin(math.radians(deg))]

    rows = [(i, vec(0.05 * i)) for i in range(20)]            # ~0 deg
    rows += [(30 + i, vec(90.0 - 0.05 * i)) for i in range(20)]  # ~90 deg
    rows += [(20, vec(48.0))]
    rows += [(100, vec(43.0))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = kmeans_fit(df, k=2, iters=3)
    q = df.where(F.col("vec_id") == 100)
    got1 = ann_ivf_multiprobe(df, q, cents, k=1, nprobe=1).collect()
    got2 = ann_ivf_multiprobe(df, q, cents, k=1, nprobe=2).collect()
    cells = {r["vec_id"]: r["cell"] for r in df.select(
        "vec_id", cell_assign_col(F.col("embedding"), cents).alias("cell")
    ).collect()}
    # the scenario is only meaningful if 20 and 100 land in different
    # cells — assert the setup, then the knob
    assert cells[20] != cells[100]
    assert got1[0]["neighbor_id"] != 20
    assert got2[0]["neighbor_id"] == 20


def test_ivf_index_lifecycle(spark, tmp_path):
    """build -> search matches the in-memory multi-probe operator;
    append assigns new vectors without refit; the search scan prunes
    to the probe cells' partitions (PartitionFilters, not a data
    filter)."""
    store = str(tmp_path / "ivf")
    from edgar_finance_ontology_spark.operators.similarity import (
        append_ivf_index, build_ivf_index, search_ivf_index,
    )

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = build_ivf_index(e, store, k=8, iters=2)
    q = e.orderBy("vec_id").limit(5)
    got = search_ivf_index(spark, store, q, k=3, nprobe=2)
    want = ann_ivf_multiprobe(e, q, cents, k=3, nprobe=2)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))

    # plan audit: literal cell filter reaches the partition scan
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan

    # append: a vector placed exactly at centroid 0 lands in cell 0
    # and becomes findable without refit
    newv = spark.createDataFrame(
        [(999_999, [float(x) for x in cents[0]])],
        "vec_id long, embedding array<double>")
    assert append_ivf_index(newv, store) == 1
    got2 = search_ivf_index(spark, store, newv, k=1, nprobe=1).collect()
    assert got2 and got2[0]["query_id"] == 999_999
    # its nearest neighbor comes from cell 0
    assert got2[0]["cell"] == 0


@pytest.mark.parametrize(
    "name", ["ann_ivf_multiprobe", "ann_pq_adc", "ann_ivfadc"])
def test_ivf_twin_parity_on_dirty_embeddings(spark, tmp_path, name):
    """Engine-parity of the kmeans guards themselves: an embeddings
    table carrying NULL, empty, and ragged vectors must produce the
    IDENTICAL result in Spark and in the DuckDB twin for every trained
    ANN query (the twin's basef/smpf/fitb filters mirror the per-space
    filters of kmeans_fit_multi, whole-vector and sliced)."""
    import sys

    sys.path.insert(0, "tests")
    import duckdb
    import random

    from oracle_harness import compare
    from edgar_finance_ontology_spark.queries import QUERIES

    rng = random.Random(3)
    rows = []
    for i in range(120):
        rows.append((i, [rng.uniform(-1, 1) for _ in range(64)], i % 10))
    rows.append((500, None, 0))                      # null vector
    rows.append((501, [], 1))                        # empty vector
    rows.append((502, [1.0, 2.0, 3.0], 2))           # ragged vector
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int")
    sf = str(tmp_path)
    df.write.mode("overwrite").parquet(sf + "/embeddings.parquet")

    con = duckdb.connect()
    # Spark writes a directory; the real testdata are single files —
    # glob the part files for the oracle
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf}/embeddings.parquet/*.parquet')"
    )
    fn, sql = QUERIES[name]
    r = compare(fn(spark, sf), con, sql)
    assert r["match"], r


def test_semdedup_keeps_atypical_and_skips_singletons(spark):
    """SemDeDup policy on a hand-built geometry: ids 0-2 form one
    near-dup component in the (0,0)-ish cell — the kept one is the
    member FARTHEST from the centroid (lowest centroid cosine);
    id 20 sits alone in the far cell and must not be emitted."""
    from edgar_finance_ontology_spark.operators.similarity import semdedup

    rows = [
        (0, [1.0, 0.0]),
        (1, [0.999, 0.01]),        # near-identical to 0
        (2, [0.95, 0.31]),         # tilted: same component, farther
        (20, [-50.0, -50.0]),      # own cell, singleton
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 0.05], [-50.0, -50.0]]
    out = semdedup(df, cents, tau=0.9).orderBy("id").collect()
    assert [r["id"] for r in out] == [0, 1, 2]
    assert all(r["cluster_id"] == 0 for r in out)
    kept = {r["id"] for r in out if r["keep"]}
    # id 2 has the LOWEST cosine to centroid (most atypical) -> kept
    assert kept == {2}


def test_semdedup_cell_restriction(spark):
    """Members of different cells never pair, even at cosine 1.0:
    identical directions split across cells stay un-clustered."""
    from edgar_finance_ontology_spark.operators.similarity import semdedup

    rows = [(0, [1.0, 1.0]), (1, [40.0, 40.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = [[1.0, 1.0], [40.0, 40.0]]
    out = semdedup(df, cents, tau=0.5).collect()
    assert out == []


def test_cluster_balanced_sample_quota_and_order(spark):
    """Equal per-cell quota in hash order: with 5 members per blob and
    per_cell=3, each cell yields exactly 3 rows, pos 1..3, and the
    pick is the md5-order prefix (partition-invariant)."""
    from edgar_finance_ontology_spark.operators.similarity import (
        cluster_balanced_sample,
    )

    df = _blob_df(spark)
    cents = sorted(kmeans_fit(df, k=2, iters=3))
    out = cluster_balanced_sample(df, cents, per_cell=3) \
        .orderBy("cell", "pos").collect()
    assert len(out) == 6
    assert [(r["cell"], r["pos"]) for r in out] == [
        (0, 1), (0, 2), (0, 3), (1, 1), (1, 2), (1, 3)]
    again = cluster_balanced_sample(df.repartition(7), cents, per_cell=3) \
        .orderBy("cell", "pos").collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_pq_adc_exactness_and_blob_geometry(spark):
    """PQ: codes are partition-invariant; ADC scores equal a plain
    Python replay of the lookup-table sums; on two tight blobs every
    query's top neighbors come from its own blob."""
    import pytest

    from edgar_finance_ontology_spark.operators.similarity import (
        _py_dist2, pq_adc_topk, pq_encode, pq_fit,
    )

    def vec(center, i, dim=8):
        return [center + ((i * 7 + d) % 5) * 0.01 for d in range(dim)]

    rows = ([(i, vec(0.0, i)) for i in range(6)]
            + [(100 + i, vec(5.0, i)) for i in range(6)])
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    cbs = pq_fit(df, m=2, k=2, iters=2, dim=8)
    assert len(cbs) == 2 and len(cbs[0]) == 2 and len(cbs[0][0]) == 4

    codes = {r["id"]: list(r["codes"])
             for r in pq_encode(df, cbs).collect()}
    again = {r["id"]: list(r["codes"])
             for r in pq_encode(df.repartition(5), cbs).collect()}
    assert codes == again and len(codes) == 12

    q = df.where(F.col("vec_id").isin(0, 100))
    got = pq_adc_topk(df, q, cbs, topk=3).collect()
    # blob geometry: every top-3 neighbor shares the query's blob
    for r in got:
        same_blob = (r["neighbor_id"] < 100) == (r["query_id"] < 100)
        assert same_blob, (r["query_id"], r["neighbor_id"])

    # exactness: adc equals the Python lookup-table replay
    k = len(cbs[0])
    by_q = {r["vec_id"]: list(r["embedding"]) for r in df.collect()}
    for r in got:
        qv = by_q[r["query_id"]]
        lut = [_py_dist2(qv[j * 4:(j + 1) * 4], c)
               for j in range(2) for c in cbs[j]]
        want = 0.0
        for j in range(2):
            want += lut[j * k + codes[r["neighbor_id"]][j]]
        assert r["adc"] == round(want, 6), r

    # guards: dim must split evenly; ragged vectors never encode
    with pytest.raises(ValueError):
        pq_fit(df, m=3, k=2, dim=8)
    dirty = df.unionByName(spark.createDataFrame(
        [(999, [1.0, 2.0]), (998, None)],
        "vec_id long, embedding array<double>"))
    assert 999 not in {r["id"] for r in pq_encode(dirty, cbs).collect()}


def test_ivfadc_nprobe_full_equals_whole_corpus_adc(spark):
    """The cell restriction is a pure candidate filter: with nprobe =
    len(coarse) the composed search returns exactly pq_adc_topk; with
    nprobe=1 every candidate comes from the query's own probed cell."""
    from edgar_finance_ontology_spark.operators.similarity import (
        ann_ivfadc_topk, kmeans_fit, pq_adc_topk, pq_fit,
    )

    def vec(center, i, dim=8):
        return [center + ((i * 11 + d) % 7) * 0.02 for d in range(dim)]

    rows = ([(i, vec(0.0, i)) for i in range(8)]
            + [(100 + i, vec(4.0, i)) for i in range(8)])
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    coarse = kmeans_fit(df, k=2, iters=2)
    cbs = pq_fit(df, m=2, k=2, iters=2, dim=8)
    q = df.where(F.col("vec_id").isin(0, 100))

    full = ann_ivfadc_topk(df, q, coarse, cbs, nprobe=2, topk=5) \
        .drop("cell").orderBy("query_id", "rank")
    whole = pq_adc_topk(df, q, cbs, topk=5) \
        .orderBy("query_id", "rank")
    assert [tuple(r) for r in full.collect()] \
        == [tuple(r) for r in whole.collect()]

    one = ann_ivfadc_topk(df, q, coarse, cbs, nprobe=1, topk=5)
    cells = one.select("query_id", "cell").distinct().collect()
    assert len({(r["query_id"], r["cell"]) for r in cells}) == 2


def test_pq_recall_curve(spark):
    """Recall rises with nprobe; on tight well-separated blobs the
    full-probe setting (pure quantization loss) keeps a conservative
    floor — the measured form of both PQ knobs."""
    from edgar_finance_ontology_spark.operators.similarity import (
        measure_pq_recall,
    )

    def vec(center, i, dim=8):
        return [center + ((i * 13 + d) % 9) * 0.01 for d in range(dim)]

    rows = [(c * 100 + i, vec(float(c * 3), i))
            for c in range(4) for i in range(12)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    coarse4 = measure_pq_recall(
        df, k=3, nprobes=(1, 4), n_queries=8, m=2, pq_k=4,
        kmeans_k=4, dim=8,
    )
    fine8 = measure_pq_recall(
        df, k=3, nprobes=(1, 4), n_queries=8, m=2, pq_k=8,
        kmeans_k=4, dim=8,
    )
    # blobs are separated by 3.0 with 0.08 intra spread, so the
    # query's own cell already holds all exact neighbors — the cell
    # restriction is LOSSLESS here (nprobe-invariant recall) and the
    # remaining loss is pure code quantization, which finer codebooks
    # recover. The whole measurement is deterministic; values pinned.
    assert coarse4[1] == coarse4[4] == 0.3333
    assert fine8[1] == fine8[4] == 0.5
    assert fine8[4] > coarse4[4]
