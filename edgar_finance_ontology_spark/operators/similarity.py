"""Similarity search over embedding columns (array<float>).

* brute-force cosine top-k — the exactness baseline; one broadcast of
  the (small) query side, JVM-native dot products via zip_with +
  aggregate (no Python in the loop).
* cell-restricted top-k — the IVF-style scale path: search only within
  the candidate's coarse cell (here the `label` column stands in for a
  k-means cell id; at 10^12 scale the cell id comes from a trained
  coarse quantizer and the same plan applies: co-partition by cell,
  join within cell).

Outputs avoid raw floats where rank order suffices (engine-portable);
similarity is exposed rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine_col(a, b):
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, rank, neighbor_id, cos) — top-k cosine neighbors for
    each query vector (excluding self), deterministic tie-break by
    neighbor id."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ev"),
    )
    j = e.crossJoin(F.broadcast(q)).where(
        F.col("neighbor_id") != F.col("query_id")
    )
    j = j.withColumn("cos", cosine_col(F.col("qv"), F.col("ev")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id",
                F.round("cos", 6).alias("cos"))
    )


def _lit_vec(values: list[float]):
    """Literal double array as ONE generated SQL expression — a
    per-element F.lit chain costs dim py4j round trips per centroid,
    which dominates fit time for 64-dim × k centroids × k seeding
    passes. repr(float) round-trips doubles exactly; the D suffix
    keeps Spark from parsing them as DECIMAL."""
    return F.expr(
        "array(" + ",".join(f"{x!r}D" for x in values) + ")"
    )


def _dist2_to(vec, centroid: list[float]):
    """Sequential-fold squared distance to a literal centroid —
    bit-identical across Spark's aggregate fold, DuckDB's list_sum,
    and a plain Python loop (verified empirically on 64-dim data)."""
    return F.aggregate(
        F.zip_with(vec, _lit_vec(centroid), lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def cell_assign_col(vec, centroids: list[list[float]]):
    """argmin cell id for `vec` over literal centroids; ties break to
    the LOWEST cell id (array_position returns the first match)."""
    dists = F.array(*[_dist2_to(vec, c) for c in centroids])
    return (F.array_position(dists, F.array_min(dists)) - 1).cast("int")


def _seed_traversal(sample: list[list[float]], k: int) -> list[list[float]]:
    """Farthest-first traversal over the bounded seed sample,
    vectorized with numpy but ARITHMETICALLY IDENTICAL to the original
    pure-Python loops (bit-equality pinned by
    tests/test_kmeans_seed_vectorized.py):

      * each squared distance is the same sequential fold
        acc = acc + (x_d - c_d)^2 in dimension order — realized as a
        Python loop over dimensions with one vectorized elementwise op
        per dimension, so every per-element IEEE operation and its
        order are unchanged;
      * the running min over already-chosen seeds replicates Python's
        min() update rule `new if new < acc else acc` via np.where
        (NaN never replaces, matching Python comparison semantics);
      * the argmax keeps the original strict-> first-winner scan (a
        2k-element Python loop — trivial), preserving tie and NaN
        behavior exactly.

    The original O(k * n * k * dim) pure-Python traversal was ~1-2 s
    of driver time PER FIT at the default sample size — paid by every
    kmeans/PQ-family query, three times for an IVFADC fit (guide
    §1.2: per-task — here per-driver — work after the plan shape is
    right)."""
    import numpy as np

    arr = np.asarray(sample, dtype=np.float64)
    n, dim = arr.shape

    def d2_to(c):
        acc = np.zeros(n, dtype=np.float64)
        for d in range(dim):
            diff = arr[:, d] - c[d]
            acc = acc + diff * diff
        return acc

    cents = [sample[0]]
    mind = d2_to(arr[0])
    for _ in range(min(k, len(sample)) - 1):
        best_i, best_d = None, None
        for i, d in enumerate(mind.tolist()):
            if best_d is None or d > best_d:
                best_i, best_d = i, d
        cents.append(sample[best_i])
        new = d2_to(arr[best_i])
        mind = np.where(new < mind, new, mind)
    return cents


def kmeans_fit(embeddings: DataFrame, k: int = 8, iters: int = 3,
               id_col: str = "vec_id",
               vec_col: str = "embedding",
               seed_sample: int = 2048) -> list[list[float]]:
    """Deterministic distributed Lloyd's iterations over the whole
    vector — the REAL coarse quantizer for the IVF family (cell ids
    trained from the data, not a stand-in label column). Returns the
    k centroids as plain Python lists (the MODEL — k×dim driver
    floats, not data). The one-space call of kmeans_fit_multi, which
    documents the determinism contract."""
    return kmeans_fit_multi(
        embeddings, [(1, None)], k=k, iters=iters, id_col=id_col,
        vec_col=vec_col, seed_sample=seed_sample,
    )[0]


def kmeans_fit_multi(
    embeddings: DataFrame,
    spaces: list[tuple[int, int | None]],
    k: int | list[int] = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed_sample: int = 2048,
) -> list[list[list[float]]]:
    """Deterministic distributed Lloyd fit of one codebook per space.
    A space (start, dim) is the 1-based contiguous slice
    F.slice(v, start, dim) of each vector; dim=None runs to the end of
    the vector, so (1, None) is the whole vector. `k` is one centroid
    count for every space or a list with one per space. All spaces
    train in the same Spark jobs: ONE TakeOrdered sample collect
    (shared, sliced driver-side) and ONE map-side-combined aggregation
    per iteration keyed by (space, cell, d), so an IVFADC fit (coarse
    + 2 subspaces) runs 1 + iters actions, not 3 × (1 + iters).

    Per space the fit is exactly a one-space fit run on the sliced
    vectors (tests/test_kmeans_multi.py keeps that per-space fit as
    the reference and checks bit-equality on uniform, ragged and
    out-of-range inputs):
      * input = the rows whose slice is non-null and non-empty, i.e.
        size(v) >= start. The shared sample holds the `seed_sample`
        lowest-(md5(id), id) non-empty vectors; a space whose rows
        that sample cannot cover (the sample is full and holds a row
        shorter than `start`) gets its own bounded collect of the
        `seed_sample` lowest rows with size(v) >= start. Uniform
        input never needs one;
      * the space's dim = the length of its first sampled slice;
        sampled slices of another length are dropped before seeding,
        and the fit keeps only rows whose slice has that length (a
        ragged row is the caller's data problem: it would yield NULL
        distance cells and break the update indexing);
      * a space with no non-empty slice raises ValueError.

    Determinism contract (what makes the DuckDB twins replayable and
    re-runs reproducible regardless of partitioning):
      * init = deterministic FARTHEST-FIRST traversal over the
        HASH-ORDER sample, run driver-side (_seed_traversal; its
        sequential-fold arithmetic is bit-identical to the Spark/DuckDB
        folds, verified, so the choice is engine-replayable). md5
        renders the same hex in Spark and DuckDB, so the twin replays
        the selection exactly; ordering by a hash makes the sample
        uniform over the id space rather than a prefix (a prefix
        sample sees only whatever ids sort first — at 10^12 rows that
        is one crawl slice, not the corpus). Seed 0 is the lowest-hash
        vector, seed j maximizes the distance to its nearest
        already-chosen seed (ties to the lowest sample position).
        Naive "k lowest ids" seeding put adjacent seeds inside one
        cluster and Lloyd's stabilized on a degenerate mid-point split
        (caught by the two-blob test);
      * assignment = sequential-fold squared distance, ties to the
        lowest cell id;
      * update = per-dimension EXACT DECIMAL(38,15) sums (decimal
        addition is associative — row order, and tagging rows with a
        space id, cannot change the result, unlike double sums)
        converted to double means;
      * an emptied cluster keeps its previous centroid.

    100-TB posture: the (space, cell, d) result rows come to the
    driver (the model update is inherently driver-side and tiny). At
    10^12 rows you fit on a hash-sampled subset (stratified_sample)
    and assign everywhere — same code path, the fit input is just
    smaller."""
    if any(start < 1 or (dim is not None and dim < 1)
           for start, dim in spaces):
        raise ValueError(
            f"kmeans_fit_multi: every space needs start >= 1 and "
            f"dim >= 1 or None, got {spaces!r}"
        )
    ks = [k] * len(spaces) if isinstance(k, int) else list(k)
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull() & (F.size("v") > 0))

    def take(frame):
        return [
            list(r["v"])
            for r in frame.orderBy(F.md5(F.col("id").cast("string")), "id")
            .limit(seed_sample).collect()
        ]

    shared = take(e)
    samples: dict[int, list[list[float]]] = {}
    dims, cents_by_space = [], []
    for (start, dim), kk in zip(spaces, ks, strict=True):
        if start not in samples:
            if len(shared) == seed_sample and any(
                    len(v) < start for v in shared):
                samples[start] = take(e.where(F.size("v") >= start))
            else:
                samples[start] = [v for v in shared if len(v) >= start]
        end = None if dim is None else start - 1 + dim
        sliced = [v[start - 1:end] for v in samples[start]]
        if not sliced:
            raise ValueError(
                f"kmeans_fit_multi: no non-empty vectors in input for "
                f"space ({start}, {dim}) "
                f"(id_col={id_col!r}, vec_col={vec_col!r})"
            )
        dims.append(len(sliced[0]))
        cents_by_space.append(_seed_traversal(
            [s for s in sliced if len(s) == dims[-1]], kk))
    svs = [F.slice("v", start, F.size("v") if dim is None else dim)
           for start, dim in spaces]
    for _ in range(iters):
        parts = []
        for s, (sv, sdim, cents) in enumerate(
                zip(svs, dims, cents_by_space)):
            cell = cell_assign_col(sv, cents)
            # TWO selects: the O(k*dim) assignment must land in its own
            # Project so it is computed once per SOURCE row — fused
            # into the posexplode select it would re-evaluate per
            # exploded row (dim x the work; measured 6x slower
            # end-to-end). One (cell, d) aggregation via posexplode
            # instead of dim separate sum expressions: the plan carries
            # ONE aggregate instead of 64, which was ~1.5s of
            # analysis/codegen per iteration at dim=64
            staged = e.where(F.size(sv) == sdim).select(
                F.lit(s).alias("space"), cell.alias("cell"),
                sv.alias("sv"))
            parts.append(
                staged.select("space", "cell",
                              F.posexplode("sv").alias("d", "x"))
            )
        allp = parts[0]
        for p in parts[1:]:
            allp = allp.unionByName(p)
        rows = (
            allp.groupBy("space", "cell", "d")
            .agg(F.count("*").alias("n"),
                 F.sum(F.col("x").cast("decimal(38,15)")).alias("s"))
            .collect()
        )
        new = [[list(c) for c in cents] for cents in cents_by_space]
        for r in rows:
            if r["cell"] is None:
                continue
            new[r["space"]][r["cell"]][r["d"]] = float(r["s"]) / r["n"]
        cents_by_space = new
    return cents_by_space


def ann_ivf_multiprobe(
    embeddings: DataFrame,
    queries: DataFrame,
    centroids: list[list[float]],
    k: int = 3,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF with multi-probe: each query searches its `nprobe` NEAREST
    trained cells (ranked by centroid distance, ties to lower cell id)
    instead of only its own — the recall/cost knob real IVF indexes
    ship. The corpus side is partitioned by trained cell; the join key
    is the cell id, so the plan stays a broadcast/co-partitioned equi
    join with fan-out nprobe per query, never a cross join."""
    kc = len(centroids)
    dim = len(centroids[0])
    # null/ragged vectors are excluded from BOTH sides (same guard the
    # fit applies): engines disagree on arithmetic over padded zips
    # (Spark's aggregate nulls out, DuckDB's list_sum skips nulls), so
    # the only portable semantics is an explicit filter
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ev"),
    ).where(
        F.col("ev").isNotNull() & (F.size("ev") == dim)
    ).withColumn("cell", cell_assign_col(F.col("ev"), centroids)) \
     .withColumn("en", _norm(F.col("ev")))
    qv = F.col("qv")
    dists = F.array(*[_dist2_to(qv, c) for c in centroids])
    ranked = F.transform(
        F.array_sort(
            F.zip_with(
                dists,
                F.sequence(F.lit(0), F.lit(kc - 1)),
                lambda d, i: F.struct(d.alias("d"), i.alias("i")),
            )
        ),
        lambda s: s["i"].cast("int"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).where(
        F.col("qv").isNotNull() & (F.size("qv") == dim)
    ).withColumn("cell", F.explode(F.slice(ranked, 1, nprobe))) \
     .withColumn("qn", _norm(qv))
    j = e.join(F.broadcast(q), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    # norms hoisted to each side pre-join (interpreted HOF folds run
    # once per row, not once per candidate pair); identical IEEE value
    # to cosine_col, so the DuckDB twin is unaffected
    j = j.withColumn(
        "cos",
        _dot(F.col("qv"), F.col("ev")) / (F.col("qn") * F.col("en")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cell",
                F.round("cos", 6).alias("cos"))
    )


def cell_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
) -> DataFrame:
    """IVF-style: neighbors restricted to the query's coarse cell.
    The join is on the cell id — co-partitionable, no cross join."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
        F.col(cell_col).alias("cell"),
    )
    e = embeddings.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("ev"),
        F.col(cell_col).alias("cell"),
    )
    j = e.join(F.broadcast(q), "cell").where(
        F.col("neighbor_id") != F.col("query_id")
    )
    j = j.withColumn("cos", cosine_col(F.col("qv"), F.col("ev")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "cell", "rank", "neighbor_id",
                F.round("cos", 6).alias("cos"))
    )


def measure_ivf_recall(
    embeddings: DataFrame,
    k: int = 3,
    nprobes: tuple[int, ...] = (1, 2, 4),
    n_queries: int = 50,
    kmeans_k: int = 8,
    kmeans_iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, float]:
    """recall@k of the trained IVF multi-probe index vs the exact
    brute-force baseline, per nprobe setting — the measured form of
    the recall/cost knob (a knob whose recall is asserted, not
    measured, is marketing). Queries = the `n_queries` lowest-id
    vectors; recall = |IVF top-k ∩ exact top-k| / (k * n_queries).

    The denominator is the SIZE OF THE EXACT TOP-K SET — equal to
    k * n_queries on corpora where every query has >= k neighbors,
    smaller on tiny inputs (brute_force_topk excludes self-matches).

    Deliberately driver-light: the only collected frames are the two
    (n_queries * k)-row top-k results per setting. At corpus scale you
    run this on a hash-sampled slice — recall is a property of the
    quantizer + data distribution, not of the corpus row count."""
    cents = kmeans_fit(embeddings, k=kmeans_k, iters=kmeans_iters,
                       id_col=id_col, vec_col=vec_col)
    q = embeddings.orderBy(id_col).limit(n_queries)
    exact = brute_force_topk(embeddings, q, k=k, id_col=id_col,
                             vec_col=vec_col)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    if not truth:
        raise ValueError(
            "measure_ivf_recall: empty exact baseline — the input has "
            "no query with at least one non-self neighbor"
        )
    out = {}
    for nprobe in nprobes:
        got = ann_ivf_multiprobe(embeddings, q, cents, k=k, nprobe=nprobe,
                                 id_col=id_col, vec_col=vec_col)
        hits = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
        out[nprobe] = round(len(hits & truth) / len(truth), 4)
    return out


def build_ivf_index(embeddings: DataFrame, store_dir: str,
                    k: int = 8, iters: int = 3,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> list[list[float]]:
    """Persist an IVF index: centroids (the k-row MODEL) plus the
    corpus assignments parquet-partitioned BY CELL — the on-disk
    layout that lets a search touch only its probe cells' directories
    (the Iceberg-partition analog of an IVF inverted list). Returns
    the centroids."""
    import json
    import pathlib

    cents = kmeans_fit(embeddings, k=k, iters=iters,
                       id_col=id_col, vec_col=vec_col)
    store = pathlib.Path(store_dir)
    store.mkdir(parents=True, exist_ok=True)
    # the model is k×dim driver floats — a JSON sidecar, not a table
    (store / "centroids.json").write_text(json.dumps(cents))
    assigned = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    ).withColumn("cell", cell_assign_col(F.col("embedding"), cents))
    assigned.write.mode("overwrite").partitionBy("cell") \
        .parquet(str(store / "assignments"))
    return cents


def append_ivf_index(embeddings_new: DataFrame, store_dir: str,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> int:
    """Incremental maintenance: assign NEW vectors to the EXISTING
    trained cells and append — no refit, no touch of existing
    partitions (the standard IVF append; periodic refit is a policy
    decision for drifted corpora). Returns appended row count."""
    import json
    import pathlib

    cents = json.loads(
        (pathlib.Path(store_dir) / "centroids.json").read_text())
    assigned = embeddings_new.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).cast("array<double>").alias("embedding"),
    ).withColumn("cell", cell_assign_col(F.col("embedding"), cents))
    n = assigned.count()
    if n:
        assigned.write.mode("append").partitionBy("cell") \
            .parquet(str(pathlib.Path(store_dir) / "assignments"))
    return n


def search_ivf_index(spark, store_dir: str, queries: DataFrame,
                     k: int = 3, nprobe: int = 2,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """Search the persisted index: compute each query's nprobe nearest
    cells driver-side from the k-row model, then scan ONLY those
    cells' partitions (the cell filter is a literal IN over the
    partition column — directory pruning, asserted in tests) and rank
    within them. The corpus side reads |probe-cell directories|, not
    the table."""
    import json
    import pathlib

    cents = json.loads(
        (pathlib.Path(store_dir) / "centroids.json").read_text())
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    )
    kc = len(cents)
    dists = F.array(*[_dist2_to(F.col("qv"), c) for c in cents])
    ranked = F.transform(
        F.array_sort(
            F.zip_with(
                dists,
                F.sequence(F.lit(0), F.lit(kc - 1)),
                lambda d, i: F.struct(d.alias("d"), i.alias("i")),
            )
        ),
        lambda s: s["i"].cast("int"),
    )
    qp = q.withColumn("cell", F.explode(F.slice(ranked, 1, nprobe)))
    # bounded collect: nq × nprobe cell ids -> literal partition filter
    probe_cells = sorted({
        r["cell"] for r in qp.select("cell").distinct().collect()
    })
    e = spark.read.parquet(
        str(pathlib.Path(store_dir) / "assignments")
    ).where(F.col("cell").isin(probe_cells)) \
        .withColumn("en", _norm(F.col("embedding")))
    # norms hoisted to each side pre-join (once per row, not per
    # candidate pair); same IEEE value as cosine_col
    qp = qp.withColumn("qn", _norm(F.col("qv")))
    j = e.withColumnRenamed("vec_id", "neighbor_id").join(
        F.broadcast(qp), "cell"
    ).where(F.col("neighbor_id") != F.col("query_id"))
    j = j.withColumn(
        "cos",
        _dot(F.col("qv"), F.col("embedding"))
        / (F.col("qn") * F.col("en")),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        j.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cell",
                F.round("cos", 6).alias("cos"))
    )


def semdedup(
    embeddings: DataFrame,
    centroids: list[list[float]],
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication inside trained k-means cells. Members of a cell
    whose pairwise cosine >= tau form near-duplicate components; per
    component the KEPT representative is the member FARTHEST from its
    cell centroid (lowest centroid cosine — the paper's
    keep-the-atypical rule, which preserves diversity), ties to the
    lowest id. Output: one row per CLUSTERED member
    (cell, cluster_id, id, cent_cos, keep) — singletons are untouched
    by the policy and not emitted (same contract as
    duplicate_clusters).

    Plan shape: pair space is cell-restricted (the trained coarse
    quantizer bounds it — never n^2 across cells, the same posture as
    ann_ivf_multiprobe); components run on the
    alternating-star connected-components kernel; the keep policy is
    one window keyed by cluster_id (bounded groups). All cosine
    arithmetic is the sequential-fold form that DuckDB's list_sum
    replays bit-for-bit, so the keep ORDERING is engine-portable —
    list_cosine_similarity would not be."""
    from .canonicalize import duplicate_clusters

    dim = len(centroids[0])
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull() & (F.size("v") == dim))
    # Materialize the assignment ONCE: asg feeds both self-join sides
    # AND the member join below, and cell_assign_col is an O(k·dim)
    # expression per row — uncached it executed three times (the DuckDB
    # twin marks the same asg CTE MATERIALIZED for the same reason).
    # Eager localCheckpoint also truncates lineage before the iterative
    # CC kernel re-reads the edge plan every round.
    # The row norm is hoisted out of the pair predicate and
    # materialized with the assignment: per within-cell pair the
    # cosine then costs ONE zip_with/aggregate fold (the dot) plus a
    # divide, instead of three folds (dot + both norms — HOF lambdas
    # run interpreted, not codegen'd, so this is ~3x the per-pair
    # work). Same IEEE values — the fold producing each norm is
    # unchanged, only computed once per row instead of once per pair —
    # so the DuckDB twin and the keep-ordering contract are unaffected.
    asg = e.withColumn(
        "cell", cell_assign_col(F.col("v"), centroids)
    ).withColumn("nrm", _norm(F.col("v"))).localCheckpoint(eager=True)
    a = asg.select(F.col("id").alias("id_a"), F.col("v").alias("va"),
                   F.col("nrm").alias("na"), "cell")
    b = asg.select(F.col("id").alias("id_b"), F.col("v").alias("vb"),
                   F.col("nrm").alias("nb"), "cell")
    edges = (
        a.join(b, "cell").where(F.col("id_a") < F.col("id_b"))
        .where(_dot(F.col("va"), F.col("vb"))
               / (F.col("na") * F.col("nb")) >= tau)
        .select("id_a", "id_b")
    )
    clusters = duplicate_clusters(edges)
    cent_arr = F.array(*[_lit_vec(c) for c in centroids])
    mem = clusters.join(asg, "id").withColumn(
        "cent_cos",
        cosine_col(F.col("v"), F.element_at(cent_arr, F.col("cell") + 1)),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("cent_cos").asc(), F.col("id").asc()
    )
    return (
        mem.withColumn("keep", F.row_number().over(w) == 1)
        .select("cell", "cluster_id", "id",
                F.round("cent_cos", 6).alias("cent_cos"), "keep")
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    centroids: list[list[float]],
    per_cell: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Cluster-balanced (diversity) sampling — the D4-style companion
    to `semdedup` (Tirumala et al. 2023, arXiv:2308.12284: dedup, then
    sample ACROSS clusters rather than from the head of the density
    distribution): up to `per_cell` members per trained k-means cell,
    chosen in (md5(id), id) hash order so the within-cell pick is
    uniform over the id space and engine-replayable. Output
    (cell, pos, id) with pos = 1..per_cell rank within the cell.

    A corpus-proportional sample over-represents whatever dominates
    the crawl (boilerplate-heavy head clusters); an equal per-cell
    quota flattens the topic distribution — the same flattening
    argument as `mix_by_temperature` at alpha=0, but in embedding
    space instead of source labels.

    Plan shape: ONE window keyed by cell (k partitions, bounded by the
    quota after the rank filter); assignment is the same pure-map
    `cell_assign_col` the IVF family uses — no joins, no driver data.
    At 10^12 rows a per-cell TakeOrdered beats the window only if k is
    tiny; with the 50k-cluster regime the paper runs, the cell-keyed
    window partial-ranks per partition and is the right plan."""
    dim = len(centroids[0])
    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    ).where(F.col("v").isNotNull() & (F.size("v") == dim))
    asg = e.withColumn("cell", cell_assign_col(F.col("v"), centroids))
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("id").cast("string")).asc(), F.col("id").asc()
    )
    return (
        asg.withColumn("pos", F.row_number().over(w))
        .where(F.col("pos") <= per_cell)
        .select("cell", F.col("pos").cast("int").alias("pos"), "id")
    )


# ---------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): the memory-compression leg
# of the ANN family. The vector space splits into m contiguous
# subspaces, each with its own kmeans_fit codebook; a vector is stored
# as m small integer codes, and asymmetric-distance (ADC) search scores
# a candidate with m table lookups instead of a dim-sized arithmetic
# pass. At 10^12 vectors this is what makes the index FIT: 64-dim
# float64 = 512 bytes/vector raw, m=2 byte codes = 2.
# ---------------------------------------------------------------------


def _pq_spaces(embeddings: DataFrame, m: int, vec_col: str,
               dim: int | None) -> list[tuple[int, int]]:
    """The m equal contiguous (start, dim) subspaces of `dim`, which
    is inferred as the minimum non-empty vector length when not given
    (one bounded agg)."""
    if dim is None:
        row = embeddings.where(
            F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
        ).agg(F.min(F.size(vec_col)).alias("d")).first()
        dim = int(row["d"]) if row and row["d"] is not None else 0
    if dim <= 0 or dim % m:
        raise ValueError(
            f"pq_fit: dim={dim} must be positive and divisible by m={m}"
        )
    sub = dim // m
    return [(j * sub + 1, sub) for j in range(m)]


def pq_fit(embeddings: DataFrame, m: int = 2, k: int = 8,
           iters: int = 3, id_col: str = "vec_id",
           vec_col: str = "embedding", seed_sample: int = 2048,
           dim: int | None = None) -> list[list[list[float]]]:
    """Per-subspace codebooks: `dim` splits into m equal contiguous
    slices (_pq_spaces), all fit by one kmeans_fit_multi call (each
    codebook inherits the full determinism contract — hash-order
    seeds, decimal updates — so the codebooks are partition-invariant
    and twin-replayable). Returns m codebooks of k centroids each."""
    return kmeans_fit_multi(
        embeddings, _pq_spaces(embeddings, m, vec_col, dim),
        k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        seed_sample=seed_sample,
    )


def pq_codes_col(vec, codebooks: list[list[list[float]]]):
    """array<int> of m codes for `vec` — the per-subspace argmin cell,
    same tie-break as the IVF assignment."""
    sub = len(codebooks[0][0])
    return F.array(*[
        cell_assign_col(F.slice(vec, j * sub + 1, sub), cb)
        for j, cb in enumerate(codebooks)
    ])


def pq_encode(embeddings: DataFrame,
              codebooks: list[list[list[float]]],
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes): the compressed corpus — a pure map over valid
    rows (null/ragged vectors are excluded, mirroring the fit's input
    guards); no shuffle, no driver data."""
    m, k = len(codebooks), len(codebooks[0])
    dim = len(codebooks[0][0]) * m
    valid = embeddings.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    return valid.select(
        F.col(id_col).alias("id"),
        pq_codes_col(F.col(vec_col), codebooks).alias("codes"),
    )


def _py_dist2(a: list[float], b: list[float]) -> float:
    """The sequential-fold squared distance in plain Python — verified
    bit-identical to Spark's aggregate fold and DuckDB's list_sum
    (same contract kmeans_fit's seeding relies on)."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += (x - y) * (x - y)
    return acc


def pq_adc_topk(embeddings: DataFrame, queries: DataFrame,
                codebooks: list[list[list[float]]], topk: int = 3,
                id_col: str = "vec_id", vec_col: str = "embedding",
                ) -> DataFrame:
    """Asymmetric-distance top-k: per query, a driver-built lookup
    table lut[j*k + c] = d2(query_subspace_j, codebook_j[c]) — m×k
    doubles per query, computed with the SAME sequential fold the
    engines use, so the scores replay bit-for-bit — then every
    candidate scores with m array lookups:

        adc(q, x) = sum_j lut_q[j*k + codes_x[j]]

    Plan: the query LUT frame (|Q| rows) broadcast-cross-joins the
    code table; scoring is a pure fold over m; one window per query
    ranks (adc asc, id asc). The corpus side never moves — exactly
    the IVF-without-cells ADC baseline (cell-restricting the
    candidates composes with ann_ivf_* as in a classic IVFADC).
    Queries with null/ragged vectors drop out, mirroring the twin."""
    m, k = len(codebooks), len(codebooks[0])
    sub = len(codebooks[0][0])
    dim = sub * m
    q_rows = queries.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("v")) \
     .collect()
    spark = embeddings.sparkSession
    luts = [
        (r["query_id"],
         [_py_dist2(list(r["v"])[j * sub:(j + 1) * sub], c)
          for j in range(m) for c in codebooks[j]])
        for r in q_rows
    ]
    if not luts:
        empty = pq_encode(embeddings, codebooks, id_col, vec_col) \
            .limit(0)
        return empty.select(
            F.col("id").alias("query_id"),
            F.lit(0).alias("rank"),
            F.col("id").alias("neighbor_id"),
            F.lit(0.0).alias("adc"),
        )
    qdf = spark.createDataFrame(luts, "query_id long, lut array<double>")
    codes = pq_encode(embeddings, codebooks, id_col, vec_col)
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            "lut", (j * k + F.element_at("codes", j + 1) + 1).cast("int")
        ),
    )
    scored = codes.join(F.broadcast(qdf)) \
        .where(F.col("id") != F.col("query_id")) \
        .select("query_id", F.col("id").alias("neighbor_id"),
                adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= topk) \
        .select("query_id", "rank", "neighbor_id",
                F.round("adc", 6).alias("adc"))


def ann_ivfadc_topk(embeddings: DataFrame, queries: DataFrame,
                    coarse: list[list[float]],
                    codebooks: list[list[list[float]]],
                    nprobe: int = 2, topk: int = 3,
                    id_col: str = "vec_id",
                    vec_col: str = "embedding") -> DataFrame:
    """IVF + ADC composed (the shape of a classic IVFADC index): the
    coarse quantizer restricts candidates to each query's `nprobe`
    nearest cells, and the survivors score by PQ lookup tables instead
    of full vectors. This is the NON-RESIDUAL variant — codes quantize
    the raw vector, so ONE code table serves whole-corpus ADC and any
    cell restriction (residual IVFADC trades that reuse for finer
    quantization, at one codebook set per coarse cell).

    With nprobe = len(coarse) this returns exactly pq_adc_topk
    (equality-tested): the cell restriction is a pure candidate
    filter, never a score change.

    Plan: corpus side = ONE pure map emitting (cell, codes) per valid
    vector; query side = |Q|×nprobe driver rows (probe cells chosen
    with the same sequential-fold distance, ties to the lowest cell —
    mirroring ann_ivf_multiprobe) broadcast into a cell-equi join;
    the corpus never shuffles."""
    m, k = len(codebooks), len(codebooks[0])
    sub = len(codebooks[0][0])
    dim = sub * m
    valid = embeddings.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )
    corpus = valid.select(
        F.col(id_col).alias("id"),
        cell_assign_col(F.col(vec_col), coarse).alias("cell"),
        pq_codes_col(F.col(vec_col), codebooks).alias("codes"),
    )
    q_rows = queries.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    ).select(F.col(id_col).alias("query_id"),
             F.col(vec_col).alias("v")).collect()
    probe_rows = []
    for r in q_rows:
        v = list(r["v"])
        lut = [_py_dist2(v[j * sub:(j + 1) * sub], c)
               for j in range(m) for c in codebooks[j]]
        cells = sorted(
            range(len(coarse)),
            key=lambda c: (_py_dist2(v, coarse[c]), c),
        )[:nprobe]
        probe_rows += [(r["query_id"], c, lut) for c in cells]
    spark = embeddings.sparkSession
    if not probe_rows:
        return corpus.limit(0).select(
            F.col("id").alias("query_id"), F.lit(0).alias("rank"),
            F.col("id").alias("neighbor_id"), "cell",
            F.lit(0.0).alias("adc"),
        )
    qdf = spark.createDataFrame(
        probe_rows, "query_id long, cell int, lut array<double>"
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(m - 1)),
        F.lit(0.0),
        lambda acc, j: acc + F.element_at(
            "lut", (j * k + F.element_at("codes", j + 1) + 1).cast("int")
        ),
    )
    scored = corpus.join(F.broadcast(qdf), "cell") \
        .where(F.col("id") != F.col("query_id")) \
        .select("query_id", F.col("id").alias("neighbor_id"), "cell",
                adc.alias("adc"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= topk) \
        .select("query_id", "rank", "neighbor_id", "cell",
                F.round("adc", 6).alias("adc"))


def brute_force_l2_topk(embeddings: DataFrame, queries: DataFrame,
                        k: int = 3, id_col: str = "vec_id",
                        vec_col: str = "embedding") -> DataFrame:
    """Exact L2 top-k (broadcast crossJoin baseline, the squared-
    distance counterpart of brute_force_topk's cosine) — the ground
    truth the ADC family approximates. Self-matches excluded."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.col(vec_col).alias("qv"))
    c = embeddings.where(
        F.col(vec_col).isNotNull() & (F.size(vec_col) > 0)
    ).select(F.col(id_col).alias("neighbor_id"),
             F.col(vec_col).alias("cv"))
    d2 = F.aggregate(
        F.zip_with("qv", "cv", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    )
    scored = c.crossJoin(F.broadcast(q)) \
        .where(F.col("neighbor_id") != F.col("query_id")) \
        .select("query_id", "neighbor_id", d2.alias("d2"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("d2").asc(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rank", F.row_number().over(w)) \
        .where(F.col("rank") <= k) \
        .select("query_id", "rank", "neighbor_id",
                F.round("d2", 6).alias("d2"))


def measure_pq_recall(
    embeddings: DataFrame,
    k: int = 3,
    nprobes: tuple[int, ...] = (1, 2, 8),
    n_queries: int = 50,
    m: int = 2,
    pq_k: int = 8,
    kmeans_k: int = 8,
    kmeans_iters: int = 2,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> dict[int, float]:
    """recall@k of the IVFADC search vs the exact L2 baseline, per
    nprobe — the measured form of BOTH approximation knobs at once
    (cell restriction AND code quantization; nprobe=kmeans_k isolates
    the pure PQ quantization loss). Same driver-light contract as
    measure_ivf_recall: only the top-k result sets are collected."""
    coarse, *cbs = kmeans_fit_multi(
        embeddings, [(1, None)] + _pq_spaces(embeddings, m, vec_col, dim),
        k=[kmeans_k] + [pq_k] * m, iters=kmeans_iters,
        id_col=id_col, vec_col=vec_col,
    )
    q = embeddings.orderBy(id_col).limit(n_queries)
    exact = brute_force_l2_topk(embeddings, q, k=k, id_col=id_col,
                                vec_col=vec_col)
    truth = {(r["query_id"], r["neighbor_id"]) for r in exact.collect()}
    if not truth:
        raise ValueError(
            "measure_pq_recall: empty exact baseline — the input has "
            "no query with at least one non-self neighbor"
        )
    out = {}
    for nprobe in nprobes:
        got = ann_ivfadc_topk(embeddings, q, coarse, cbs,
                              nprobe=nprobe, topk=k,
                              id_col=id_col, vec_col=vec_col)
        hits = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
        out[nprobe] = round(len(hits & truth) / len(truth), 4)
    return out
