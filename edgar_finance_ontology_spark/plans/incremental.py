"""Company-grain incremental recompute for late pages (round-4 verdict
item 2).

At a rolling 10^12-page crawl, incremental maintenance is the normal
mode: one late page must NOT force a full pipeline re-run. The
bucket-grain lineage (plans/lineage.py run_stage) resumes a KILLED run
but can't absorb new input into completed buckets; this module owns
the append workflow:

  1. URL-grain front-end stores — extraction and fact-record parsing
     run ONLY for urls not yet in the store and append (the expensive
     Python stages never touch old pages again);
  2. a company-grain manifest (lineage.company_manifest: cik ->
     content hash of its full fact set + profile) diffs against the
     stored generation to find DIRTY ciks — the company-grain analog
     of the reference's per-CIK date-stamped cache
     (select_xbrl_tags.py:1406-1461);
  3. observations are rebuilt for dirty ciks only and PATCHED into a
     cik-bucket-partitioned store via dynamic partition overwrite
     (the directory-parquet analog of Iceberg overwrite-by-partition);
     clean buckets' files are not rewritten;
  4. the bounded downstream aggregates (benchmarks, rankings) are
     recomputed from the patched observations — they are K rows per
     (scope, metric), never corpus-scale;
  5. the triple table, partitioned by (family, cik_bucket), is patched
     the same way: per-cik families (company + observation triples)
     only for dirty buckets; the bounded global families (dims,
     benchmark, ranking triples) rewritten each run.

Everything per-cik-independent in the engine (every selection /
derivation window is partitioned by cik — operators/observations.py,
selection.py) makes step 3 exact: a company's observations are a pure
function of its own facts + profile, so patch == from-scratch, which
tests/test_incremental.py asserts row-for-row.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.benchmarks import compute_benchmarks
from ..operators.extraction import with_extracted_text
from ..operators.observations import build_observations
from ..operators.rankings import compute_rankings
from ..emit.triples import (
    company_triples, global_family_triples, observation_triples,
)
from . import snapshots
from .web_pipeline import (
    assemble_facts, parse_fact_records, profile_rows,
    profiles_to_companies,
)


def cik_bucket_col(cik, n_buckets: int):
    return F.pmod(F.crc32(F.lpad(cik, 10, "0")), F.lit(n_buckets)) \
        .cast("int")


def _exists(path: pathlib.Path) -> bool:
    return path.exists() and any(path.iterdir())


class _DynamicOverwrite:
    """Scoped spark.sql.sources.partitionOverwriteMode=dynamic — an
    overwrite write replaces ONLY the partitions present in the
    written frame (Iceberg overwrite-by-partition stand-in)."""

    KEY = "spark.sql.sources.partitionOverwriteMode"

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def __enter__(self):
        self.prev = self.spark.conf.get(self.KEY, "static")
        self.spark.conf.set(self.KEY, "dynamic")

    def __exit__(self, *exc):
        self.spark.conf.set(self.KEY, self.prev)


def run_incremental(
    spark: SparkSession,
    pages: DataFrame,
    fy: int,
    store_dir: str,
    n_cik_buckets: int = 64,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
    expire_keep: int | None = None,
    **pipeline_kw,
) -> dict:
    """Process `pages` against the stores under `store_dir`; first run
    is a cold build, later runs recompute only companies whose input
    content changed. Returns the final tables plus a `metrics` dict
    recording exactly how much work the run did.

    URL-immutability contract: the url is the capture identity —
    within a run duplicate urls collapse earliest-wins (url_dedup's
    contract), and across runs a url already in the extraction store
    is never re-read, so a RE-CRAWL that changes content at the SAME
    url is ignored by design. Common-Crawl-style inputs satisfy this
    (a recrawl is a new capture with a new warc_ts and is deduped
    upstream); a true revision workflow would key the stores by
    (url, content hash) and add a latest-wins policy — out of scope
    here and called out so nobody assumes otherwise."""
    from .lineage import company_manifest, dirty_companies

    import time as _time

    store = pathlib.Path(store_dir)
    store.mkdir(parents=True, exist_ok=True)
    ext_dir = store / "extracted"
    rec_dir = store / "records"
    prof_dir = store / "profiles"
    man_dir = store / "manifest"
    obs_dir = store / "observations"
    tri_dir = store / "triples"
    metrics: dict = {}
    # per-stage wall clocks land in metrics["stage_sec"] — the same
    # observability the lineage table gives row counts, so a slow
    # patch run can be attributed without re-instrumenting
    stage_sec: dict = {}
    metrics["stage_sec"] = stage_sec
    _t0 = _time.monotonic()

    def _tick(name: str) -> None:
        nonlocal _t0
        now = _time.monotonic()
        stage_sec[name] = round(stage_sec.get(name, 0.0) + now - _t0, 3)
        _t0 = now

    # -- 1. url-grain extraction store ------------------------------
    # order matters for patch cost: anti-join the store's known urls
    # FIRST, so the dedup window below (which must order by an md5 of
    # every html payload) runs only over genuinely-new urls. When a
    # rolling crawl re-presents an old slice plus a few late pages,
    # this keeps the per-page hash pass proportional to the late
    # pages, not the slice. Result-identical to dedup-then-anti-join:
    # a stored url is dropped either way, and a new url's
    # earliest-capture pick never involves stored urls.
    if _exists(ext_dir):
        known = spark.read.parquet(str(ext_dir)).select("url")
        incoming = pages.join(known, "url", "left_anti")
    else:
        incoming = pages
    # deterministic one-row-per-url view of the new slice (duplicate
    # urls are normal; earliest capture + content tie-break wins,
    # matching url_dedup's contract)
    w = Window.partitionBy("url").orderBy(
        F.col("warc_ts").asc_nulls_last(), F.md5(F.col("html")).asc()
    )
    new_pages = (
        incoming.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1).drop("_rn")
    )
    # checkpoint the freshly-extracted slice ONCE: both the store
    # append and the record parse read it, and extraction is the
    # expensive Python stage that must run once per new page
    new_ext = with_extracted_text(new_pages).select("url", "text") \
        .localCheckpoint(eager=True)
    metrics["new_pages"] = new_ext.count()
    _tick("extract")

    # -- 2. url-grain fact-record store (written FIRST) -------------
    # crash-ordering contract: the extraction store is the replay
    # guard (step 1's anti-join), so it must be appended LAST. A crash
    # after the records append but before the extraction append leaves
    # the urls un-guarded; the replayed batch re-extracts and
    # re-appends their records, and assemble_facts' full-record
    # dropDuplicates collapses the doubles — idempotent. The reverse
    # order would silently LOSE the records forever (the replay would
    # anti-join the urls away before ever parsing them).
    new_recs = parse_fact_records(new_ext).withColumn(
        "cik_bucket", cik_bucket_col(F.col("cik"), n_cik_buckets)
    ).localCheckpoint(eager=True)
    # url-grain profile rows store: the companies dim rebuilds from
    # these TINY rows (one per profile sentence ever seen), so a patch
    # run never re-reads stored TEXT at all — without this store the
    # profile re-parse is a full-corpus scan per run, the other
    # 10^12-page patch-cost driver beside the manifest scan. A
    # replayed crash batch appends duplicate rows; the deterministic
    # per-cik min in profiles_to_companies collapses them (idempotent,
    # same contract as the records store's dropDuplicates).
    new_prof = profile_rows(new_ext).withColumn(
        "cik_bucket", cik_bucket_col(F.col("cik"), n_cik_buckets)
    ).localCheckpoint(eager=True)
    if metrics["new_pages"]:
        new_recs.write.mode("append").partitionBy("cik_bucket") \
            .parquet(str(rec_dir))
        new_prof.write.mode("append").partitionBy("cik_bucket") \
            .parquet(str(prof_dir))
        new_ext.write.mode("append").parquet(str(ext_dir))
    prof_store = (
        spark.read.parquet(str(prof_dir)).drop("cik_bucket")
        if _exists(prof_dir) else new_prof.drop("cik_bucket").limit(0)
    )
    companies = profiles_to_companies(prof_store) \
        .localCheckpoint(eager=True)
    _tick("stores_and_companies")

    # -- 3. manifest diff -> dirty ciks (candidate-pruned) ----------
    # only companies touched by NEW records or NEW profile lines can
    # have changed; the records and manifest stores are partitioned by
    # cik bucket, so a patch run reads ONLY the candidate buckets —
    # the manifest pass costs O(candidates' fact sets), not a full
    # records-store scan per run (the 10^12-page patch-cost driver)
    candidates = (
        new_recs.select("cik")
        .unionByName(new_prof.select("cik"))
        .distinct().localCheckpoint(eager=True)
    )
    cand_buckets = sorted({
        r["b"] for r in candidates.select(
            cik_bucket_col(F.col("cik"), n_cik_buckets).alias("b")
        ).distinct().collect()
    })
    if _exists(rec_dir) and cand_buckets:
        recs_cand = (
            spark.read.parquet(str(rec_dir))
            .where(F.col("cik_bucket").isin(cand_buckets))
            .drop("cik_bucket")
            .join(candidates, "cik", "semi")
        )
    else:
        recs_cand = new_recs.drop("cik_bucket").limit(0)
    # candidate-scope facts: complete fact sets for every candidate
    # company (old + new records of its buckets), nothing else
    facts = assemble_facts(recs_cand).localCheckpoint(eager=True)
    companies_cand = companies.join(candidates, "cik", "semi")
    m_cand = company_manifest(facts, companies_cand) \
        .localCheckpoint(eager=True)
    if _exists(man_dir):
        m_old_cand = (
            spark.read.parquet(str(man_dir))
            .where(F.col("cik_bucket").isin(cand_buckets))
            .drop("cik_bucket")
        )
        dirty = dirty_companies(m_cand, m_old_cand)
    else:
        dirty = m_cand.select("cik")
    dirty = dirty.localCheckpoint(eager=True)
    metrics["n_candidates"] = candidates.count()
    metrics["n_dirty"] = dirty.count()
    _tick("manifest_diff")

    # -- 4. patch observations for dirty ciks only ------------------
    dirty_buckets = dirty.select(
        cik_bucket_col(F.col("cik"), n_cik_buckets).alias("cik_bucket")
    ).distinct().localCheckpoint(eager=True)
    if metrics["n_dirty"]:
        facts_d = facts.join(dirty, "cik", "semi")
        companies_d = companies.join(dirty, "cik", "semi") \
            .localCheckpoint(eager=True)
        obs_dirty = build_observations(
            facts_d, companies_d, fy, **pipeline_kw
        ).localCheckpoint(eager=True)
        metrics["obs_rows_recomputed"] = obs_dirty.count()
        bucketed = obs_dirty.withColumn(
            "cik_bucket", cik_bucket_col(F.col("cik"), n_cik_buckets)
        )
        metrics["obs_buckets_rewritten"] = dirty_buckets.count()
        if _exists(obs_dir):
            kept = (
                spark.read.parquet(str(obs_dir))
                .join(dirty_buckets, "cik_bucket", "semi")
                .join(dirty, "cik", "left_anti")
                .select(*bucketed.columns)
            )
            out = kept.unionByName(bucketed)
        else:
            out = bucketed
        with _DynamicOverwrite(spark):
            out.write.mode("overwrite").partitionBy("cik_bucket") \
                .parquet(str(obs_dir))
    else:
        metrics["obs_rows_recomputed"] = 0
        metrics["obs_buckets_rewritten"] = 0
        companies_d = companies.limit(0)
        obs_dirty = None
    _tick("obs_patch")
    if not _exists(obs_dir):
        # degenerate cold run (no parseable companies/facts at all):
        # nothing was written; return a consistent empty world instead
        # of crashing on a missing store (a streaming batch of pure
        # noise pages hits this)
        empty_obs = build_observations(
            facts.limit(0), companies.limit(0), fy, **pipeline_kw
        ).limit(0)
        metrics["n_companies"] = (
            spark.read.parquet(str(man_dir)).count()
            if _exists(man_dir) else metrics["n_candidates"]
        )
        return {
            "observations": empty_obs,
            "benchmarks": compute_benchmarks(empty_obs, fy),
            "rankings": compute_rankings(empty_obs, fy),
            "companies": companies,
            "facts": facts,
            "triples": None,
            "metrics": metrics,
        }
    # restore the canonical (cik, emission-index) order the partitioned
    # read-back loses — the Turtle writer renders families in arrival
    # order, and the byte-parity contract (incremental store -> TTL ==
    # scratch run -> TTL) depends on it
    from .pipeline import canonical_observations_order

    observations = canonical_observations_order(
        spark.read.parquet(str(obs_dir)).drop("cik_bucket")
    ).localCheckpoint(eager=True)
    _tick("obs_readback")

    # -- 5. bounded downstream aggregates: full recompute -----------
    # eager localCheckpoint (concurrently — independent given obs), not
    # cache(): the triple patcher embeds both frames several times and
    # cache leaves the full window/pivot lineage in every analysis pass
    # (same rationale and measurement as plans/pipeline.run_pipeline)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as _pool:
        _fb = _pool.submit(lambda: compute_benchmarks(
            observations, fy).localCheckpoint(eager=True))
        _fr = _pool.submit(lambda: compute_rankings(
            observations, fy).localCheckpoint(eager=True))
        benchmarks = _fb.result()
        rankings = _fr.result()

    # -- 6. patch the triple table ----------------------------------
    # per-cik families carry their cik inside the subject IRI
    # (efin:CIK<10> / efin:obs-<10>-...), so the partition key is
    # recoverable from the triple itself
    subj_cik = F.regexp_extract("subj", r"(?:CIK|obs-)(\d{10})", 1)
    if metrics["n_dirty"]:
        # snapshot metadata keys partition values as strings (hive dir
        # names); the dirty-bucket set is <= n_cik_buckets rows, a
        # bounded driver collect
        dirty_bucket_set = {
            str(r["cik_bucket"]) for r in dirty_buckets.collect()
        }
        percik_dirty = company_triples(companies_d).unionByName(
            observation_triples(obs_dirty)
        ).withColumn("family", F.lit("percik")) \
         .withColumn("cik_bucket", cik_bucket_col(subj_cik, n_cik_buckets))
        if snapshots.table_exists(tri_dir):
            # metadata-pruned read: only the dirty buckets' files ever
            # reach Spark (Iceberg-manifest-style pruning — at 10^12
            # triples this is the difference between reading one
            # bucket and listing the whole table)
            kept_t = (
                snapshots.read_snapshot(
                    spark, tri_dir,
                    partition_filter=lambda pv: (
                        pv.get("family") == "percik"
                        and pv.get("cik_bucket") in dirty_bucket_set
                    ),
                )
                .join(
                    dirty.select(F.lpad("cik", 10, "0").alias("_dc")),
                    subj_cik == F.col("_dc"), "left_anti",
                )
                .select(*percik_dirty.columns)
            )
            percik_out = kept_t.unionByName(percik_dirty)
        else:
            percik_out = percik_dirty
    else:
        percik_out = None

    if metrics["n_dirty"]:
        # the bounded global families come from the ONE shared
        # definition build_triples uses (emit/triples.py) — the
        # SectorAll/dim rules cannot diverge between the batch builder
        # and this patcher
        global_out = (
            global_family_triples(
                observations, companies, benchmarks, rankings,
                include_industry_scope, include_sector_scope,
            )
            .withColumn("family", F.lit("global"))
            .withColumn("cik_bucket", F.lit(-1).cast("int"))
        )
        to_write = (
            global_out if percik_out is None
            else percik_out.unionByName(global_out)
        )
        # one atomic snapshot commit replaces the global family plus
        # exactly the dirty percik buckets; every clean bucket's files
        # carry over by reference (untouched on disk), and the
        # pre-patch table stays readable by snapshot id
        metrics["triples_snapshot_id"] = snapshots.commit_patch(
            spark, tri_dir, to_write,
            partition_cols=("family", "cik_bucket"),
            replaced=lambda pv: (
                pv.get("family") == "global"
                or (pv.get("family") == "percik"
                    and pv.get("cik_bucket") in dirty_bucket_set)
            ),
        )
        if expire_keep is not None:
            # rolling-crawl storage bound: a maintenance loop that
            # snapshots every micro-batch would otherwise retain every
            # superseded bucket file forever
            metrics["triples_expire"] = snapshots.expire_snapshots(
                tri_dir, keep_last=expire_keep
            )
        _tick("triples_patch")
        # -- 7. commit the manifest: patch only candidate buckets ----
        m_out = m_cand.withColumn(
            "cik_bucket", cik_bucket_col(F.col("cik"), n_cik_buckets)
        )
        if _exists(man_dir):
            m_keep = (
                spark.read.parquet(str(man_dir))
                .where(F.col("cik_bucket").isin(cand_buckets))
                .join(candidates, "cik", "left_anti")
                .select(*m_out.columns)
            )
            m_out = m_keep.unionByName(m_out)
        with _DynamicOverwrite(spark):
            m_out.write.mode("overwrite").partitionBy("cik_bucket") \
                .parquet(str(man_dir))
        _tick("manifest_commit")
    # n_dirty == 0: every store (triples, manifest) is already current
    # — a clean re-run rewrites NOTHING (asserted via file mtimes in
    # tests/test_incremental.py)
    triples = snapshots.read_snapshot(spark, tri_dir) \
        .drop("family", "cik_bucket")
    # parquet count() answers from footer metadata — no data scan
    metrics["n_companies"] = (
        spark.read.parquet(str(man_dir)).count()
        if _exists(man_dir) else metrics["n_candidates"]
    )

    return {
        "observations": observations,
        "benchmarks": benchmarks,
        "rankings": rankings,
        "companies": companies,
        "facts": facts,
        "triples": triples,
        "metrics": metrics,
    }
