"""The two workloads, driven through the package's public functions.

Each workload is a single-client closed loop: one operation in flight,
the next starts when the previous one has returned. An operation that
raises or whose output check fails counts as failed.

kg_build    one operation = a build from a parquet pages table to a
            committed predicate-partitioned triple table plus
            instances.ttl, in the call order of scripts/run_kg.py.
late_patch  one operation = one late filing page appended to the pages
            table, then plans.incremental.run_incremental patching the
            store built cold during set-up.

With tracing on, ``build_graph`` replays the body of
plans.pipeline.run_pipeline (and of pages_to_inputs) call by call so
each call sits in its own span; untraced it calls run_pipeline itself.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from edgar_finance_ontology_spark.emit.triples import build_triples
from edgar_finance_ontology_spark.emit.turtle_writer import (
    concat_turtle_parts_to_file, write_turtle_document,
)
from edgar_finance_ontology_spark.operators.benchmarks import (
    compute_benchmarks,
)
from edgar_finance_ontology_spark.operators.observations import (
    build_observations,
)
from edgar_finance_ontology_spark.operators.rankings import compute_rankings
from edgar_finance_ontology_spark.plans.incremental import run_incremental
from edgar_finance_ontology_spark.plans.pipeline import run_pipeline
from edgar_finance_ontology_spark.plans.web_pipeline import (
    assemble_facts, extracted_text_stage, pages_to_inputs,
    parse_company_profiles, parse_fact_records,
)

from . import inputs
from .inputs import FY

KG_COMPANIES = 12
PATCH_COMPANIES = 12
# late pages go to these panel positions (the seed picks the order);
# expected.json pins the patched graph for each of them
LATE_CANDIDATES = 8

EXPECTED_PATH = os.path.join(os.path.dirname(__file__), "expected.json")


def load_expected() -> dict:
    with open(EXPECTED_PATH, encoding="utf-8") as f:
        return json.load(f)


# -- output digests ------------------------------------------------------

def triples_digest(df) -> dict:
    """Order-independent digest of a triple table: row count plus the
    exact sum of per-row xxhash64 values."""
    cols = sorted(c for c in df.columns if c not in ("family", "cik_bucket"))
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h"),
    ).first()
    return {"n": int(row["n"]), "xxhash64_sum": str(row["h"])}


def file_sha256(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# -- the build -----------------------------------------------------------

def _traced_pipeline(tracer, pages) -> tuple[dict, object, dict]:
    """pages_to_inputs + run_pipeline, one span per call."""
    with tracer.span("frontend.plan"):
        p = extracted_text_stage(pages)
        records = parse_fact_records(p)
        facts = assemble_facts(records)
        companies = parse_company_profiles(p)
    with tracer.span("frontend.exec"):
        facts_c = facts.localCheckpoint(eager=True)
        companies_c = companies.localCheckpoint(eager=True)
    with tracer.span("observations.plan"):
        obs = build_observations(facts_c, companies_c, FY, 90, "USD", True)
    with tracer.span("observations.exec"):
        obs = obs.localCheckpoint(eager=True)
    with tracer.span("aggregates.exec"):
        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(lambda: compute_benchmarks(
                obs, FY).localCheckpoint(eager=True))
            fr = pool.submit(lambda: compute_rankings(
                obs, FY).localCheckpoint(eager=True))
            bench, rank = fb.result(), fr.result()
    t = {"observations": obs, "benchmarks": bench, "rankings": rank}
    return t, companies, {"records": records, "facts": facts_c}


def build_graph(spark, tracer, pages_path: str, out: str) -> dict:
    """One kg_build operation; returns the frames the traced counts need."""
    pages = spark.read.parquet(pages_path)
    if tracer.enabled:
        t, companies, parts = _traced_pipeline(tracer, pages)
    else:
        facts, companies = pages_to_inputs(pages)
        t = run_pipeline(facts, companies, fy=FY)
        parts = {}
    with tracer.span("triples.plan"):
        trip = build_triples(t["observations"], companies, t["benchmarks"],
                             t["rankings"], fy=FY)
    with tracer.span("store.write"):
        trip.repartitionByRange(F.col("pred"), F.col("subj")).write.mode(
            "overwrite").partitionBy("pred").parquet(f"{out}/triples")
        spark.read.parquet(f"{out}/triples").count()
    with tracer.span("turtle.write"):
        shutil.rmtree(f"{out}/ttl_parts", ignore_errors=True)
        write_turtle_document(f"{out}/ttl_parts", companies,
                              t["observations"], t["benchmarks"],
                              t["rankings"], fy=FY)
        concat_turtle_parts_to_file(f"{out}/ttl_parts",
                                    f"{out}/instances.ttl")
    return {**t, **parts}


def check_graph(spark, out: str, want: dict) -> bool:
    got = triples_digest(spark.read.parquet(f"{out}/triples"))
    return (got == want["triples"]
            and file_sha256(f"{out}/instances.ttl") == want["ttl_sha256"])


def _parquet_stats(path: str) -> tuple[int, float]:
    """Number of parquet files under ``path`` and their size in MiB."""
    files, size = 0, 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, name))
    return files, size / 2**20


# -- the loop ------------------------------------------------------------

class Result:
    """Per-run tallies; ``ops`` holds the wall time of each timed
    operation that returned, whether or not its output check passed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.ops: list[float] = []
        self.layers: dict = {}
        # extra figures for the stderr detail block
        self.detail: dict = {}
        # layer -> first span of the operation its shuffle bytes are for
        self.shuffle_layers: dict[str, int] = {}

    def run(self, op, check):
        """Time ``op()``; ``check(value)`` runs outside the timed window."""
        self.attempted += 1
        try:
            t0 = time.monotonic()
            value = op()
            self.ops.append(time.monotonic() - t0)
            ok = check(value)
        except Exception as exc:  # a failed operation is a measured outcome
            print(f"# operation failed: {exc!r}", flush=True)
            self.failed += 1
            return None
        if not ok:
            print("# output check failed", flush=True)
            self.failed += 1
            return None
        return value

    def check(self, ok: bool, what: str) -> None:
        """An output check made after the loop, counted as an operation."""
        self.attempted += 1
        if not ok:
            print(f"# output check failed: {what}", flush=True)
            self.failed += 1


def _loop(seconds: float, step) -> None:
    """Closed loop: operations back to back for ``seconds``, at least one."""
    start = time.monotonic()
    step()
    while time.monotonic() - start < seconds:
        step()


# -- kg_build ------------------------------------------------------------

def kg_build(spark, tracer, work: str, seed: int, seconds: float,
             setup: dict) -> Result:
    expected = load_expected()["kg_build"][str(KG_COMPANIES)]
    res = Result()
    t0 = time.monotonic()
    rows = inputs.page_rows(KG_COMPANIES, seed)
    pages_path, out = f"{work}/pages", f"{work}/kg"
    inputs.write_pages(rows, pages_path)
    setup["inputs_s"] = time.monotonic() - t0
    last = {}

    def step():
        since = len(tracer.spans) if tracer.enabled else 0
        t = res.run(lambda: build_graph(spark, tracer, pages_path, out),
                    lambda _t: check_graph(spark, out, expected))
        if t is not None:
            last.update(t, since=since)

    _loop(seconds, step)
    if tracer.enabled and last:
        _kg_layers(tracer, res, last, out)
        res.layers["trace.overhead_s"] = tracer.overhead_s(last["since"])
        # the incremental layer's cold path, over the same pages, must
        # commit the same triple table as the batch build
        since = len(tracer.spans)
        with tracer.span("incremental"):
            t = run_incremental(spark, spark.read.parquet(pages_path), FY,
                                f"{work}/store")
        res.check(triples_digest(t["triples"]) == expected["triples"],
                  "cold incremental build differs from the batch build")
        _incremental_layers(tracer, res, since, [t["metrics"]])
    return res


def _kg_layers(tracer, res: Result, t: dict, out: str) -> None:
    """Per-layer metrics of the traced build whose first span is
    ``t["since"]``; the row counts run after it, outside every span."""
    since = t["since"]
    res.shuffle_layers.update(frontend=since, observations=since)
    wall = {s["name"]: s["end"] - s["start"] for s in tracer.spans[since:]}
    fe, ob, ag, tr, st, tu = (
        tracer.layer(name, since) for name in (
            "frontend", "observations", "aggregates", "triples", "store",
            "turtle"))
    records, facts = t["records"].count(), t["facts"].count()
    files, mb = _parquet_stats(f"{out}/triples")
    res.layers.update({
        "frontend.plan_s": wall["frontend.plan"],
        "frontend.exec_s": wall["frontend.exec"],
        "frontend.jobs": fe["jobs"], "frontend.stages": fe["stages"],
        "frontend.tasks": fe["tasks"],
        "frontend.failed_tasks": fe["failed_tasks"],
        "frontend.records_out": records,
        "frontend.dedup_ratio": facts / records,
        "observations.plan_s": wall["observations.plan"],
        "observations.exec_s": wall["observations.exec"],
        "observations.jobs": ob["jobs"], "observations.stages": ob["stages"],
        "observations.tasks": ob["tasks"],
        "aggregates.exec_s": ag["wall_s"], "aggregates.jobs": ag["jobs"],
        "aggregates.stages": ag["stages"],
        "triples.plan_s": tr["wall_s"], "triples.jobs": tr["jobs"],
        "triples.stages": tr["stages"],
        "store.write_s": st["wall_s"], "store.jobs": st["jobs"],
        "store.files": files, "store.bytes_mb": mb,
        "turtle.write_s": tu["wall_s"], "turtle.jobs": tu["jobs"],
    })


INCREMENTAL_STAGES = ("extract", "stores_and_companies", "manifest_diff",
                      "obs_patch", "obs_readback", "triples_patch",
                      "manifest_commit")


def _incremental_layers(tracer, res: Result, since: int,
                        runs: list[dict]) -> None:
    """run_incremental's own per-stage clocks (median over ``runs``, its
    returned metrics) plus the jobs of the spans from ``since`` on."""
    inc = tracer.layer("incremental", since)
    for name in INCREMENTAL_STAGES:
        res.layers[f"incremental.{name}_s"] = statistics.median(
            m["stage_sec"].get(name, 0.0) for m in runs)
    res.layers.update({
        "incremental.jobs": inc["jobs"], "incremental.stages": inc["stages"],
        "incremental.obs_rows_recomputed": runs[-1].get(
            "obs_rows_recomputed", 0),
    })


# -- late_patch ----------------------------------------------------------

def late_patch(spark, tracer, work: str, seed: int, seconds: float,
               setup: dict) -> Result:
    expected = load_expected()["late_patch"][str(PATCH_COMPANIES)]
    res = Result()
    t0 = time.monotonic()
    rows = inputs.page_rows(PATCH_COMPANIES, seed)
    pages_path, store = f"{work}/pages", f"{work}/store"
    inputs.write_pages(rows, pages_path)
    setup["inputs_s"] = time.monotonic() - t0
    t0 = time.monotonic()
    cold = run_incremental(spark, spark.read.parquet(pages_path), FY, store)
    setup["cold_store_s"] = time.monotonic() - t0
    revenue = {
        r["cik"]: r for r in cold["observations"].where(
            (F.col("metric") == "Revenue") & ~F.col("is_derived")).collect()
    }
    ciks = sorted(revenue)[:LATE_CANDIDATES]
    random.Random(seed).shuffle(ciks)
    patched: list[str] = []
    runs: list[dict] = []
    final = {}
    since = len(tracer.spans) if tracer.enabled else 0

    def step():
        r = len(patched)
        cik = ciks[r % len(ciks)]
        inputs.write_pages([inputs.late_page(revenue[cik], r)], pages_path,
                           prefix=f"late-{r}", n_files=1)
        patched.append(cik)

        def op():
            with tracer.span("incremental"):
                return run_incremental(
                    spark, spark.read.parquet(pages_path), FY, store)

        t = res.run(op, lambda t: t["metrics"]["n_dirty"] == 1)
        if t is not None:
            runs.append(t["metrics"])
            final.update(t)

    _loop(seconds, step)
    res.detail["stage_sec"] = [m["stage_sec"] for m in runs]
    if not final:
        return res
    if tracer.enabled:
        _incremental_layers(tracer, res, since, runs)
        res.layers["trace.overhead_s"] = tracer.overhead_s(since)
    # the patched store must equal a from-scratch build of the same
    # pages: pinned when one company was patched, rebuilt otherwise
    got = triples_digest(final["triples"])
    if len(patched) == 1 and not tracer.enabled:
        res.check(got == expected[patched[0]],
                  "patched store differs from the pinned from-scratch graph")
        return res
    since = len(tracer.spans)
    scratch = build_graph(spark, tracer, pages_path, f"{work}/scratch")
    want = triples_digest(spark.read.parquet(f"{work}/scratch/triples"))
    res.check(got == want, "patched store differs from a from-scratch build")
    if len(patched) == 1:
        res.check(want == expected[patched[0]],
                  "from-scratch build differs from the pinned graph")
    if tracer.enabled:
        _kg_layers(tracer, res, {**scratch, "since": since},
                   f"{work}/scratch")
    return res


WORKLOADS = {"kg_build": kg_build, "late_patch": late_patch}
