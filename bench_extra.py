#!/usr/bin/env python3
"""Round-6 optimization harness (bench.py is FROZEN for measurement —
this file carries the extra instrumentation the optimization round
needs; its numbers are cited in OPTIMIZATION_r06.md).

Modes (first CLI arg):
  queries [names...]  — time each named query (default: all registry
                        entries) with the noop sink, best-of-2, and
                        write plans/r06/<name>_{before|after}.txt
                        explain("formatted") snapshots (phase from
                        $EFIN_PLAN_PHASE, "before" or "after"; required,
                        so a rerun cannot overwrite the other phase).
  kg                  — stage-clocked KG pipeline run (the bench.py
                        part 2 shape) with job descriptions.
  oracle [names...]   — Spark-vs-DuckDB comparison for the named
                        queries (result parity guard while optimizing).
  obsplan [seed]      — three same-session build_observations rounds on
                        the 12-company perfbench panel (default seed 1):
                        construct / optimize / execute seconds, codegen
                        compiles, emission expression chars and output
                        digests per round.
  pytasks [seed]      — one session shaped like perfbench's, with a local
                        event log: a cold and a warm kg build, then a
                        cold store and one late-page patch, on the
                        12-company perfbench panel (default seed 1).
                        One JSON line per call: tasks in Python stages
                        (ArrowEvalPython / MapInPandas / BatchEvalPython
                        scopes), how many took >= 60 ms and their slot
                        seconds, and the call's job count.
  codegen [seed]      — one session shaped like perfbench's: a kg build,
                        a cold store and two late-page patches on the
                        12-company perfbench panel (default seed 1). One
                        JSON line per call: generated classes compiled,
                        their compile milliseconds, and the call's wall
                        seconds (a call that reuses the session's
                        compiled classes compiles none).
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
PLAN_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "plans", "r06")


def _session(app: str):
    from edgar_finance_ontology_spark.session import build_session

    return build_session(
        app, master=f"local[{CPUS}]", shuffle_partitions=max(8, CPUS),
        extra_conf={
            "spark.driver.memory": os.environ.get("EFIN_DRIVER_MEM", "24g")
        },
    )


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _warmup(spark):
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _spin(v):
        return v * 1.0

    spark.range(1_000_000).select(
        F.sum(_spin(F.col("id").cast("double")))).collect()
    for t in ("lineitem", "documents", "embeddings", "events", "orders"):
        spark.read.parquet(os.path.join(SF_DIR, f"{t}.parquet")).count()


def _plan_phase() -> str:
    phase = os.environ.get("EFIN_PLAN_PHASE")
    if phase not in ("before", "after"):
        raise SystemExit("set EFIN_PLAN_PHASE=before or after: it names the "
                         "plans/r06/*_<phase>.txt snapshots this mode writes")
    return phase


def run_queries(names):
    import json

    from edgar_finance_ontology_spark.queries import QUERIES

    phase = _plan_phase()
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = _session("efin-bench-extra")
    _warmup(spark)
    out = {}
    for name in names:
        fn, _sql = QUERIES[name]
        spark.sparkContext.setJobDescription(f"q:{name}")
        best = float("inf")
        for _rep in range(2):
            t0 = time.monotonic()
            _noop(fn(spark, SF_DIR))
            best = min(best, time.monotonic() - t0)
        out[name] = round(best, 3)
        if os.environ.get("EFIN_PLANS", "1") != "0":
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, SF_DIR).explain("formatted")
            with open(os.path.join(PLAN_DIR, f"{name}_{phase}.txt"),
                      "w") as f:
                f.write(buf.getvalue())
        print(f"{out[name]:8.3f}  {name}", flush=True)
    print(json.dumps({"phase": phase, "noop_sec": out,
                      "total": round(sum(out.values()), 3)}))
    spark.stop()


def run_plans(names):
    """explain("formatted") snapshots only — no timed execution (model
    fits still run at fn() build time). Cheap enough to run for the
    whole registry on both the round-start worktree (phase=before) and
    the final tree (phase=after)."""
    import contextlib
    import io

    from edgar_finance_ontology_spark.queries import QUERIES

    phase = _plan_phase()
    os.makedirs(PLAN_DIR, exist_ok=True)
    spark = _session("efin-plan-snap")
    for name in names:
        fn, _sql = QUERIES[name]
        spark.sparkContext.setJobDescription(f"plan:{name}")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            fn(spark, SF_DIR).explain("formatted")
        with open(os.path.join(PLAN_DIR, f"{name}_{phase}.txt"), "w") as f:
            f.write(buf.getvalue())
        print(f"plan {phase}: {name}", flush=True)
    spark.stop()


def run_count(names):
    """bench.py-faithful timing: .count() drain, best-of-2."""
    import json

    from edgar_finance_ontology_spark.queries import QUERIES

    spark = _session("efin-bench-extra-count")
    _warmup(spark)
    out = {}
    for name in names:
        fn, _sql = QUERIES[name]
        spark.sparkContext.setJobDescription(f"q:{name}")
        best = float("inf")
        for _rep in range(2):
            t0 = time.monotonic()
            fn(spark, SF_DIR).count()
            best = min(best, time.monotonic() - t0)
        out[name] = round(best, 3)
        print(f"{out[name]:8.3f}  {name}", flush=True)
    print(json.dumps({"count_sec": out,
                      "total": round(sum(out.values()), 3)}))
    spark.stop()


def run_kg():
    from edgar_finance_ontology_spark.emit.triples import build_triples
    from edgar_finance_ontology_spark.plans.pipeline import run_pipeline
    from edgar_finance_ontology_spark.plans.web_pipeline import (
        pages_to_inputs,
    )
    from edgar_finance_ontology_spark.sources.pages import synthesize_pages

    spark = _session("efin-bench-extra-kg")
    _warmup(spark)
    n_companies = int(os.environ.get("EFIN_BENCH_COMPANIES", "240"))
    sc = spark.sparkContext
    t0 = time.monotonic()
    sc.setJobDescription("kg: synthesize+inputs")
    pages = synthesize_pages(spark, skew_copies=8, n_buckets=32,
                             n_companies=n_companies)
    facts, companies = pages_to_inputs(pages)
    t1 = time.monotonic()
    sc.setJobDescription("kg: run_pipeline")
    t = run_pipeline(facts, companies, fy=2024)
    t2 = time.monotonic()
    sc.setJobDescription("kg: triples")
    trip = build_triples(t["observations"], companies, t["benchmarks"],
                         t["rankings"], fy=2024)
    n = trip.count()
    t3 = time.monotonic()
    print({"inputs_sec": round(t1 - t0, 3),
           "pipeline_sec": round(t2 - t1, 3),
           "triples_sec": round(t3 - t2, 3),
           "wall": round(t3 - t0, 3),
           "n_triples": n,
           "tps": round(n / (t3 - t0), 1)}, flush=True)
    spark.stop()


def run_kg_deep():
    """run_pipeline + build_triples with per-stage wall clocks (finer
    than bench.py's three buckets)."""
    from pyspark.sql import functions as F  # noqa: F401

    from edgar_finance_ontology_spark.emit.triples import build_triples
    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )
    from edgar_finance_ontology_spark.operators.rankings import (
        compute_rankings,
    )
    from edgar_finance_ontology_spark.plans.web_pipeline import (
        pages_to_inputs,
    )
    from edgar_finance_ontology_spark.sources.pages import synthesize_pages

    spark = _session("efin-kg-deep")
    _warmup(spark)
    n_companies = int(os.environ.get("EFIN_BENCH_COMPANIES", "240"))
    sc = spark.sparkContext
    clocks = {}

    def clock(name):
        import contextlib

        @contextlib.contextmanager
        def cm():
            sc.setJobDescription(f"kgdeep:{name}")
            t0 = time.monotonic()
            yield
            clocks[name] = round(time.monotonic() - t0, 3)
            print(f"{clocks[name]:8.3f}  {name}", flush=True)
        return cm()

    with clock("synthesize+inputs(lazy)"):
        pages = synthesize_pages(spark, skew_copies=8, n_buckets=32,
                                 n_companies=n_companies)
        facts, companies = pages_to_inputs(pages)
    if os.environ.get("EFIN_KGDEEP_MANUAL") == "1":
        with clock("facts.localCheckpoint"):
            facts = facts.localCheckpoint(eager=True)
        with clock("companies.localCheckpoint"):
            companies = companies.localCheckpoint(eager=True)
        with clock("build_observations(plan)"):
            obs = build_observations(facts, companies, 2024, 90, "USD",
                                     True)
        with clock("obs.localCheckpoint"):
            obs = obs.localCheckpoint(eager=True)
        with clock("compute_benchmarks(eager parts)"):
            benchmarks = compute_benchmarks(obs, 2024).cache()
        with clock("benchmarks.count"):
            benchmarks.count()
        with clock("compute_rankings(plan)"):
            rankings = compute_rankings(obs, 2024).cache()
        with clock("rankings.count"):
            rankings.count()
    else:
        from edgar_finance_ontology_spark.plans.pipeline import (
            run_pipeline,
        )

        with clock("run_pipeline"):
            t = run_pipeline(facts, companies, fy=2024)
        obs, benchmarks, rankings = (
            t["observations"], t["benchmarks"], t["rankings"])
        companies = t["companies"]
    with clock("build_triples(plan)"):
        trip = build_triples(obs, companies, benchmarks, rankings, fy=2024)
    with clock("triples.count"):
        n = trip.count()
    print({"clocks": clocks, "n_triples": n,
           "total": round(sum(clocks.values()), 3)}, flush=True)
    spark.stop()


def run_cq():
    """bench.py-faithful CQ catalog timing: synthesize panel ->
    run_pipeline -> register_cq_catalog(materialize=True) -> count every
    view, with per-view clocks."""
    from edgar_finance_ontology_spark.plans.cq_catalog import (
        CQ_CATALOG, register_cq_catalog,
    )
    from edgar_finance_ontology_spark.plans.pipeline import run_pipeline
    from edgar_finance_ontology_spark.plans.web_pipeline import (
        pages_to_inputs,
    )
    from edgar_finance_ontology_spark.sources.pages import synthesize_pages

    spark = _session("efin-cq-extra")
    _warmup(spark)
    n_companies = int(os.environ.get("EFIN_BENCH_COMPANIES", "240"))
    pages = synthesize_pages(spark, skew_copies=8, n_buckets=32,
                             n_companies=n_companies)
    facts, companies = pages_to_inputs(pages)
    t = run_pipeline(facts, companies, fy=2024)
    t0 = time.monotonic()
    register_cq_catalog(
        spark, t["observations"], t["companies"], t["benchmarks"],
        t["rankings"], materialize=True,
    )
    reg = time.monotonic() - t0
    t1 = time.monotonic()
    per = {}
    for name in CQ_CATALOG:
        spark.sparkContext.setJobDescription(f"cq:{name}")
        v0 = time.monotonic()
        spark.sql(CQ_CATALOG[name]).count()
        per[name] = round(time.monotonic() - v0, 3)
    wall = time.monotonic() - t1
    slowest = {n: per[n] for n in
               sorted(per, key=per.get, reverse=True)[:8]}
    print({"register_sec": round(reg, 3), "cq_wall_sec": round(wall, 3),
           "median": statistics.median(per.values()),
           "slowest": slowest}, flush=True)
    spark.stop()


def run_oracle(names):
    """Spark result vs DuckDB oracle for each named query (hash of the
    sorted rows, the CORRECTNESS_r* comparison shape)."""
    import duckdb

    from edgar_finance_ontology_spark.queries import QUERIES

    spark = _session("efin-oracle-extra")
    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "part", "supplier",
              "nation", "region", "documents", "embeddings", "events"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(SF_DIR, t)}.parquet')"
        )
    ok = True
    for name in names:
        fn, sql = QUERIES[name]
        sql = sql() if callable(sql) else sql
        sdf = fn(spark, SF_DIR).toPandas()
        odf = con.execute(sql).fetchdf()
        srows = sorted(map(tuple, sdf.astype(str).values.tolist()))
        orows = sorted(map(tuple, odf.astype(str).values.tolist()))
        match = srows == orows
        ok = ok and match
        print(f"{'OK ' if match else 'FAIL'} {name} "
              f"spark={len(srows)} oracle={len(orows)}", flush=True)
        if not match:
            for a, b in list(zip(srows, orows))[:5]:
                if a != b:
                    print("  spark:", a)
                    print("  oracle:", b)
    spark.stop()
    sys.exit(0 if ok else 1)


def run_obsplan(seed: int = 1):
    """Where build_observations spends its time, round by round, in one
    session shaped like perfbench's (local[half the cores])."""
    import hashlib
    import json
    import tempfile

    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.operators.observations import (
        _emission_entries, build_observations,
    )
    from edgar_finance_ontology_spark.plans.web_pipeline import (
        pages_to_inputs,
    )
    from edgar_finance_ontology_spark.session import build_session
    from perfbench.inputs import FY, page_rows, write_pages

    cpus = max(1, (os.cpu_count() or 1) // 2)
    spark = build_session("efin-obsplan", master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    with tempfile.TemporaryDirectory() as work:
        write_pages(page_rows(12, seed), f"{work}/pages")
        facts, companies = pages_to_inputs(spark.read.parquet(f"{work}/pages"))
        facts = facts.localCheckpoint(eager=True)
        companies = companies.localCheckpoint(eager=True)
        for rnd in range(1, 4):
            compiles0 = codegen.METRIC_COMPILATION_TIME().getCount()
            t0 = time.monotonic()
            obs = build_observations(facts, companies, FY, 90, "USD", True)
            t1 = time.monotonic()
            qe = obs._jdf.queryExecution()
            qe.optimizedPlan()
            qe.executedPlan()
            t2 = time.monotonic()
            obs = obs.localCheckpoint(eager=True)
            t3 = time.monotonic()
            compiles = codegen.METRIC_COMPILATION_TIME().getCount() - compiles0
            chars = sum(len(c._jc.toString())
                        for c in _emission_entries(("all",), True, False))
            h = obs.agg(F.count(F.lit(1)), F.sum(
                F.xxhash64(*obs.columns).cast("decimal(38,0)"))).first()
            sha = hashlib.sha256(
                repr([tuple(r) for r in obs.collect()]).encode()).hexdigest()
            print(json.dumps({
                "round": rnd, "construct_s": round(t1 - t0, 3),
                "optimize_s": round(t2 - t1, 3),
                "execute_s": round(t3 - t2, 3),
                "codegen_compiles": compiles, "emission_chars": chars,
                "rows": h[0], "xxhash64_sum": str(h[1]), "sha256": sha,
            }), flush=True)
    spark.stop()


# RDD scope names of the physical operators that run Python workers
PYTHON_SCOPES = ("ArrowEvalPython", "MapInPandas", "BatchEvalPython")
SLOW_TASK_MS = 60


def _python_task_counts(event_log: str, windows: dict) -> dict:
    """Per named [start, end] epoch-ms window: the jobs submitted in it,
    and the tasks of their stages that ran a Python scope."""
    import glob
    import json

    job_stages, py_stages, tasks = {}, set(), []
    for path in sorted(glob.glob(os.path.join(event_log, "**", "*"),
                                 recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_stages[ev["Job ID"]] = (ev["Submission Time"],
                                                ev["Stage IDs"])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    scopes = " ".join(r.get("Scope", "")
                                      for r in info["RDD Info"])
                    if any(f'"{n}"' in scopes for n in PYTHON_SCOPES):
                        py_stages.add(info["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    tasks.append((ev["Stage ID"],
                                  ti["Finish Time"] - ti["Launch Time"]))
    out = {}
    for name, (t0, t1) in windows.items():
        jobs = [j for j, (ts, _) in job_stages.items() if t0 <= ts <= t1]
        stages = {s for j in jobs for s in job_stages[j][1]} & py_stages
        ms = [d for sid, d in tasks if sid in stages]
        slow = [d for d in ms if d >= SLOW_TASK_MS]
        out[name] = {"python_tasks": len(ms), "slow_tasks": len(slow),
                     "slow_slot_s": round(sum(slow) / 1000, 3),
                     "jobs": len(jobs)}
    return out


def run_pytasks(seed: int = 1):
    """Where the Python task launches of a build and a patch go."""
    import json
    import tempfile

    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.plans.incremental import (
        run_incremental,
    )
    from perfbench import inputs
    from perfbench.run import close_session, import_package, open_session
    from perfbench.trace import Tracer
    from perfbench.workloads import build_graph

    import_package()
    with tempfile.TemporaryDirectory() as work:
        event_log = os.path.join(work, "events")
        os.makedirs(event_log)
        pages_path = f"{work}/pages"
        inputs.write_pages(inputs.page_rows(12, seed), pages_path)
        windows = {}

        def call(name, fn):
            t0 = time.time() * 1000
            value = fn()
            windows[name] = (t0, time.time() * 1000)
            return value

        # the event log is complete only once the session has stopped
        spark = open_session(work, event_log)
        try:
            tracer = Tracer(spark, enabled=False)
            for name in ("build_cold", "build_warm"):
                call(name, lambda: build_graph(spark, tracer, pages_path,
                                               f"{work}/kg"))
            cold = call("store_cold", lambda: run_incremental(
                spark, spark.read.parquet(pages_path), inputs.FY,
                f"{work}/store"))
            revenue = min(
                cold["observations"].where(
                    (F.col("metric") == "Revenue") & ~F.col("is_derived"))
                .collect(), key=lambda r: r["cik"])
            inputs.write_pages([inputs.late_page(revenue, 0)], pages_path,
                               prefix="late-0", n_files=1)
            patch = call("patch", lambda: run_incremental(
                spark, spark.read.parquet(pages_path), inputs.FY,
                f"{work}/store"))
        finally:
            close_session(spark)
        if patch["metrics"]["n_dirty"] != 1:
            raise SystemExit(f"late page patched {patch['metrics']}")
        for name, counts in _python_task_counts(event_log, windows).items():
            print(json.dumps({"call": name, "seed": seed, **counts}),
                  flush=True)


def run_codegen(seed: int = 1):
    """How many generated classes each call of a build and of later
    patches compiles, in one session."""
    import json
    import tempfile

    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.plans.incremental import (
        run_incremental,
    )
    from perfbench import inputs
    from perfbench.run import close_session, import_package, open_session
    from perfbench.trace import Tracer
    from perfbench.workloads import build_graph

    import_package()
    with tempfile.TemporaryDirectory() as work:
        pages_path, store = f"{work}/pages", f"{work}/store"
        inputs.write_pages(inputs.page_rows(12, seed), pages_path)
        spark = open_session(work)
        jvm = spark._jvm
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
        generator = jvm.org.apache.spark.sql.catalyst.expressions.codegen \
            .CodeGenerator

        def call(name, fn):
            n0 = metrics.METRIC_COMPILATION_TIME().getCount()
            ns0 = generator.compileTime()
            t0 = time.monotonic()
            value = fn()
            print(json.dumps({
                "call": name, "seed": seed,
                "compiles": metrics.METRIC_COMPILATION_TIME().getCount() - n0,
                "compile_ms": round((generator.compileTime() - ns0) / 1e6),
                "wall_s": round(time.monotonic() - t0, 3),
            }), flush=True)
            return value

        def patch(round_no, row):
            inputs.write_pages([inputs.late_page(row, round_no)], pages_path,
                               prefix=f"late-{round_no}", n_files=1)
            t = run_incremental(spark, spark.read.parquet(pages_path),
                                inputs.FY, store)
            if t["metrics"]["n_dirty"] != 1:
                raise SystemExit(f"late page patched {t['metrics']}")
            return t

        try:
            call("build_cold", lambda: build_graph(
                spark, Tracer(spark, enabled=False), pages_path,
                f"{work}/kg"))
            cold = call("store_cold", lambda: run_incremental(
                spark, spark.read.parquet(pages_path), inputs.FY, store))
            revenue = sorted(
                cold["observations"].where(
                    (F.col("metric") == "Revenue") & ~F.col("is_derived"))
                .collect(), key=lambda r: r["cik"])
            call("patch", lambda: patch(0, revenue[0]))
            call("patch2", lambda: patch(1, revenue[1]))
        finally:
            close_session(spark)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "queries"
    args = sys.argv[2:]
    if mode == "plans":
        from edgar_finance_ontology_spark.queries import QUERIES

        run_plans(args or sorted(QUERIES))
    elif mode == "count":
        from edgar_finance_ontology_spark.queries import QUERIES

        run_count(args or sorted(QUERIES))
    elif mode == "queries":
        from edgar_finance_ontology_spark.queries import QUERIES

        run_queries(args or sorted(QUERIES))
    elif mode == "kg":
        run_kg()
    elif mode == "cq":
        run_cq()
    elif mode == "kgdeep":
        run_kg_deep()
    elif mode == "obsplan":
        run_obsplan(int(args[0]) if args else 1)
    elif mode == "pytasks":
        run_pytasks(int(args[0]) if args else 1)
    elif mode == "codegen":
        run_codegen(int(args[0]) if args else 1)
    elif mode == "oracle":
        from edgar_finance_ontology_spark.queries import QUERIES

        run_oracle(args or sorted(QUERIES))
    else:
        raise SystemExit(f"unknown mode {mode}")
