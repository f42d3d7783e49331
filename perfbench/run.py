#!/usr/bin/env python3
"""Benchmark of the knowledge-graph engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 \
        --trace 0

Run from the repository root. Builds a seeded pages table, sets up the
workload, runs its closed loop for --seconds (at least one operation),
checks every output, and prints one JSON object as the last line of
stdout. With --trace 0 the metrics are the end-to-end ones; with
--trace 1 they are the per-layer ones, and the spans of the run are
written to .perfbench/spans-<workload>-<seed>.json. Workloads, metrics
and the layer each metric belongs to are described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "edgar_finance_ontology_spark"


def _session_conf(work: str, event_log: str | None) -> dict:
    # driver heap from physical memory: a quarter of RAM, capped at 8g,
    # so several benchmarks or test runs can share the machine
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_mb = max(1024, min(8192, ram // 4 // 2**20))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": tmp,
        # no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
        })
    return conf


def open_session(work: str, event_log: str | None = None):
    """local[half the cores] with one shuffle partition per task slot.

    The driver thread, the JIT compiler, the garbage collector and the
    Python workers need cores of their own: with a task slot on every
    core the runs measure the scheduler (on 4 cores the quartile spread
    of a build over five seeds was 26% of its median at local[4], 9% at
    local[2], with the same median)."""
    from edgar_finance_ontology_spark.session import build_session

    cpus = max(1, (os.cpu_count() or 1) // 2)
    spark = build_session(
        "perfbench", master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf=_session_conf(work, event_log),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def close_session(spark) -> None:
    """Stop Spark and wait for the driver JVM process to exit."""
    gateway = spark.sparkContext._gateway
    jvm = gateway.proc
    spark.stop()
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()
        jvm.wait(timeout=60)


def import_package() -> bool:
    """Make the checkout's package importable here and in the Python
    workers Spark starts, from whatever directory they run in."""
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: {PACKAGE}/ not found next to perfbench/; run "
              "from a checkout of the repository", file=sys.stderr)
        return False
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    return True


def _rss_mb(spark) -> float:
    """Peak resident memory of the driver JVM plus this process."""
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    own_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + own_kb) / 1024


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not import_package():
        return 2

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    event_log = os.path.join(work, "events") if args.trace else None
    if event_log:
        os.makedirs(event_log)
    # Python temp files of this process and its workers stay in the run
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        t0 = time.monotonic()
        spark = open_session(work, event_log)
        setup = {"session_s": time.monotonic() - t0}
        tracer = Tracer(spark, enabled=bool(args.trace))
        res = WORKLOADS[args.workload](
            spark, tracer, work, args.seed, args.seconds, setup)
        peak_rss = _rss_mb(spark)
        close_session(spark)
        spark = None
        if args.trace:
            tracer.add_shuffle_bytes(event_log)
            for name, since in res.shuffle_layers.items():
                res.layers[f"{name}.shuffle_write_mb"] = tracer.layer(
                    name, since)["shuffle_write_mb"]
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
    finally:
        if spark is not None:
            close_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    if not res.ops:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    if args.trace:
        res.layers["driver.peak_rss_mb"] = peak_rss
        metrics = {k: {"value": v, "unit": _unit(k)}
                   for k, v in sorted(res.layers.items())}
    else:
        metrics = {
            "op_p50_s": {"value": statistics.median(res.ops), "unit": "s"},
            "setup_s": {"value": sum(setup.values()), "unit": "s"},
        }
    result = {"correct": res.failed == 0, "attempted": res.attempted,
              "failed": res.failed, "metrics": metrics}
    print(json.dumps({**result, "detail": {"ops_s": res.ops,
                                           "setup": setup, **res.detail}}),
          file=sys.stderr)
    print(json.dumps(result))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_ratio"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
