#!/usr/bin/env python3
"""Wall of compute_benchmarks' one exact-statistics route on two
shapes, each checked against a `statistics`-module oracle:

  * mega: ONE industry holding `--rows` ROE values (default 1,000,000);
  * mid:  300 industries of 1,000 ROE values each.

Both are above exact_group_stats' driver_cap once every row is keyed
for its industry and for the all-market scope, so the distributed
kernel runs.

    python scripts/bench_big_industry.py [--rows N] [--threads T]

Prints one JSON line per shape: the wall of each of three calls in one
session (the first is cold), the warm median, the benchmark row count
and `oracle_equal`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _value(i: int) -> float:
    """Row i's ROE: exact integer arithmetic and one IEEE division, so
    the JVM and CPython compute the identical double."""
    return float(i * 2654435761 % 1000003) / 1000.0 - 500.0


def synth_obs(spark, n_rows: int, n_industries: int):
    """Observation-shaped frame: `n_rows` ROE values spread round-robin
    over `n_industries` industries of one sector."""
    from pyspark.sql import functions as F

    ind = (F.lit("Mega Industry") if n_industries == 1 else
           F.concat(F.lit("Ind"), (F.col("id") % n_industries).cast("string")))
    return spark.range(n_rows).select(
        F.format_string("%010d", F.col("id")).alias("cik"),
        F.concat(F.lit("T"), F.col("id").cast("string")).alias("symbol"),
        F.concat(F.lit("Co"), F.col("id").cast("string")).alias("name"),
        F.lit("Tech").alias("sector"),
        ind.alias("industry"),
        F.lit(2024).alias("fy"),
        F.lit("ROE").alias("metric"),
        F.lit(False).alias("is_derived"),
        ((F.col("id") * 2654435761 % 1000003).cast("double") / 1000.0
         - 500.0).alias("value"),
    )


def oracle_rows(n_rows: int, n_industries: int) -> list[tuple]:
    """The reference arithmetic over the CSV-rounded values, per
    industry and for the all-market scope."""
    groups: dict = {}
    for i in range(n_rows):
        ind = ("Mega Industry" if n_industries == 1
               else f"Ind{i % n_industries}")
        v = float(f"{_value(i):.6f}")
        groups.setdefault((ind, "Tech"), []).append(v)
        groups.setdefault(("", ""), []).append(v)
    out = []
    for (ind, sec), vals in groups.items():
        vs = sorted(vals)
        n = len(vs)
        out.append((ind, sec, "ROE", 2024, statistics.mean(vs),
                    statistics.median(vs), vs[-1], vs[0],
                    vs[int(n * 0.25)], vs[int(n * 0.75)], n))
    return sorted(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=1_000_000)
    ap.add_argument("--threads", type=int, default=2)
    args = ap.parse_args()

    from edgar_finance_ontology_spark.operators.benchmarks import (
        compute_benchmarks,
    )
    from edgar_finance_ontology_spark.session import build_session

    spark = build_session(
        "efin-big-industry", master=f"local[{args.threads}]",
        shuffle_partitions=max(4, args.threads),
    )
    ok = True
    for name, n_rows, n_ind in (("mega", args.rows, 1),
                                ("mid", 300 * 1_000, 300)):
        obs = synth_obs(spark, n_rows, n_ind).localCheckpoint(eager=True)
        walls = []
        for _ in range(3):
            t0 = time.monotonic()
            rows = sorted(map(tuple, compute_benchmarks(obs, 2024).collect()))
            walls.append(round(time.monotonic() - t0, 3))
        equal = rows == oracle_rows(n_rows, n_ind)
        ok &= equal
        print(json.dumps({
            "shape": name, "rows": n_rows, "industries": n_ind,
            "threads": args.threads, "wall_sec": walls,
            "warm_median_sec": statistics.median(walls[1:]),
            "bench_rows": len(rows), "oracle_equal": equal,
        }), flush=True)
    spark.stop()
    assert ok, "compute_benchmarks diverged from the statistics oracle"


if __name__ == "__main__":
    main()
