"""Distributed EXACT group statistics without per-group list
materialization — the one route of every benchmark group, industry and
all-market scope alike.

The reference computes mean/median/index-percentiles with Python
`statistics` over the sorted value list per group
(select_xbrl_tags.py:680-713). A group is bounded only by the entities
it holds — every entity, for the all-market group — so `collect_list`
into one aggregation buffer is a memory cliff at web scale. This module
computes the same numbers — bit-for-bit — with:

  * ONE range-partition shuffle of (group, value) sorted within
    partitions (Spark's distributed sort);
  * a driver-collected per-(partition, group) count table (P x G rows,
    tiny) turned into global rank offsets;
  * a narrow second pass that emits ONLY the rank-targeted rows
    (min / max / median pair / index p25 / p75) plus per-partition
    exact rational partial sums for the mean.

Python-float parity: statistics.mean is exact-rational (sum of
Fraction(v) / n -> float, correctly rounded); statistics.median is
sorted[n//2] (odd) or the float average of the two middle values
(even); p25/p75 are nearest-rank sorted[int(n*q)]. All reproduced
exactly from the selected rows + combined fractions.
"""

from __future__ import annotations

from fractions import Fraction
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _target_ranks(n: int) -> dict[str, list[int]]:
    """1-based ranks needed per statistic for a group of size n."""
    med = [n // 2 + 1] if n % 2 else [n // 2, n // 2 + 1]
    return {
        "min": [1],
        "max": [n],
        "median": med,
        "p25": [int(n * 0.25) + 1],
        "p75": [int(n * 0.75) + 1],
    }


def exact_group_stats(df: DataFrame, group_col: str, value_col: str,
                      min_n: int = 1,
                      driver_cap: int = 100_000) -> pd.DataFrame:
    """-> pandas frame (group, n, average, median, max, min, p25, p75)
    with Python-statistics-exact float semantics. The heavy data flows
    through one range shuffle + one narrow pass; only O(P x G) rows hit
    the driver.

    `driver_cap`: when the TOTAL value count is at or below this, the
    values are collected and the statistics computed directly with the
    `statistics` module — the literal reference arithmetic, so the
    numbers are identical to the distributed path (both reproduce
    statistics.mean/median and nearest-rank percentiles bit-for-bit;
    tests/test_exact_stats.py pins the two routes against each other).
    Rationale (guide §1.2 / §2.4): the distributed path costs a
    range-partitioner sampling job + the counts job + the rank-pick
    job; below the cap that is three small-job latencies for work one
    bounded collect covers. Same explicit smaller-than-this-is-local
    routing as connected_components' driver_cap. Set 0 to force the
    distributed kernel.

    compute_benchmarks sends both of its scopes through one call, with
    `industry\\x1fmetric` and `\\x1fmetric` composite group keys."""
    import statistics

    d0 = (
        df.select(F.col(group_col).alias("g"), F.col(value_col).alias("v"))
        .where(F.col("v").isNotNull())
    )
    # one bounded collect decides the route and, below the cap, is the
    # data: never more than driver_cap + 1 rows reach the driver
    local = d0.limit(driver_cap + 1).collect() if driver_cap else []
    if driver_cap and len(local) <= driver_cap:
        by_group: dict = {}
        for r in local:
            by_group.setdefault(r["g"], []).append(float(r["v"]))
        rows = []
        for g in sorted(by_group):
            vs = sorted(by_group[g])
            n = len(vs)
            if n < min_n:
                continue
            rows.append({
                "group": g,
                "n": n,
                "average": statistics.mean(vs),
                "median": statistics.median(vs),
                "max": vs[-1],
                "min": vs[0],
                "p25": vs[int(n * 0.25)],
                "p75": vs[int(n * 0.75)],
            })
        return pd.DataFrame(
            rows, columns=["group", "n", "average", "median", "max",
                           "min", "p25", "p75"],
        )
    d = (
        d0
        .repartitionByRange(F.col("g"), F.col("v"))
        .sortWithinPartitions("g", "v")
        .withColumn("pid", F.spark_partition_id())
    )
    d = d.localCheckpoint(eager=False)

    counts = d.groupBy("pid", "g").count().collect()
    n_by_group: dict = {}
    for r in sorted(counts, key=lambda r: (r["g"], r["pid"])):
        n_by_group[r["g"]] = n_by_group.get(r["g"], 0) + r["count"]
    offsets: dict = {}
    running: dict = {}
    for r in sorted(counts, key=lambda r: (r["g"], r["pid"])):
        offsets[(r["pid"], r["g"])] = running.get(r["g"], 0)
        running[r["g"]] = running.get(r["g"], 0) + r["count"]

    wanted: dict = {}
    for g, n in n_by_group.items():
        if n < min_n:
            continue
        ranks = set()
        for rs in _target_ranks(n).values():
            ranks.update(rs)
        wanted[g] = ranks

    spark = df.sparkSession
    bc_off = spark.sparkContext.broadcast(offsets)
    bc_want = spark.sparkContext.broadcast(wanted)

    def pick(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        off = bc_off.value
        want = bc_want.value
        carried: dict = {}  # rows of each group already seen this task
        for pdf in batches:
            out_g, out_kind, out_rank, out_num, out_den = [], [], [], [], []
            pid0 = int(pdf["pid"].iloc[0]) if len(pdf) else 0
            vvals = pdf["v"].to_numpy()
            # rows are sorted by (g, v) within the partition, so a
            # group's rows in this batch hold the consecutive global
            # ranks start+1 .. start+len(idx); only the groups present
            # in the batch are visited
            for g, idx in pdf.groupby("g", sort=False).indices.items():
                start = off.get((pid0, g), 0) + carried.get(g, 0)
                carried[g] = carried.get(g, 0) + len(idx)
                ranks = want.get(g)
                if ranks is None:
                    continue  # below min_n: never reported
                vals = vvals[idx].tolist()
                for rank in ranks:
                    if start < rank <= start + len(vals):
                        num, den = vals[rank - start - 1].as_integer_ratio()
                        out_g.append(g)
                        out_kind.append("rank")
                        out_rank.append(rank)
                        out_num.append(str(num))
                        out_den.append(str(den))
                # exact partial sum (statistics.mean is exact-rational),
                # as statistics._sum builds it: integer numerators summed
                # per denominator, then one Fraction per denominator
                partials: dict = {}
                for v in vals:
                    num, den = v.as_integer_ratio()
                    partials[den] = partials.get(den, 0) + num
                fs = sum(Fraction(num, den) for den, num in partials.items())
                out_g.append(g)
                out_kind.append("sum")
                out_rank.append(len(vals))
                out_num.append(str(fs.numerator))
                out_den.append(str(fs.denominator))
            yield pd.DataFrame({
                "g": pd.Series(out_g, dtype="object"),
                "kind": pd.Series(out_kind, dtype="object"),
                "rank": pd.Series(out_rank, dtype="int64"),
                "num": pd.Series(out_num, dtype="object"),
                "den": pd.Series(out_den, dtype="object"),
            })

    picked = d.mapInPandas(
        pick, "g string, kind string, rank long, num string, den string"
    ).collect()

    rank_val: dict = {}
    sums: dict = {}
    for r in picked:
        if r["kind"] == "rank":
            rank_val[(r["g"], r["rank"])] = float(
                Fraction(int(r["num"]), int(r["den"]))
            )
        else:
            s, c = sums.get(r["g"], (Fraction(0), 0))
            sums[r["g"]] = (s + Fraction(int(r["num"]), int(r["den"])),
                            c + r["rank"])

    rows = []
    for g, n in sorted(n_by_group.items()):
        if n < min_n:
            continue
        t = _target_ranks(n)
        med_ranks = t["median"]
        if len(med_ranks) == 1:
            median = rank_val[(g, med_ranks[0])]
        else:
            median = (rank_val[(g, med_ranks[0])]
                      + rank_val[(g, med_ranks[1])]) / 2
        s, c = sums[g]
        assert c == n, (g, c, n)
        rows.append({
            "group": g,
            "n": n,
            "average": float(s / n),
            "median": median,
            "max": rank_val[(g, t["max"][0])],
            "min": rank_val[(g, t["min"][0])],
            "p25": rank_val[(g, t["p25"][0])],
            "p75": rank_val[(g, t["p75"][0])],
        })
    return pd.DataFrame(
        rows, columns=["group", "n", "average", "median", "max", "min",
                       "p25", "p75"],
    )
