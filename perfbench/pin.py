#!/usr/bin/env python3
"""Regenerate perfbench/expected.json, the outputs the benchmark pins.

    python3 perfbench/pin.py

kg_build: the triple-table digest and instances.ttl sha256 of the
panel, built from two different seeds, which must agree. late_patch:
for each late-page candidate company, the triple-table digest of a
from-scratch build of the panel plus that company's first late page.
Run it only when the package is meant to change its output.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import (  # noqa: E402
    ROOT, close_session, import_package, open_session,
)


def main() -> int:
    if not import_package():
        return 2
    from pyspark.sql import functions as F

    from perfbench import inputs, workloads as w
    from perfbench.trace import Tracer

    work = os.path.join(ROOT, ".perfbench", f"pin-{os.getpid()}")
    spark = open_session(work)
    untraced = Tracer(spark, enabled=False)
    try:
        kg = {}
        for seed in (1, 2):
            pages = f"{work}/kg-pages-{seed}"
            inputs.write_pages(inputs.page_rows(w.KG_COMPANIES, seed), pages)
            w.build_graph(spark, untraced, pages, f"{work}/kg-{seed}")
            kg[seed] = {
                "triples": w.triples_digest(
                    spark.read.parquet(f"{work}/kg-{seed}/triples")),
                "ttl_sha256": w.file_sha256(f"{work}/kg-{seed}/instances.ttl"),
            }
            print(seed, kg[seed], flush=True)
        if kg[1] != kg[2]:
            print("kg_build output depends on the seed", file=sys.stderr)
            return 1

        rows = inputs.page_rows(w.PATCH_COMPANIES, 1)
        base = f"{work}/patch-pages"
        inputs.write_pages(rows, base)
        t = w.build_graph(spark, untraced, base, f"{work}/patch-base")
        revenue = {
            r["cik"]: r for r in t["observations"].where(
                (F.col("metric") == "Revenue") & ~F.col("is_derived")
            ).collect()
        }
        patch = {}
        for cik in sorted(revenue)[:w.LATE_CANDIDATES]:
            pages = f"{work}/patch-pages-{cik}"
            inputs.write_pages(rows, pages)
            inputs.write_pages([inputs.late_page(revenue[cik], 0)], pages,
                               prefix="late-0", n_files=1)
            w.build_graph(spark, untraced, pages, f"{work}/patch-{cik}")
            patch[cik] = w.triples_digest(
                spark.read.parquet(f"{work}/patch-{cik}/triples"))
            print(cik, patch[cik], flush=True)
    finally:
        close_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    expected = {
        "kg_build": {str(w.KG_COMPANIES): kg[1]},
        "late_patch": {str(w.PATCH_COMPANIES): patch},
    }
    with open(w.EXPECTED_PATH, "w", encoding="utf-8") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
