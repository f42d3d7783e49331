#!/usr/bin/env python3
"""Materialize the reference script's outputs for the deterministic
12-company entry panel as golden parquet, so the driver's DuckDB
oracle can replay the flagship KG queries (kg_observations /
kg_triples) instead of recording `no_oracle`.

The panel is exactly what __spark_entry__.entry() synthesizes
(sources/pages.py embeds build_panel(12) facts into HTML pages); the
oracle is the REFERENCE script run on the same panel through its
offline path (--facts + --subs-cache-dir), mirroring tests/conftest.py.

Outputs (committed):
  tests/golden/kg_observations.parquet — tags_{fy}.csv rows, all-string
  tests/golden/kg_triples.parquet      — (subj, pred, obj) triple set
                                         parsed from instances.ttl

Usage: python scripts/make_golden.py
"""

from __future__ import annotations

import csv
import pathlib
import subprocess
import sys
import tempfile

REPO = pathlib.Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))
sys.path.insert(0, str(REPO / "tests"))

from reference_script import REFERENCE_SCRIPT  # noqa: E402

GOLDEN_DIR = REPO / "tests" / "golden"


def run_reference(workdir: pathlib.Path) -> dict:
    from edgar_finance_ontology_spark.sources.synthetic import (
        write_reference_inputs,
    )

    out = write_reference_inputs(workdir, n_companies=12)
    cmd = [
        sys.executable, str(REFERENCE_SCRIPT),
        "--fy", "2024",
        "--facts", *out["facts_paths"],
        "--subs-cache-dir", out["subs_cache_dir"],
        "--out-tags", str(workdir / "tags.csv"),
        "--out-companies", str(workdir / "companies.csv"),
        "--out-benchmarks", str(workdir / "benchmarks.csv"),
        "--out-rankings", str(workdir / "rankings.csv"),
        "--out-wide", str(workdir / "wide.csv"),
        "--emit-ttl", str(workdir / "instances.ttl"),
        "--include-derived",
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=workdir)
    if r.returncode != 0:
        raise RuntimeError(r.stderr[-2000:])
    return out


def tags_to_parquet(tags_csv: pathlib.Path, out: pathlib.Path) -> int:
    import pandas as pd

    with open(tags_csv, newline="") as f:
        rows = list(csv.DictReader(f))
    pdf = pd.DataFrame(rows).astype("string")
    pdf.to_parquet(out, index=False)
    return len(pdf)


def ttl_to_parquet(ttl: pathlib.Path, out: pathlib.Path) -> int:
    import pandas as pd

    from ttl_utils import parse_ttl_triples

    triples = sorted(parse_ttl_triples(ttl.read_text()))
    pdf = pd.DataFrame(triples, columns=["subj", "pred", "obj"]).astype("string")
    pdf.to_parquet(out, index=False)
    return len(pdf)


def main():
    GOLDEN_DIR.mkdir(parents=True, exist_ok=True)
    with tempfile.TemporaryDirectory(prefix="efin-golden-") as tmp:
        d = pathlib.Path(tmp)
        run_reference(d)
        n_obs = tags_to_parquet(
            d / "tags.csv", GOLDEN_DIR / "kg_observations.parquet"
        )
        n_tr = ttl_to_parquet(
            d / "instances.ttl", GOLDEN_DIR / "kg_triples.parquet"
        )
    print(f"golden: {n_obs} observations, {n_tr} triples -> {GOLDEN_DIR}")


if __name__ == "__main__":
    main()
