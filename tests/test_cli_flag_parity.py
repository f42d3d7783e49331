"""Parity under non-default CLI flags: --metrics subsets,
--fy-tol-days, --skip-derived (reference main() gating,
select_xbrl_tags.py:2713-2984)."""

import subprocess
import sys

import pandas as pd
import pytest

from reference_script import REFERENCE_SCRIPT
from test_parity_observations import CSV_COLS


def _run_reference(panel_dir, tmp_path, extra_args):
    cmd = [
        sys.executable, str(REFERENCE_SCRIPT),
        "--facts", *panel_dir["facts_paths"],
        "--subs-cache-dir", panel_dir["subs_cache_dir"],
        "--out-tags", str(tmp_path / "tags.csv"),
        "--out-companies", str(tmp_path / "companies.csv"),
        "--out-benchmarks", str(tmp_path / "b.csv"),
        "--out-rankings", str(tmp_path / "r.csv"),
        "--out-wide", str(tmp_path / "w.csv"),
        *extra_args,
    ]
    r = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp_path)
    assert r.returncode == 0, r.stderr[-1500:]
    return pd.read_csv(tmp_path / "tags.csv", dtype=str).fillna("")


def _ours(engine_inputs, **kw):
    from edgar_finance_ontology_spark.emit.csv_format import (
        observations_csv_frame,
    )
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )

    facts, companies = engine_inputs
    return observations_csv_frame(
        build_observations(facts, companies, **kw)
    ).toPandas()


def _cmp(ours, ref):
    ours = ours[CSV_COLS].astype(str).sort_values(
        ["cik", "metric"]).reset_index(drop=True)
    ref = ref[CSV_COLS].astype(str).sort_values(
        ["cik", "metric"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(ours, ref)


@pytest.mark.parametrize(
    "ref_args,kwargs",
    [
        (["--fy", "2024", "--metrics", "ROE", "Revenue"],
         dict(fy=2024, metrics=("ROE", "Revenue"), include_derived=False)),
        (["--fy", "2024", "--skip-derived"],
         dict(fy=2024, metrics=("all",), include_derived=True,
              skip_derived=True)),
        (["--fy", "2024", "--fy-tol-days", "30", "--include-derived"],
         dict(fy=2024, tol_days=30)),
        (["--fy", "2024", "--metrics", "base"],
         dict(fy=2024, metrics=("base",), include_derived=False)),
        (["--fy", "2024", "--metrics", "RevenueGrowthYoY", "CurrentRatio"],
         dict(fy=2024, metrics=("RevenueGrowthYoY", "CurrentRatio"),
              include_derived=False)),
    ],
)
def test_flag_parity(panel_dir, engine_inputs, tmp_path, ref_args, kwargs):
    ref = _run_reference(panel_dir, tmp_path, ref_args)
    ours = _ours(engine_inputs, **kwargs)
    _cmp(ours, ref)
