"""Golden parity: our observations table vs the reference's tags CSV.

The reference script itself runs on the same synthetic panel
(conftest.panel_dir) and its tags_{fy}.csv is the oracle; where the
script is absent, the observations test reads the committed golden of
that CSV (conftest.reference_tags). We compare the full 24-column row
set, including %.6f value and %.3f confidence formatting.
"""

import pandas as pd

CSV_COLS = [
    "cik", "symbol", "name", "sector", "industry", "sic", "sic_description",
    "fye", "fy", "metric", "is_derived", "value", "unit", "period_type",
    "end", "form", "accn", "source_type", "selected_tag", "composite_name",
    "computed_from", "confidence", "reason", "components",
]


def _ours_as_csv_frame(df) -> pd.DataFrame:
    from edgar_finance_ontology_spark.emit.csv_format import observations_csv_frame

    return observations_csv_frame(df).toPandas()


def test_observations_match_reference(spark, reference_tags, engine_inputs):
    from edgar_finance_ontology_spark.operators.observations import (
        build_observations,
    )

    facts, companies = engine_inputs
    ours = _ours_as_csv_frame(build_observations(facts, companies, fy=2024))

    ref = reference_tags
    ours = ours[CSV_COLS].astype(str)
    ref = ref[CSV_COLS].astype(str)

    key = ["cik", "metric"]
    ours_s = ours.sort_values(key).reset_index(drop=True)
    ref_s = ref.sort_values(key).reset_index(drop=True)

    # row-set equality with a readable diff on failure
    merged = ref_s.merge(
        ours_s, on=key, how="outer", suffixes=("_ref", "_ours"), indicator=True
    )
    missing = merged[merged["_merge"] == "left_only"][key]
    extra = merged[merged["_merge"] == "right_only"][key]
    assert missing.empty, f"rows missing from ours:\n{missing}"
    assert extra.empty, f"extra rows in ours:\n{extra}"

    for col in CSV_COLS:
        if col in key:
            continue
        diff = merged[merged[f"{col}_ref"] != merged[f"{col}_ours"]]
        assert diff.empty, (
            f"column {col} mismatch:\n"
            + diff[key + [f"{col}_ref", f"{col}_ours"]].head(20).to_string()
        )


def test_companies_match_reference(panel_dir, engine_inputs):
    _, companies = engine_inputs
    ours = companies.toPandas().astype(str).sort_values("cik").reset_index(drop=True)
    ref = (
        pd.read_csv(panel_dir["dir"] / "companies.csv", dtype=str)
        .fillna("")
        .sort_values("cik")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(ours[ref.columns.tolist()], ref)
