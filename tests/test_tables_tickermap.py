"""HTML-table extraction + ticker map resolution tests."""

import json
import sys

import pytest

from reference_script import REFERENCE_SCRIPT

sys.path.insert(0, str(REFERENCE_SCRIPT.parent))

WIKI_HTML = b"""
<html><body><nav>skip</nav>
<table id="constituents">
 <tr><th>Symbol</th><th>Security</th><th>GICS Sector</th><th>GICS Sub-Industry</th></tr>
 <tr><td>AAPL</td><td>Apple Inc.</td><td>Information Technology</td>
     <td>Technology Hardware, Storage &amp; Peripherals</td></tr>
 <tr><td>brk.b</td><td>Berkshire Hathaway</td><td>Financials</td>
     <td>Multi-Sector Holdings</td></tr>
</table>
<table><tr><th>other</th></tr><tr><td>x</td></tr></table>
</body></html>
"""


def test_extract_table_rows_and_constituents(spark):
    from edgar_finance_ontology_spark.operators.tables import (
        constituents_from_tables, extract_table_rows,
    )

    pages = spark.createDataFrame(
        [("https://w/sp500", WIKI_HTML)], "url string, html binary"
    )
    rows = extract_table_rows(pages)
    got = rows.collect()
    assert {r["table_idx"] for r in got} == {0, 1}
    c = constituents_from_tables(rows).orderBy("symbol").collect()
    assert [r["symbol"] for r in c] == ["AAPL", "BRK.B"]
    assert c[0]["industry"] == "Technology Hardware, Storage & Peripherals"
    assert c[1]["sector"] == "Financials"


def test_ticker_normalization_matches_reference(spark):
    ref = pytest.importorskip("select_xbrl_tags")
    from pyspark.sql import functions as F

    from edgar_finance_ontology_spark.sources.ticker_map import (
        normalize_ticker_col,
    )

    cases = ["BRK.B", "bf-b", "  aapl ", "RDS A", "x.y-z w"]
    df = spark.createDataFrame([(c,) for c in cases], "t string")
    got = [r[0] for r in df.select(normalize_ticker_col(F.col("t"))).collect()]
    want = [ref.normalize_ticker_key(c) for c in cases]
    assert got == want


def test_ticker_map_readers_and_resolution(spark, tmp_path):
    from edgar_finance_ontology_spark.sources.ticker_map import (
        read_ticker_map_json, read_ticker_map_text, resolve_tickers,
    )

    jpath = tmp_path / "company_tickers.json"
    jpath.write_text(json.dumps({
        "0": {"cik_str": 320193, "ticker": "AAPL", "title": "Apple Inc."},
        "1": {"cik_str": 1067983, "ticker": "BRK-B",
              "title": "Berkshire Hathaway"},
    }))
    m = read_ticker_map_json(spark, str(jpath))
    got = {r["ticker_norm"]: r["cik"] for r in m.collect()}
    # shipped-reference normalization keeps dashes (see ticker_map.py)
    assert got == {"AAPL": "0000320193", "BRK-B": "0001067983"}

    tpath = tmp_path / "ticker.txt"
    tpath.write_text("aapl|320193\nbrk-b|1067983\n")
    m2 = read_ticker_map_text(spark, str(tpath))
    got2 = {r["ticker_norm"]: r["cik"] for r in m2.collect()}
    assert got2 == got

    comps = spark.createDataFrame(
        [("BRK-B", "Berkshire"), ("ZZZ", "Unknown Co")],
        "symbol string, name string",
    )
    resolved = resolve_tickers(comps, m)
    rows = resolved.collect()
    assert len(rows) == 1 and rows[0]["resolved_cik"] == "0001067983"
