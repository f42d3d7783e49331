"""Seeded inputs: a crawled pages table around the synthetic filing panel.

The seed only permutes: which filing pages get mirror copies and how
many, where the noise pages fall, and the row order of the table. The
knowledge graph built from any seed is the same graph, because mirrors
carry identical content under distinct urls (the fact parser dedups
records) and noise pages carry no facts. That is what lets the output
checks pin one digest per panel size for every seed.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from edgar_finance_ontology_spark.sources.pages import (
    _page_html, build_page_rows, fact_sentence,
)

FY = 2024
MAX_MIRRORS = 3
NOISE_PER_FILING_PAGE = 3


# sources.schemas.PAGES_SCHEMA; timestamps are UTC instants, as Spark
# reads them into TimestampType in the engine's UTC session
_ARROW_PAGES = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])


def _mirror_count(rng: random.Random) -> int:
    """Zipf-like: most pages have no mirror, a few have up to three."""
    return min(MAX_MIRRORS, int(rng.paretovariate(1.5)) - 1)


def page_rows(n_companies: int, seed: int) -> list[tuple]:
    base = build_page_rows(n_companies=n_companies, skew_copies=0,
                           noise_pages=0)
    rng = random.Random(seed)
    rows = list(base)
    for url, ts, html, text, lang in base:
        if "/facts-" not in url:
            continue
        for j in range(1, _mirror_count(rng) + 1):
            mirror = url.replace("https://filings.example.com/",
                                 f"https://mirror{j}.example.net/")
            rows.append((mirror, ts, html, text, lang))
    noise = [
        r for r in build_page_rows(
            n_companies=1, skew_copies=0,
            noise_pages=NOISE_PER_FILING_PAGE * len(base))
        if r[0].startswith("https://noise.")
    ]
    rows.extend(noise)
    rng.shuffle(rows)
    return rows


def write_pages(rows: list[tuple], path: str, prefix: str = "part",
                n_files: int = 8) -> None:
    """Write ``rows`` as ``n_files`` parquet files of the pages table in
    directory ``path``; a later call with another ``prefix`` appends."""
    os.makedirs(path, exist_ok=True)
    for i in range(n_files):
        chunk = rows[i::n_files]
        if not chunk:
            continue
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type)
             for c, f in zip(zip(*chunk), _ARROW_PAGES)],
            schema=_ARROW_PAGES)
        pq.write_table(table, os.path.join(path, f"{prefix}-{i:05d}.parquet"))


def late_page(obs_row, round_no: int) -> tuple:
    """A late filing page restating one reported Revenue value. The url
    depends only on the company and the round, not on the seed, so the
    patched graph for a given company is the same for every seed."""
    cik = obs_row["cik"]
    sentence = fact_sentence(cik, obs_row["selected_tag"], obs_row["unit"], {
        "val": float(obs_row["value"]) - 54321.0 * (round_no + 1),
        "end": obs_row["end"], "fy": int(obs_row["fy"]), "fp": "FY",
        "form": obs_row["form"], "accn": obs_row["accn"], "qtrs": 4,
        "segment": None,
    })
    return (
        f"https://filings.example.com/{cik}/late-{round_no}.html",
        dt.datetime(2025, 3, 1) + dt.timedelta(days=round_no),
        _page_html("late amendment", [sentence]).encode(), None, "en",
    )
