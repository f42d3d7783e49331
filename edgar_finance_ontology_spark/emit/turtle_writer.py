"""Distributed Turtle writer — the scale path of emit/turtle.py.

EVERY unbounded block family renders in executors via mapInPandas over
its canonically-ordered DataFrame: companies, observations, benchmarks,
and rankings (rankings grow linearly with entities — the reference
already emits 153,597 ranking instances at only 501 companies, so at
web scale driver-side rendering is an OOM). Only the bounded glue
(header, sector/industry/unit/currency/concept dimension blocks —
cardinality = distinct dimension values) renders on the driver from
small distinct-aggregates.

Concatenating the pieces in document order reproduces
emit.turtle.turtle_text byte-for-byte (tests/test_turtle_writer.py).

Ordering: each family DataFrame arrives range-sorted (orderBy), and
mapInPandas preserves per-partition row order while the text writer
emits one part file per partition in partition order — so
lexicographic part-file concat preserves the global canonical order.
"""

from __future__ import annotations

import os
from typing import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.iri import iri_camel_case
from ..vocab.namespaces import CURRENCY_CODES, NAMESPACE_MAP
from .turtle import (
    HEADER_LINES, benchmark_block, company_block, observation_block,
    ranking_block,
)


def observation_lines_df(obs_csv_frame: DataFrame, seen_entities: dict,
                         order_cols=("cik", "metric")) -> DataFrame:
    """(sort_key..., block text) per observation, rendered in executors.

    Observation rendering only APPENDS to the unit/currency/concept
    sets, which are re-derived deterministically downstream, so
    executors render with throwaway local state.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            local_seen = {
                "units": set(), "currencies": set(), "concepts": {},
                "sectors": set(), "industries": set(), "industry_sector": {},
            }
            texts = []
            for rec in pdf.to_dict("records"):
                texts.append("\n".join(observation_block(rec, local_seen)))
            out = pdf[[*order_cols]].copy()
            out["block"] = texts
            yield out

    fields = ", ".join(f"{c} string" for c in order_cols)
    return obs_csv_frame.mapInPandas(run, f"{fields}, block string")


def _family_lines(df: DataFrame, render: Callable[[dict], list]) -> DataFrame:
    """Render each row with the (pure per-row) block builder; drop
    skipped rows. Order-preserving narrow transform."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            texts = ["\n".join(render(rec)) for rec in pdf.to_dict("records")]
            out = pd.DataFrame({"block": pd.Series(texts, dtype="object")})
            yield out[out["block"] != ""]

    return df.mapInPandas(run, "block string")


def company_lines_df(companies_ordered: DataFrame) -> DataFrame:
    def render(rec: dict) -> list:
        local_seen = {"sectors": set(), "industries": set(),
                      "industry_sector": {}}
        return company_block(rec, local_seen)

    return _family_lines(companies_ordered, render)


def benchmark_lines_df(bench_ordered: DataFrame,
                       include_industry_scope: bool) -> DataFrame:
    flag = include_industry_scope

    def render(rec: dict) -> list:
        return benchmark_block(rec, flag)

    return _family_lines(bench_ordered, render)


def ranking_lines_df(rank_ordered: DataFrame, fy_ranking: str,
                     include_industry_scope: bool,
                     include_sector_scope: bool) -> DataFrame:
    fy, ind, sec = fy_ranking, include_industry_scope, include_sector_scope

    def render(rec: dict) -> list:
        return ranking_block(rec, fy, ind, sec)

    return _family_lines(rank_ordered, render)


def write_turtle_parts(
    out_dir: str,
    obs_csv_frame: DataFrame,
    order_cols=("cik", "metric"),
) -> str:
    """Observation blocks as ordered text part-files (kept for
    compatibility; write_turtle_document is the full-document path)."""
    lines = observation_lines_df(obs_csv_frame, {}, order_cols)
    lines.select("block").write.mode("overwrite").text(out_dir)
    return out_dir


# ---- bounded dimension glue (driver-side, from distinct aggregates) --

def _entity_dim_lines(companies_ordered: DataFrame,
                      needs_sector_all: bool) -> list:
    comp = companies_ordered.select("cik", "sector", "industry")
    sectors = sorted(
        r[0].strip() for r in
        comp.select(F.trim("sector")).where(F.trim("sector") != "")
        .distinct().collect()
    )
    # industry -> sector of its FIRST (canonical-order = min cik) row;
    # no inSectorOf when that first row had no sector (reference
    # first-wins dict semantics, select_xbrl_tags.py:190-192)
    ind_first = (
        comp.where(F.trim("industry") != "")
        .groupBy(F.trim("industry").alias("industry"))
        .agg(F.min_by(F.trim("sector"), F.col("cik")).alias("sector"))
        .collect()
    )
    industries = sorted(r["industry"] for r in ind_first)
    ind_sector = {r["industry"]: r["sector"] for r in ind_first
                  if r["sector"]}
    lines = []
    if sectors or needs_sector_all:
        lines.append("")
        for s in sectors:
            lines.append(f"efin:Sector{iri_camel_case(s)} a efin:Sector .")
        if needs_sector_all:
            lines.append("efin:SectorAll a efin:Sector .")
    if industries:
        lines.append("")
        for ind in industries:
            iri = f"efin:Industry{iri_camel_case(ind)}"
            lines.append(f"{iri} a efin:Industry .")
            if ind in ind_sector:
                s_iri = f"efin:Sector{iri_camel_case(ind_sector[ind])}"
                lines.append(f"{iri} efin:inSectorOf {s_iri} .")
    return lines


def _instance_dim_lines(obs_csv_frame: DataFrame) -> list:
    from .turtle import _close, _esc, _safe

    valid = obs_csv_frame.where(
        (F.col("cik") != "") & (F.col("metric") != "") & (F.col("fy") != "")
        & F.col("period_type").isin("duration", "instant")
        & (F.col("value") != "")
    )
    # one job for both bounded dimension sets (distinct units + distinct
    # concept QNames) instead of two separate distinct().collect()s —
    # each action re-derives the upstream observation lineage
    dims = valid.agg(
        F.collect_set(
            F.when(F.col("unit").isNotNull() & (F.col("unit") != ""),
                   F.col("unit"))
        ).alias("units"),
        F.collect_set(
            F.when(F.trim("selected_tag") != "", F.trim("selected_tag"))
        ).alias("qnames"),
    ).first()
    units = sorted(dims["units"])
    # dedup AFTER uppercasing (mixed-case 'usd'/'USD' inputs must emit
    # one Currency line — matches turtle_text's seen['currencies'] set)
    currencies = sorted({u.upper() for u in units
                         if u.upper() in CURRENCY_CODES})
    qnames = sorted(dims["qnames"])
    lines = []
    if units:
        lines += ["", "# Unit 인스턴스"]
        for u in units:
            lines.append(f"efin:Unit{iri_camel_case(u)} a efin:Unit .")
    if currencies:
        lines += ["", "# Currency 인스턴스"]
        for c in currencies:
            lines.append(f"efin:Currency{c} a efin:Currency .")
    if qnames:
        lines += ["", "# XBRLConcept 인스턴스"]
        for qname in qnames:
            namespace = ""
            if ":" in qname:
                prefix = qname.split(":")[0]
                namespace = NAMESPACE_MAP.get(
                    prefix, f"http://example.org/{prefix}/"
                )
            blk = [f"efin:XBRLConcept{_safe(qname)} a efin:XBRLConcept ;",
                   f'  efin:hasQName "{_esc(qname)}" ;']
            if namespace:
                blk.append(
                    f'  efin:hasNamespace "{_esc(namespace)}"^^xsd:anyURI ;'
                )
            _close(blk)
            lines.extend(blk)
    return lines


def _family_summary(csv_frame: DataFrame):
    """ONE job per family frame: (n_rows, all_market), where all_market
    is 1 when some row has an empty industry and sector. Replaces the per-flag limit(1).count() probes, each of which
    re-derived the full upstream lineage."""
    return csv_frame.agg(
        F.count("*").alias("n"),
        F.max(
            F.when((F.trim("industry") == "") & (F.trim("sector") == ""), 1)
            .otherwise(0)
        ).alias("all_market"),
    ).first()


def write_turtle_document(
    out_dir: str,
    companies: DataFrame,
    observations: DataFrame,
    benchmarks: DataFrame | None = None,
    rankings: DataFrame | None = None,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
    fy: int | None = None,
) -> str:
    """The whole canonical Turtle document as ordered pieces under
    `out_dir`: driver-rendered glue files + one Spark text-part dir per
    unbounded family. `concat_turtle_parts(out_dir)` == turtle_text.

    Inputs are the ENGINE tables (run_pipeline outputs + companies);
    canonical ordering is applied here. Pass the pipeline's `fy` to
    skip deriving the ranking fiscal year from the data (one less job);
    when omitted it is recovered exactly as turtle_text does — first
    ranking row's fy, falling back to the first observation's fy when
    rankings carry an empty fy (select_xbrl_tags parity).
    """
    from ..plans.pipeline import (
        canonical_benchmarks_order, canonical_rankings_order,
    )
    from .csv_format import (
        benchmarks_csv_frame, observations_csv_frame, rankings_csv_frame,
    )

    os.makedirs(out_dir, exist_ok=True)

    def glue(name: str, lines: list):
        if not lines:
            return
        with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
            f.write("\n".join(lines))

    comp_ordered = companies.orderBy("cik")
    obs_csv = observations_csv_frame(observations)

    bench_csv = rank_csv = None
    bench_sum = rank_sum = None
    needs_sector_all = False
    if benchmarks is not None:
        bench_csv = benchmarks_csv_frame(
            canonical_benchmarks_order(benchmarks, observations)
        )
        bench_sum = _family_summary(bench_csv)
        needs_sector_all = needs_sector_all or bench_sum["all_market"] == 1
    if rankings is not None:
        rank_csv = rankings_csv_frame(canonical_rankings_order(rankings))
        rank_sum = _family_summary(rank_csv)
        needs_sector_all = needs_sector_all or rank_sum["all_market"] == 1

    glue("00-header.txt", HEADER_LINES)
    company_lines_df(comp_ordered).select("block").write.mode(
        "overwrite"
    ).text(os.path.join(out_dir, "01-companies"))
    glue("02-entity-dims.txt",
         _entity_dim_lines(comp_ordered, needs_sector_all) + [""])
    observation_lines_df(obs_csv, {}).select("block").where(
        F.col("block") != ""
    ).write.mode("overwrite").text(os.path.join(out_dir, "03-observations"))
    glue("04-instance-dims.txt", _instance_dim_lines(obs_csv))

    if bench_csv is not None and bench_sum["n"] > 0:
        glue("05-bench-header.txt", ["", "# 벤치마크 통계"])
        benchmark_lines_df(bench_csv, include_industry_scope).select(
            "block"
        ).write.mode("overwrite").text(os.path.join(out_dir, "06-benchmarks"))
    if rank_csv is not None and rank_sum["n"] > 0:
        if fy is not None:
            fy_ranking = str(fy)
        else:
            # turtle_text takes the FIRST canonical-order ranking row's
            # fy (turtle.py:405) — NOT a min over all fys, which for a
            # multi-fy rankings input diverges (lexicographic min !=
            # first row). rank_csv is already canonically sorted, so
            # Limit-after-Sort plans as TakeOrderedAndProject and this
            # is exactly rank_rows[0].fy.
            first_rank = rank_csv.select("fy").limit(1).collect()
            fy_ranking = (first_rank[0][0] or "") if first_rank else ""
            if not fy_ranking:
                # rankings carry no fy: turtle_text falls back to the
                # first observation's fy (select_xbrl_tags parity)
                first_obs = obs_csv.select("fy").limit(1).collect()
                fy_ranking = (first_obs[0][0] or "") if first_obs else ""
        glue("07-rank-header.txt", ["", "# 랭킹"])
        ranking_lines_df(
            rank_csv, fy_ranking,
            include_industry_scope, include_sector_scope,
        ).select("block").write.mode("overwrite").text(
            os.path.join(out_dir, "08-rankings")
        )
    return out_dir


def concat_turtle_parts_to_file(out_dir: str, dest_path: str) -> str:
    """Stream the ordered pieces straight into `dest_path` without ever
    holding the whole document in driver memory — the deploy-path
    equivalent of `cat` over the sorted pieces. Peak memory = one part
    file (bounded by partition size), so this scales to documents far
    larger than driver RAM. Byte-identical to concat_turtle_parts.
    """
    first = True
    with open(dest_path, "w", encoding="utf-8", newline="") as out:
        for name in sorted(os.listdir(out_dir)):
            path = os.path.join(out_dir, name)
            if os.path.isfile(path) and name.endswith(".txt"):
                with open(path, encoding="utf-8", newline="") as f:
                    text = f.read()
            elif os.path.isdir(path):
                chunk = []
                for part in sorted(os.listdir(path)):
                    if part.startswith("part-"):
                        with open(os.path.join(path, part),
                                  encoding="utf-8", newline="") as f:
                            t = f.read()
                        if t:
                            chunk.append(t[:-1] if t.endswith("\n") else t)
                if not chunk:
                    continue
                text = "\n".join(chunk)
            else:
                continue
            if not first:
                out.write("\n")
            out.write(text)
            first = False
    return dest_path


def concat_turtle_parts(out_dir: str) -> str:
    """Reassemble the document from the ordered pieces (what a
    downstream consumer — or `cat` — does with the part files)."""
    pieces = []
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if os.path.isfile(path) and name.endswith(".txt"):
            with open(path, encoding="utf-8") as f:
                pieces.append(f.read())
        elif os.path.isdir(path):
            chunk = []
            for part in sorted(os.listdir(path)):
                if part.startswith("part-"):
                    with open(os.path.join(path, part), encoding="utf-8") as f:
                        t = f.read()
                    if t:
                        chunk.append(t[:-1] if t.endswith("\n") else t)
            if chunk:
                pieces.append("\n".join(chunk))
    return "\n".join(pieces)
