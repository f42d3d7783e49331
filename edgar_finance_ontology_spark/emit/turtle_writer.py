"""Distributed Turtle writer: instances.ttl rendered natively in Spark
from the rows the triple table explodes (emit/triples.py).

A block is its row's entry array, nulls dropped, each entry printed by
the rule the triple table and turtle.py share (`rdf:type` is `a`; an
IRI, an xsd:integer and an xsd:boolean are bare; a plain literal is
quoted; any other literal is quoted with `^^dtype`), joined with
" ;\\n  " and closed with "\\n.". The dimension instances are one-line
statements (XBRL concepts are blocks), and the section headers are rows
of the same dimension aggregation. Every float keeps the one Python
repr the families compute; nothing else runs Python.

The whole document is one frame, one text row per block, statement
group or header, range-sorted on (section, canonical key) and written
by one `.text()` write. The text writer emits one part file per
partition in partition order, so concatenating the part files in name
order (`concat_turtle_parts`) reproduces emit.turtle.turtle_text
byte-for-byte (tests/test_turtle_writer.py, tests/test_job_budget.py).
"""

from __future__ import annotations

import functools
import os
from typing import Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans.pipeline import (
    benchmarks_order_key, observations_order_key, rankings_order_key,
)
from .triples import (
    BENCHMARKS, COMPANIES, CONCEPTS, CURRENCIES, HEADER, INDUSTRIES,
    OBSERVATIONS, RANKINGS, SECTORS, UNITS, benchmark_blocks,
    company_blocks, dimension_blocks, observation_blocks, ranking_blocks,
)
from .turtle import HEADER_LINES

# text of a section's header row (select_xbrl_tags.py emit_efin_ttl)
_SECTION_HEADERS = {
    HEADER: "\n".join(HEADER_LINES),
    SECTORS: "",
    INDUSTRIES: "",
    OBSERVATIONS: "",
    UNITS: "\n# Unit 인스턴스",
    CURRENCIES: "\n# Currency 인스턴스",
    CONCEPTS: "\n# XBRLConcept 인스턴스",
    BENCHMARKS: "\n# 벤치마크 통계",
    RANKINGS: "\n# 랭킹",
}


def _term(t: Column) -> Column:
    """`pred obj` of one entry struct, as turtle.py prints it."""
    obj, dtype = t["obj"], t["obj_dtype"]
    rendered = (
        F.when(~t["obj_is_literal"]
               | dtype.isin("xsd:integer", "xsd:boolean"), obj)
        .when(dtype.isNull(), F.concat(F.lit('"'), obj, F.lit('"')))
        .otherwise(F.concat(F.lit('"'), obj, F.lit('"^^'), dtype))
    )
    pred = F.when(t["pred"] == "rdf:type", "a").otherwise(t["pred"])
    return F.concat(pred, F.lit(" "), rendered)


def _render_block(subj: Column, ents: Column) -> Column:
    """`S a C ;\\n  p o ;\\n  p o\\n.`"""
    terms = F.transform(F.filter(ents, lambda t: t.isNotNull()), _term)
    return F.concat(subj, F.lit(" "), F.array_join(terms, " ;\n  "),
                    F.lit("\n."))


def _render_statements(subj: Column, ents: Column) -> Column:
    """One `S p o .` line per entry."""
    lines = F.transform(
        F.filter(ents, lambda t: t.isNotNull()),
        lambda t: F.concat(subj, F.lit(" "), _term(t), F.lit(" .")),
    )
    return F.array_join(lines, "\n")


@functools.lru_cache(maxsize=1)
def _renderers():
    """(block, dimension-row text, ranking block + backlink) over the
    `subj`/`ents` columns, built once per process (see
    triples._company_exprs)."""
    subj, ents = F.col("subj"), F.col("ents")
    block = _render_block(subj, ents)
    header = None
    for sec, text in _SECTION_HEADERS.items():
        c = F.col("sec") == sec
        header = F.when(c, text) if header is None else header.when(c, text)
    dim = (
        F.when(F.col("key").isNull(), header)
        .when(F.col("sec") == CONCEPTS, block)
        .otherwise(_render_statements(subj, ents))
    )
    ranking = F.concat(block, F.lit("\n"),
                       _render_statements(F.col("link_subj"), F.col("links")))
    return block, dim, ranking


def _first_fy(df: DataFrame, key: list):
    row = df.orderBy(*key).select("fy").limit(1).collect()
    return row[0][0] if row else None


def turtle_document(
    companies: DataFrame,
    observations: DataFrame,
    benchmarks: DataFrame | None = None,
    rankings: DataFrame | None = None,
    include_industry_scope: bool = False,
    include_sector_scope: bool = False,
    fy: int | None = None,
) -> DataFrame:
    """The canonical Turtle document as one frame of `text` rows, sorted
    on (`sec`, then each family's canonical key column `k_*`).

    Inputs are the ENGINE tables (run_pipeline outputs + companies), in
    any order. Pass the pipeline's `fy` as the rankings' fiscal year;
    when omitted it is recovered exactly as turtle_text does — the first
    canonical ranking row's fy, falling back to the first canonical
    observation's fy (select_xbrl_tags parity) — by at most two driver
    collects. No other action runs before the frame is consumed.
    """
    block, dim, ranking = _renderers()
    obs_key = observations_order_key()
    parts = [
        companies.sparkSession.createDataFrame(
            [(HEADER, _SECTION_HEADERS[HEADER]),
             (OBSERVATIONS, _SECTION_HEADERS[OBSERVATIONS])],
            "sec int, text string"),
        company_blocks(companies).select(
            F.lit(COMPANIES).alias("sec"), block.alias("text"),
            F.struct("cik").alias("k_company")),
        observation_blocks(observations).select(
            F.lit(OBSERVATIONS).alias("sec"), block.alias("text"),
            F.struct(*obs_key).alias("k_obs")),
        dimension_blocks(companies, observations, benchmarks, rankings)
        .select("sec", dim.alias("text"), F.col("key").alias("k_dim")),
    ]
    if benchmarks is not None:
        # blocks before the key join: the repr UDF then runs once, in
        # the map stage of the join's shuffle, not again in the sort's
        # sampling job
        b, key = benchmarks_order_key(
            benchmark_blocks(benchmarks, include_industry_scope),
            observations)
        parts.append(b.select(
            F.lit(BENCHMARKS).alias("sec"), block.alias("text"),
            F.struct(*key).alias("k_bench")))
    if rankings is not None:
        r, key = rankings_order_key(rankings)
        if fy is None:
            fy = _first_fy(r, key)
            if fy is None:
                fy = _first_fy(observations, obs_key)
        # every block carries the one resolved fiscal year, not its own
        r = r.withColumn("fy", F.lit(fy).cast("int"))
        parts.append(ranking_blocks(
            r, include_industry_scope, include_sector_scope,
        ).select(
            F.lit(RANKINGS).alias("sec"), ranking.alias("text"),
            F.struct(*key).alias("k_rank")))
    doc = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    keys = [c for c in doc.columns if c.startswith("k_")]
    # the hash exchange runs the repr UDFs once, in its map stage; the
    # range sort's sampling (and any re-sampling) job reads its output
    # instead of rendering every block again
    return doc.repartition("sec", *keys).orderBy("sec", *keys)


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
    """Write turtle_document as ordered text part files under `out_dir`
    in one `.text()` write; `concat_turtle_parts(out_dir)` ==
    turtle_text over the same frames."""
    turtle_document(
        companies, observations, benchmarks, rankings,
        include_industry_scope, include_sector_scope, fy,
    ).select("text").write.mode("overwrite").text(
        os.path.join(out_dir, "document"))
    return out_dir


def _pieces(out_dir: str) -> Iterator[str]:
    """The document's pieces in order, to be joined by "\\n": each
    `.txt` file under `out_dir` whole, then each non-empty `part-*` file
    of each directory with its final newline dropped. Read with
    newline="" so a "\\r" inside a literal comes back as written."""
    for name in sorted(os.listdir(out_dir)):
        path = os.path.join(out_dir, name)
        if os.path.isfile(path) and name.endswith(".txt"):
            files = [path]
        elif os.path.isdir(path):
            files = [os.path.join(path, p) for p in sorted(os.listdir(path))
                     if p.startswith("part-")]
        else:
            continue
        for file in files:
            with open(file, encoding="utf-8", newline="") as f:
                text = f.read()
            if file != path:
                if not text:
                    continue
                text = text[:-1] if text.endswith("\n") else text
            yield text


def concat_turtle_parts_to_file(out_dir: str, dest_path: str) -> str:
    """Stream the ordered pieces straight into `dest_path` without ever
    holding the whole document in driver memory — the deploy-path
    equivalent of `cat` over the sorted pieces. Peak memory = one part
    file (bounded by partition size), so this scales to documents far
    larger than driver RAM. Byte-identical to concat_turtle_parts."""
    with open(dest_path, "w", encoding="utf-8", newline="") as out:
        for i, text in enumerate(_pieces(out_dir)):
            if i:
                out.write("\n")
            out.write(text)
    return dest_path


def concat_turtle_parts(out_dir: str) -> str:
    """Reassemble the document from the ordered pieces (what a
    downstream consumer — or `cat` — does with the part files)."""
    return "\n".join(_pieces(out_dir))
