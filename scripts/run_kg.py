#!/usr/bin/env python3
"""Deployable KG pipeline entrypoint for `spark-submit --py-files`.

    spark-submit --py-files efin_spark.zip scripts/run_kg.py \
        --fy 2024 --out /tmp/kg_out [--pages-dir <parquet dir>] \
        [--n-companies 240]

Reads a pages parquet table (or synthesizes the deterministic panel),
runs extraction -> fact parsing -> selection -> derivation ->
aggregation -> triples, and writes the triples table + canonical
Turtle + lineage-style run metadata under --out.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--fy", type=int, default=2024)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pages-dir", default=None)
    ap.add_argument(
        "--pages-warc", default=None,
        help="read input pages from WARC files (glob; plain or "
             "Common-Crawl member-per-record gzip) instead of parquet "
             "or the synthetic panel",
    )
    ap.add_argument("--n-companies", type=int, default=12)
    ap.add_argument("--include-industry-scope", action="store_true")
    ap.add_argument("--include-sector-scope", action="store_true")
    ap.add_argument("--fy-tol-days", type=int, default=90)
    ap.add_argument("--prefer-unit", default="USD")
    ap.add_argument("--metrics", nargs="+", default=["all"])
    ap.add_argument("--skip-derived", action="store_true")
    ap.add_argument(
        "--resume-dir", default=None,
        help="per-bucket lineage directory: a killed run restarted with "
             "the same dir reprocesses only unfinished buckets",
    )
    ap.add_argument(
        "--incremental-store", default=None,
        help="company-grain store directory (plans/incremental.py): "
             "maintenance mode — only companies whose page content "
             "changed since the stored generation are re-derived; the "
             "triples table and Turtle render from the patched store "
             "(byte-identical to a full rebuild)",
    )
    ap.add_argument(
        "--expire-keep", type=int, default=None,
        help="with --incremental-store: after a patch commit, expire "
             "all but the newest N triple-table snapshots and delete "
             "unreferenced data files (bounds rolling-crawl storage; "
             "default keeps every snapshot for time travel)",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("efin-kg").getOrCreate()
    # size shuffles to the cluster when the submitter left the stock
    # default (200 partitions drown a small job in empty tasks and
    # under-split a big one; defaultParallelism tracks executor cores).
    # An EXPLICIT --conf spark.sql.shuffle.partitions=200 is honored:
    # the submitted SparkConf records explicit settings, so "200 because
    # the operator asked" is distinguishable from "200 because nobody
    # set it".
    sp_key = "spark.sql.shuffle.partitions"
    if not spark.sparkContext.getConf().contains(sp_key):
        resized = str(max(8, spark.sparkContext.defaultParallelism))
        print(f"# {sp_key} unset -> {resized} (defaultParallelism)")
        spark.conf.set(sp_key, resized)

    from edgar_finance_ontology_spark.emit.triples import build_triples
    from edgar_finance_ontology_spark.emit.turtle_writer import (
        concat_turtle_parts_to_file, write_turtle_document,
    )
    from edgar_finance_ontology_spark.plans.pipeline import run_pipeline
    from edgar_finance_ontology_spark.plans.web_pipeline import (
        pages_to_inputs,
    )
    from edgar_finance_ontology_spark.sources.pages import synthesize_pages

    t0 = time.monotonic()
    if args.pages_warc:
        from edgar_finance_ontology_spark.sources.warc import (
            read_warc_files,
        )

        pages = read_warc_files(spark, args.pages_warc)
    elif args.pages_dir:
        pages = spark.read.parquet(args.pages_dir)
    else:
        pages = synthesize_pages(spark, n_companies=args.n_companies)
    if args.incremental_store:
        from edgar_finance_ontology_spark.plans.incremental import (
            run_incremental,
        )

        t = run_incremental(
            spark, pages, args.fy, args.incremental_store,
            include_industry_scope=args.include_industry_scope,
            include_sector_scope=args.include_sector_scope,
            expire_keep=args.expire_keep,
            tol_days=args.fy_tol_days, prefer_unit=args.prefer_unit,
        )
        companies = t["companies"]
        print(f"# incremental: {json.dumps(t['metrics'])}")
        trip = t["triples"]
    elif args.resume_dir:
        from edgar_finance_ontology_spark.plans.web_pipeline import (
            run_web_pipeline_resumable,
        )

        t = run_web_pipeline_resumable(
            pages, fy=args.fy, run_dir=args.resume_dir,
            tol_days=args.fy_tol_days, prefer_unit=args.prefer_unit,
        )
        companies = t["companies"]
        facts = t["facts"]
    else:
        facts, companies = pages_to_inputs(pages)
        t = run_pipeline(
            facts, companies, fy=args.fy, tol_days=args.fy_tol_days,
            prefer_unit=args.prefer_unit,
        )
    if not args.incremental_store:
        trip = build_triples(
            t["observations"], companies, t["benchmarks"], t["rankings"],
            fy=args.fy,
            include_industry_scope=args.include_industry_scope,
            include_sector_scope=args.include_sector_scope,
        )
    # predicate-partitioned triple table (the classic vertical
    # partitioning for RDF on columnar storage — one partition per
    # bounded-vocabulary predicate, so pred-filtered scans prune whole
    # directories; the parquet analog of the partitioned Iceberg triple
    # table in the design). repartitionByRange(pred, subj) keeps files
    # aligned with predicate boundaries and splits the heavy predicates
    # (rdf:type, efin:hasValue) across subj ranges instead of one file.
    from pyspark.sql import functions as F

    trip.repartitionByRange(F.col("pred"), F.col("subj")).write.mode(
        "overwrite"
    ).partitionBy("pred").parquet(f"{args.out}/triples")
    n = spark.read.parquet(f"{args.out}/triples").count()

    # fully distributed Turtle render: every block renders natively in
    # executors from the triple families' entry arrays, and the whole
    # document lands as ordered text part-files of one range-sorted
    # write; the driver only streams the part files into one file (peak
    # driver memory = one part, not the document). Byte-identical to
    # the reference's --emit-ttl output — parity-tested in
    # tests/test_run_kg.py. No toPandas() executes anywhere in this
    # deploy flow.
    # a re-run with the same --out must never concatenate STALE pieces
    # from a previous run into instances.ttl
    import shutil

    shutil.rmtree(f"{args.out}/ttl_parts", ignore_errors=True)
    write_turtle_document(
        f"{args.out}/ttl_parts", companies, t["observations"],
        t["benchmarks"], t["rankings"], fy=args.fy,
        include_industry_scope=args.include_industry_scope,
        include_sector_scope=args.include_sector_scope,
    )
    concat_turtle_parts_to_file(
        f"{args.out}/ttl_parts", f"{args.out}/instances.ttl"
    )

    # the schema document the instances owl:import — shipped alongside
    # so the emitted graph loads standalone in any RDF store, plus the
    # minimal FIBO-BE module the schema's own owl:imports resolves to
    from edgar_finance_ontology_spark.vocab.schema_ttl import (
        write_fibo_be_module, write_schema,
    )

    write_schema(f"{args.out}/efin_schema.ttl")
    os.makedirs(f"{args.out}/imports", exist_ok=True)
    write_fibo_be_module(f"{args.out}/imports/fibo-be.ttl")

    meta = {"fy": args.fy, "n_triples": n,
            "wall_sec": round(time.monotonic() - t0, 3)}
    with open(f"{args.out}/run_meta.json", "w") as f:
        json.dump(meta, f)
    print(json.dumps(meta))
    spark.stop()


if __name__ == "__main__":
    main()
