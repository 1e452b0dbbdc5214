"""Cluster-facing CLI driver for the web-scale KG pipeline.

The north rule's deployment shape (BASELINE.json: ``run via
spark-submit --py-files on a multi-executor cluster``) lands here:

    # on a cluster — spark-submit owns master/executors; the driver
    # script adds no master of its own
    zip -r pkg.zip mhdb_tables2turtles_spark
    spark-submit --py-files pkg.zip scripts/run_kg.py \
        --input s3://bucket/pages --workdir s3://bucket/kg \
        --vocab-ttl ontology.ttl --ttl

    # locally (tests / smoke)
    python -m mhdb_tables2turtles_spark \
        --synthesize 1000 --workdir kg \
        --vocab-ttl tests/data/ontology.ttl --count

Input is the north-rule pages table ``(url string, warc_ts timestamp,
html binary, text string, lang string)`` — either an existing
parquet/table path (``--input``) or a deterministic synthetic corpus
(``--synthesize N``, same generator the benchmarks use).  Every stage
commits through the staged materializer, so re-running the same command
after a kill resumes from the last committed stage.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def _parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="mhdb_tables2turtles_spark",
        description="Staged web-scale KG construction (extract -> linking "
        "-> triples -> canonicalize).",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument(
        "--input",
        help="path of the pages table (parquet; url/warc_ts/html/text/lang)",
    )
    src.add_argument(
        "--synthesize",
        type=int,
        metavar="N",
        help="generate a deterministic N-page synthetic corpus instead",
    )
    src.add_argument(
        "--workbooks",
        metavar="OUT_DIR",
        help="run the reference's run_all driver path instead: build all "
        "six workbook plans and write <OUT_DIR>/<workbook>.ttl",
    )
    p.add_argument(
        "--tables-root",
        default=None,
        help="workbooks mode: read worksheets from "
        "<root>/<workbook>/<Sheet>.parquet instead of the deterministic "
        "fixtures",
    )
    p.add_argument(
        "--owl-profile",
        action="store_true",
        help="workbooks mode: emit standards-compliant owl:Class/"
        "owl:ObjectProperty vocabulary instead of the reference's "
        "verbatim rdf:Class/rdf:Property tokens",
    )
    p.add_argument("--workdir", help="stage-output root (resumable; web mode)")
    p.add_argument(
        "--vocab-ttl",
        help="ontology Turtle file providing the vocabulary + profiles "
        "(web mode)",
    )
    p.add_argument("--seed", type=int, default=42, help="synthetic-corpus seed")
    p.add_argument(
        "--ttl", action="store_true", help="also write ordered Turtle shards"
    )
    p.add_argument(
        "--include-ontology",
        action="store_true",
        help="union the ontology graph into the triple stage",
    )
    p.add_argument(
        "--count",
        action="store_true",
        help="count canonical triples (extra job; skipped by default)",
    )
    p.add_argument(
        "--update-batch",
        metavar="BATCH_ID",
        default=None,
        help="apply --input as an incremental re-crawl epoch with this "
        "id (KGPipeline.update) instead of a base run; requires a "
        "committed base crawl in --workdir",
    )
    p.add_argument(
        "--master",
        default=None,
        help="Spark master override; omit under spark-submit so the "
        "cluster manager's setting wins",
    )
    p.add_argument(
        "--shuffle-partitions",
        type=int,
        default=None,
        help="spark.sql.shuffle.partitions override (cluster default "
        "otherwise; size to ~2x total executor cores)",
    )
    return p.parse_args(argv)


def build_session(args: argparse.Namespace) -> SparkSession:
    b = SparkSession.builder.appName("mhdb-tables2turtles-kg")
    if args.master:
        b = b.master(args.master)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
    )
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    return b.getOrCreate()


def main(argv: list[str] | None = None) -> int:
    args = _parse_args(argv)
    if not args.workbooks and not args.workdir:
        raise SystemExit("--workdir is required outside --workbooks mode")
    if not args.workbooks and not args.vocab_ttl:
        raise SystemExit("--vocab-ttl is required outside --workbooks mode")
    spark = build_session(args)

    if args.workbooks:
        from mhdb_tables2turtles_spark.plans.runner import run_all

        result = run_all(
            spark,
            args.workbooks,
            tables_root=args.tables_root,
            profile="owl" if args.owl_profile else "reference",
        )
        print(json.dumps({"workbooks": result}))
        return 0

    from mhdb_tables2turtles_spark.web.pipeline import KGPipeline, build_corpus

    if args.input:
        pages = spark.read.parquet(args.input)
    else:
        pages = build_corpus(
            spark, args.synthesize, seed=args.seed, ttl_path=args.vocab_ttl
        )

    pipe = KGPipeline(spark, args.workdir, ttl_path=args.vocab_ttl)
    if args.update_batch:
        out = pipe.update(pages, args.update_batch)
        stage_names = ("triples_epochs", f"components_{args.update_batch}")
    else:
        out = pipe.run(
            pages,
            include_ontology=args.include_ontology,
            write_turtle=args.ttl,
        )
        stage_names = ("extract", "triples", "canonical")
    summary = {
        "workdir": args.workdir,
        "epochs": pipe._epochs(),
        "stages": {
            s: {
                k: pipe.staged.manifest(s).get(k)
                for k in ("rows", "elapsed_sec", "n_partitions")
            }
            for s in stage_names
            if pipe.staged.is_committed(s)
        },
        "counters": out["counters"],
    }
    if args.count:
        summary["canonical_triples"] = out["canonical"].count()
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
