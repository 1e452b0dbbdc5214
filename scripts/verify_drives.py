#!/usr/bin/env python3
"""The /verify skill's three drives as one script (library surface,
not unit tests): golden-chills P/R vs the reference .ttl, the driver
entry smoke check, and the staged web KG pipeline incl. resume.

Drive 1 reads the reference checkout's ``output/chills.ttl``; where that
file is absent it prints a skip with the reason and drives 2 and 3 still
run.

Usage: python scripts/verify_drives.py   (prints VERIFY-DRIVES-OK)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def drive_golden(spark, tmp: str, golden_ttl: str) -> None:
    """Drive 1: chills golden pipeline via the library surface."""
    import pandas as pd

    from mhdb_tables2turtles_spark.operators.serialize import render_document
    from mhdb_tables2turtles_spark.operators.triples import (
        dedup_triples,
        filter_valid,
    )
    from mhdb_tables2turtles_spark.plans.chills import CHILLS_SPECS
    from mhdb_tables2turtles_spark.plans.sheetspec import workbook_triples
    from mhdb_tables2turtles_spark.sources.golden import (
        load_golden_triples,
        parse_turtle_body,
        reverse_fixture,
    )

    golden = load_golden_triples(golden_ttl)
    frames = reverse_fixture(golden)
    tables = {}
    for name, pdf in frames.items():
        pdf = pdf.copy()
        for c in pdf.columns:
            if c in ("index", "row_id"):
                pdf[c] = pd.to_numeric(pdf[c]).astype("int64")
            else:
                pdf[c] = pdf[c].astype(object).where(pdf[c].notna(), None)
                pdf[c] = pdf[c].map(lambda v: None if v is None else str(v))
        tables[name] = spark.createDataFrame(pdf)
    triples = dedup_triples(
        filter_valid(workbook_triples(tables, CHILLS_SPECS))
    )
    doc = render_document(
        triples,
        "http://www.purl.org/mentalhealth/chills",
        "0.1",
        "chills",
        "verify run",
    )
    with open(os.path.join(tmp, "chills.ttl"), "w", encoding="utf-8") as f:
        f.write(doc)
    ours = set(parse_turtle_body(doc))
    tp = len(ours & golden)
    p, r = tp / len(ours), tp / len(golden)
    print(f"golden chills: P={p:.4f} R={r:.4f} ours={len(ours)} golden={len(golden)}", flush=True)
    assert p >= 0.99 and r >= 0.99


def main() -> None:
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    tmp = tempfile.mkdtemp()

    from mhdb_tables2turtles_spark.sources.golden import REFERENCE_CHILLS_TTL

    if os.path.exists(REFERENCE_CHILLS_TTL):
        drive_golden(spark, tmp, REFERENCE_CHILLS_TTL)
    else:
        print(
            f"golden chills: skipped (input not found: {REFERENCE_CHILLS_TTL})",
            flush=True,
        )

    # Drive 2: driver contract smoke
    import __spark_entry__ as entry_mod

    df = entry_mod.entry(spark)
    print(f"entry rows: {df.count()} cols: {len(df.columns)}", flush=True)

    # Drive 3: web KG pipeline + resume
    from mhdb_tables2turtles_spark.web.pipeline import KGPipeline, build_corpus

    onto = os.path.join(REPO, "tests", "data", "ontology.ttl")
    wd = os.path.join(tmp, "work")
    pages = build_corpus(spark, 400, seed=7, ttl_path=onto, partitions=8)
    n1 = KGPipeline(spark, wd, ttl_path=onto).run(pages)["canonical"].count()
    n2 = KGPipeline(spark, wd, ttl_path=onto).run(pages)["canonical"].count()
    print(f"pipeline triples: {n1} resume: {n2} match: {n1 == n2}", flush=True)
    assert n1 == n2 and n1 > 0
    shutil.rmtree(tmp, ignore_errors=True)
    print("VERIFY-DRIVES-OK")


if __name__ == "__main__":
    main()
