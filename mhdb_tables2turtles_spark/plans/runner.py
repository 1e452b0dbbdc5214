"""run_all driver parity: build every reference workbook's Turtle file.

The reference's entry point (``create_mhdb:175-218``) dispatches over six
ingest pipelines and writes one ``.ttl`` per workbook (``run_all=1``
mode; the shipped config runs only chills).  This module is that driver
re-expressed over the declared plans: one registry mapping workbook name
-> (triple builder, fixture frames), a parquet loader for real
deployments, and :func:`run_all` writing ``<name>.ttl`` per workbook.

Input resolution per workbook:

* ``tables_root`` given — read ``<root>/<workbook>/<Sheet>.parquet`` per
  sheet (the production path: worksheets pre-materialized as parquet,
  SURVEY.md §2.1 S1/S2).  Missing ``row_id`` columns are rejected — the
  stable source-row ordinal is part of the contract (serialization order
  + W1 numbering).
* no ``tables_root`` — deterministic fixtures: the chills workbook is
  reverse-engineered from the committed golden output
  (``sources/golden.py``), the other five come from
  ``sources/workbooks.py`` (the same frames the reference-execution
  parity tests run).
"""

from __future__ import annotations

import os
from typing import Mapping

from pyspark.sql import DataFrame, SparkSession

from mhdb_tables2turtles_spark.operators.serialize import (
    owl_profile,
    prefix_dict,
    render_document,
    render_header,
)
from mhdb_tables2turtles_spark.operators.triples import (
    dedup_triples,
    filter_valid,
)
from mhdb_tables2turtles_spark.plans.assessments import assessments_triples
from mhdb_tables2turtles_spark.plans.chills import CHILLS_SPECS
from mhdb_tables2turtles_spark.plans.disorders import disorders_triples
from mhdb_tables2turtles_spark.plans.measures import MEASURES_SPECS
from mhdb_tables2turtles_spark.plans.resources import resources_triples
from mhdb_tables2turtles_spark.plans.sheetspec import workbook_triples
from mhdb_tables2turtles_spark.plans.states import STATES_SPECS
from mhdb_tables2turtles_spark.sources import workbooks as wb
from mhdb_tables2turtles_spark.sources.golden import (
    REFERENCE_CHILLS_TTL,
    fixture_spark_tables,
    load_golden_triples,
    reverse_fixture,
)

__all__ = ["WORKBOOKS", "load_workbook_tables", "build_workbook", "run_all"]


# name -> (triples builder, fixture frames builder); insertion order is
# the reference driver's dispatch order (create_mhdb:175-218)
WORKBOOKS: dict[str, tuple] = {
    "states": (lambda t: workbook_triples(t, STATES_SPECS), wb.states_frames),
    "disorders": (disorders_triples, wb.disorders_frames),
    "resources": (resources_triples, wb.resources_frames),
    "assessments": (assessments_triples, wb.assessments_frames),
    "measures": (lambda t: workbook_triples(t, MEASURES_SPECS), wb.measures_frames),
    "chills": (
        lambda t: workbook_triples(t, CHILLS_SPECS),
        lambda: reverse_fixture(load_golden_triples(REFERENCE_CHILLS_TTL)),
    ),
}


def load_workbook_tables(
    spark: SparkSession, name: str, tables_root: str | None = None
) -> dict[str, DataFrame]:
    """Worksheet tables for one workbook: parquet under ``tables_root``
    (production) or deterministic fixtures (demo/test)."""
    if tables_root is not None:
        wb_dir = os.path.join(tables_root, name)
        tables = {}
        for fn in sorted(os.listdir(wb_dir)):
            if not fn.endswith(".parquet"):
                continue
            sheet = fn[: -len(".parquet")]
            df = spark.read.parquet(os.path.join(wb_dir, fn))
            if "row_id" not in df.columns:
                raise ValueError(
                    f"{name}/{sheet}: missing required 'row_id' column "
                    "(stable source-row ordinal)"
                )
            tables[sheet] = df
        return tables
    frames = WORKBOOKS[name][1]()
    if name == "chills":
        return fixture_spark_tables(spark, frames)
    return wb.spark_tables(spark, frames)


def build_workbook(
    spark: SparkSession,
    name: str,
    tables: Mapping[str, DataFrame] | None = None,
    tables_root: str | None = None,
) -> DataFrame:
    """Deduped triple DataFrame for one workbook plan."""
    if tables is None:
        tables = load_workbook_tables(spark, name, tables_root)
    build = WORKBOOKS[name][0]
    return dedup_triples(filter_valid(build(tables)))


def run_all(
    spark: SparkSession,
    out_dir: str,
    tables_root: str | None = None,
    base_uri: str = "http://www.purl.org/mentalhealth",
    version: str = "0.1.0",
    profile: str = "reference",
) -> dict[str, dict]:
    """Build and write ``<out_dir>/<workbook>.ttl`` for every workbook —
    the reference's ``run_all=1`` driver path.  Returns per-workbook
    triple counts and output paths.

    Every rendered document runs through the strict Turtle grammar
    checker before the atomic write — the Spark analogue of the
    reference's external-parser pass
    (/root/reference/validate_turtle_files.sh:12-24); ``n_triples`` is
    its pair count less the header's.  A document that fails (e.g. a
    worksheet cell containing a bare backslash, which the reference's
    escape chain — reproduced verbatim for parity — passes through into
    the literal) is NOT written; its ``validation_error`` is recorded in
    the result and the remaining workbooks still build, so one bad cell
    never turns the whole driver run into a crash with no artifacts.
    Likewise a workbook whose input file is missing (the chills fixture
    reads the reference's golden ``chills.ttl``) is skipped with a
    ``skipped`` reason naming the file; the resources ``ontologies``
    sheet, which every header needs, stays required.

    ``profile="owl"`` rewrites the reference's nonstandard vocabulary
    (``rdf:Class``/``rdf:Property``/``rdfs:equivalentProperty``) to the
    standards-compliant OWL tokens its legacy serializer documents
    (write_rdf.py) via :func:`operators.serialize.owl_profile`; the
    default ``"reference"`` preserves the verbatim tokens for golden
    parity.

    Writes are atomic (tmp file + ``os.replace``) and the builds are
    deterministic, so a run killed between workbooks simply re-runs:
    completed ``.ttl`` files are byte-identically rewritten, partial
    ``.tmp`` files are overwritten, and no reader ever sees a torn file.

    The per-workbook graphs are ontology-sized (the web-scale path is
    ``web/pipeline.py``), so each document is one collect of its plan.
    """
    from mhdb_tables2turtles_spark.operators.validate import (
        TurtleSyntaxError,
        validate_turtle,
    )

    os.makedirs(out_dir, exist_ok=True)
    # prefix table: the resources workbook's `ontologies` sheet, exactly
    # like the reference driver (create_mhdb:370-388) — every workbook's
    # header resolves its used prefixes against this one sheet
    ontologies = prefix_dict(
        load_workbook_tables(spark, "resources", tables_root).get("ontologies")
    )
    header_pairs = validate_turtle(render_header(base_uri, version, "h", "h"))
    out: dict[str, dict] = {}
    for name in WORKBOOKS:
        path = os.path.join(out_dir, f"{name}.ttl")
        info = out[name] = {
            "path": None,
            "n_triples": None,
            "n_pairs_validated": None,
            "validation_error": None,
            "skipped": None,
        }
        try:
            tables = load_workbook_tables(spark, name, tables_root)
        except FileNotFoundError as exc:
            # a missing input skips this workbook only
            info["skipped"] = f"input not found: {exc.filename or exc}"
        else:
            triples = build_workbook(spark, name, tables)
            if profile == "owl":
                triples = owl_profile(triples)
            doc = render_document(
                triples,
                f"{base_uri}/{name}",
                version,
                name,
                f"mhdb {name} workbook (PySpark plan)",
                prefix_table=ontologies,
            )
            try:
                pairs = validate_turtle(doc)
            except TurtleSyntaxError as exc:
                info["validation_error"] = str(exc)
            else:
                info["n_pairs_validated"] = pairs
                info["n_triples"] = pairs - header_pairs
                tmp = path + ".tmp"
                with open(tmp, "w", encoding="utf-8") as f:
                    f.write(doc)
                os.replace(tmp, path)
                info["path"] = path
        if info["path"] is None and os.path.exists(path):
            # disk must match the returned path=None: a stale .ttl from
            # an earlier successful run would otherwise be picked up by
            # consumers globbing out_dir
            os.remove(path)
    return out
