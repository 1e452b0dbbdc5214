"""F7 compound disorder labels: display label, IRI seed, side triples."""

from __future__ import annotations

from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions.strings import format_iri
from mhdb_tables2turtles_spark.operators.compound import (
    compound_columns,
    fragment_rows,
)
from mhdb_tables2turtles_spark.operators.triples import emit_rows


def _row(spark, **over):
    base = {
        "disorder": "Major Depressive Disorder",
        "ICD9CM": "296.21",
        "ICD10CM": None,
        "diagnostic_specifier": "With Anxious Distress",
        "inclusion_criterion": None,
        "inclusion_criterion2": None,
        "exclusion_criterion": None,
        "exclusion_criterion2": None,
        "severity": "Mild",
    }
    base.update(over)
    cols = list(base)
    schema = ", ".join(f"`{c}` string" for c in cols)
    return spark.createDataFrame([tuple(base[c] for c in cols)], schema)


def test_compound_label_matches_reference_algorithm(spark):
    df = _row(spark)
    label, iri = compound_columns(F.col("disorder"))
    got = df.select(label.alias("l"), iri.alias("i")).first()
    # replay of the reference's incremental appends (ingest.py:658-736)
    want_label = (
        "Major Depressive Disorder; ICD9CM:296.21"
        "; specifier: With Anxious Distress; severity: Mild"
    )
    want_seed = (
        "Major Depressive Disorder ICD9 296.21"
        " specifier With Anxious Distress severity Mild"
    )
    assert got.l == want_label
    assert got.i == format_iri(want_seed, "PascalCase")


def test_absent_fragments_are_skipped(spark):
    df = _row(spark, ICD9CM=None, diagnostic_specifier=None, severity=None)
    label, iri = compound_columns(F.col("disorder"))
    got = df.select(label.alias("l"), iri.alias("i")).first()
    assert got.l == "Major Depressive Disorder"
    assert got.i == ":MajorDepressiveDisorder"


def test_side_triples(spark):
    _, iri = compound_columns(F.col("disorder"))
    df = _row(spark).withColumn("__subject", iri).withColumn("row_id", F.lit(0))
    triples = {
        (r.subject, r.predicate, r.object, r.pred_rank)
        for r in emit_rows(df, 0, fragment_rows(5)).collect()
    }
    subj = df.first()["__subject"]
    # ranks follow fragment order: ICD9CM is the first, severity the eighth
    assert triples == {
        (subj, ":hasICD9Code", "ICD9CM:296.21", 5),
        (subj, ":hasDiagnosticSpecifier", ":WithAnxiousDistress", 7),
        (subj, ":hasSeverity", ":Mild", 12),
    }
