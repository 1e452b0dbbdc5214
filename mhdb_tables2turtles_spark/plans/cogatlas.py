"""Cognitive-Atlas assertion resolution: the reference's J4 (multi-table
priority fallback) and J5 (relation-type dispatch) operators as Spark
dataflow.

Reference semantics (/root/reference/mhdb/ingest.py:2521-2649): for each
assertion row ``(reln_type, startNode, endNode)``, resolve each node id
against five node tables **in priority order** (tasks → implementations →
indicators → conditions → contrasts), first hit wins, remembering which
table resolved it (that decides the IRI label style); then map
``reln_type`` to a predicate IRI, with per-type object-style overrides and
two extra triples for ASSERTS.  The reference executes this as five
boolean-mask scans per (row × side) inside a Python loop — O(rows × 10 ×
dim); here it is one union + row_number priority pick and two broadcast
joins.

Documented deviation: in the reference, the ASSERTS branch never assigns
``predicate_iri``, so ASSERTS rows silently reuse the predicate of the
previous loop iteration (a latent bug, SURVEY.md §5.2).  We implement the
clear intent: ASSERTS → ``:assertsCognitiveAtlasConcept``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.functions import udfs

__all__ = [
    "resolve_nodes",
    "assertion_triples",
    "RESOLUTION_ORDER",
    "RELN_PREDICATES",
]

# (table, value column, IRI label style), priority order
# (ingest.py:2534-2596; the xlsx worksheets mirror these CSVs)
RESOLUTION_ORDER = (
    ("tasks", "name", "PascalCase"),
    ("implementations", "implementation", "delimited"),
    ("indicators", "indicator", "delimited"),
    ("conditions", "condition", "delimited"),
    ("contrasts", "contrast", "delimited"),
)

# reln_type -> predicate IRI (ingest.py:2604-2641)
RELN_PREDICATES = {
    "ASSERTS": ":assertsCognitiveAtlasConcept",  # see deviation note above
    "HASCITATION": ":hasBibliographicCitation",
    "HASCONDITION": ":hasTaskCondition",
    "HASCONTRAST": ":hasTaskContrast",
    "HASIMPLEMENTATION": ":hasTaskImplementation",
    "HASINDICATOR": ":hasTaskIndicator",
    "KINDOF": ":isKindOf",
    "MEASUREDBY": ":measuredBy",
    "PARTOF": ":isPartOf",
}

# object-side style override per reln_type; None = keep the style of the
# table that resolved the node (ingest.py:2604-2641)
_OBJECT_STYLE = {
    "ASSERTS": "PascalCase",
    "KINDOF": "PascalCase",
    "PARTOF": "PascalCase",
    "HASCONTRAST": "delimited",
    "HASIMPLEMENTATION": "delimited",
    "HASINDICATOR": "delimited",
    "MEASUREDBY": "delimited",
}

def resolve_nodes(tables: dict[str, DataFrame]) -> DataFrame:
    """J4: (node_id, value, style) — first table in priority order that
    knows the node wins (union + row_number, replacing the reference's
    5 mask-scans per row)."""
    parts = []
    for rank, (name, _, style) in enumerate(RESOLUTION_ORDER):
        parts.append(
            tables[name].select(
                "node_id",
                "value",
                F.lit(style).alias("style"),
                F.lit(rank).alias("__rank"),
            )
        )
    allc = parts[0]
    for p in parts[1:]:
        allc = allc.unionByName(p)
    # secondary sort on value: duplicate node_id rows *within* one CSV
    # would otherwise resolve to an arbitrary row per run (the reference
    # deterministically takes its first matching row, .values[0])
    w = Window.partitionBy("node_id").orderBy("__rank", "value")
    return (
        allc.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("node_id", "value", "style")
    )


def assertion_triples(tables: dict[str, DataFrame]) -> DataFrame:
    """J5: assertions × resolved nodes -> (subject, predicate, object)
    triples, including the two ASSERTS side-triples about the object.

    The resolved-node table is small (ontology-sized) -> broadcast; the
    relationships stream is the only scan.
    """
    resolved = F.broadcast(resolve_nodes(tables))
    rel = tables["relationships"].filter(
        F.col("reln_type").isin(*RELN_PREDICATES)
    )

    j = (
        rel.join(
            resolved.withColumnRenamed("node_id", "startNode")
            .withColumnRenamed("value", "subj_value")
            .withColumnRenamed("style", "subj_style"),
            "startNode",
        )
        .join(
            resolved.withColumnRenamed("node_id", "endNode")
            .withColumnRenamed("value", "obj_value")
            .withColumnRenamed("style", "obj_style"),
            "endNode",
        )
        .filter(F.col("subj_value") != F.col("obj_value"))
    )

    obj_style = F.col("obj_style")
    for reln, style in _OBJECT_STYLE.items():
        obj_style = F.when(F.col("reln_type") == reln, F.lit(style)).otherwise(
            obj_style
        )
    pred = F.lit(None).cast("string")
    for reln, p in RELN_PREDICATES.items():
        pred = F.when(F.col("reln_type") == reln, F.lit(p)).otherwise(pred)

    base = j.select(
        udfs.iri_styled(F.col("subj_value"), F.col("subj_style")).alias("subject"),
        pred.alias("predicate"),
        udfs.iri_styled(F.col("obj_value"), obj_style).alias("object"),
    )

    asserts = j.filter(F.col("reln_type") == "ASSERTS")
    extra_class = asserts.select(
        udfs.iri(F.col("obj_value"), "PascalCase").alias("subject"),
        F.lit("rdfs:subClassOf").alias("predicate"),
        F.lit(":CognitiveAtlasConcept").alias("object"),
    )
    extra_label = asserts.select(
        udfs.iri(F.col("obj_value"), "PascalCase").alias("subject"),
        F.lit("rdfs:label").alias("predicate"),
        udfs.lang_literal(F.col("obj_value")).alias("object"),
    )
    return (
        base.unionByName(extra_class)
        .unionByName(extra_label)
        .filter(F.col("subject").isNotNull() & F.col("object").isNotNull())
        .distinct()
    )
