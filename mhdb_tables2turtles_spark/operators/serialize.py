"""Turtle serialization of a triple DataFrame.

Reproduces the reference's document layout (``turtle_from_dict``
/root/reference/mhdb/write_ttl.py:263-324, ``write_header`` :387-431,
driver header lines /root/reference/mhdb/create_mhdb:390-396):

* one block per subject: ``subj p1 o1 ;\\n\\tp2 o2 .``, blocks joined by
  blank lines; one ``pred obj`` pair per line (predicates repeat rather
  than grouping objects with ``,`` -- verified in the golden output);
* 4 fixed PREFIX lines + harvested ontology prefixes + base prefix +
  ``owl:Ontology`` version block.

Where the reference's order is dict-insertion + Python-set hash order
(nondeterministic per run), ours is a total order over the triple set:
blocks sort by their first-emission ``(sheet_rank, row_id, pred_rank)``
key, ties (several subjects minted by one emission, e.g. the response
options of one question) broken by the block text, which starts with
its unique subject; pairs sort by the same key, then object and
predicate.  The bytes depend only on the deduped triples and their
order keys, never on the plan that produced them.  Equivalence with the
reference is judged as set-of-triples P/R.

Scale path: the body is computed distributed (groupBy subject ->
sort_array(collect_list) -> concat); small outputs collect via
``toLocalIterator``, large outputs write ordered part-file shards.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FIXED_PREFIXES = (
    ("owl", "http://www.w3.org/2002/07/owl#"),
    ("rdf", "http://www.w3.org/1999/02/22-rdf-syntax-ns#"),
    ("rdfs", "http://www.w3.org/2000/01/rdf-schema#"),
    ("xsd", "https://www.w3.org/2009/XMLSchema/XMLSchema#"),
)

# Standards-compliant OWL vocabulary for the reference's nonstandard
# tokens.  The reference's live writer (write_ttl.py) emits `a rdf:Class`
# / `a rdf:Property` / `rdfs:equivalentProperty` (all preserved verbatim
# by default, for golden parity); its legacy serializer documents the
# INTENDED vocabulary — owl:Class / owl:ObjectProperty /
# owl:equivalentProperty (/root/reference/mhdb/write_rdf.py:90-96
# rdf_type choices, :182-185 owl:equivalentProperty).
_OWL_TYPE_MAP = (
    ("rdf:Class", "owl:Class"),
    ("rdf:Property", "owl:ObjectProperty"),
)
_OWL_PRED_MAP = (
    ("rdfs:equivalentProperty", "owl:equivalentProperty"),
)


def owl_profile(triples: DataFrame) -> DataFrame:
    """Rewrite the reference's nonstandard RDF vocabulary to the
    standards-compliant OWL profile its legacy serializer documents
    (write_rdf.py): type objects ``rdf:Class``/``rdf:Property`` become
    ``owl:Class``/``owl:ObjectProperty``, the predicate
    ``rdfs:equivalentProperty`` becomes ``owl:equivalentProperty``, and
    the lowercase ``^^rdfs:literal`` datatype is normalized to
    ``^^rdfs:Literal``.

    Pure column maps (when-chains + one regexp) — row-local, zero
    shuffle, applied before serialization.  Default OFF everywhere:
    golden parity requires the verbatim reference tokens.
    """
    obj = F.col("object")
    is_type = F.col("predicate").isin("a", "rdf:type")
    for old, new in _OWL_TYPE_MAP:
        obj = F.when(is_type & (F.col("object") == old), new).otherwise(obj)
    obj = F.regexp_replace(obj, r"\^\^rdfs:literal\b", "^^rdfs:Literal")
    pred = F.col("predicate")
    for old, new in _OWL_PRED_MAP:
        pred = F.when(F.col("predicate") == old, new).otherwise(pred)
    return triples.select(
        *[
            pred.alias("predicate") if c == "predicate"
            else obj.alias("object") if c == "object"
            else c
            for c in triples.columns
        ]
    )


# total block order: first-emission key, then the block text (its
# leading subject is unique) for subjects that share a key
_BLOCK_KEY = ("block_order", "block")


def subject_blocks(triples: DataFrame) -> DataFrame:
    """Triples -> one rendered Turtle block per subject with a stable
    ``block_order`` struct for global ordering."""
    has_order = "sheet_rank" in triples.columns
    if not has_order:
        triples = (
            triples.withColumn("sheet_rank", F.lit(0))
            .withColumn("row_id", F.lit(0).cast("long"))
            .withColumn("pred_rank", F.lit(0))
        )
    pair = F.struct(
        F.col("sheet_rank"),
        F.col("row_id"),
        F.col("pred_rank"),
        F.col("object").alias("o"),
        F.col("predicate").alias("p"),
    )
    return (
        triples.groupBy("subject")
        .agg(
            F.min(
                F.struct("sheet_rank", "row_id", "pred_rank")
            ).alias("block_order"),
            F.array_sort(F.collect_list(pair)).alias("pairs"),
        )
        .select(
            "block_order",
            F.concat(
                F.col("subject"),
                F.lit(" "),
                F.array_join(
                    F.transform(
                        F.col("pairs"),
                        lambda x: F.concat(x["p"], F.lit(" "), x["o"]),
                    ),
                    " ;\n\t",
                ),
                F.lit(" ."),
            ).alias("block"),
        )
    )


def render_body(triples: DataFrame) -> str:
    """Collect the full body string on the driver (small graphs / tests).

    At web scale use :func:`write_body_shards` instead.
    """
    rows = subject_blocks(triples).orderBy(*_BLOCK_KEY).select("block")
    return "\n\n".join(r.block for r in rows.toLocalIterator())


def write_body_shards(triples: DataFrame, path: str, shards: int = 0) -> None:
    """Write the body as ordered text part-files (one block per record,
    blocks separated by a blank line when concatenated)."""
    blocks = subject_blocks(triples)
    if shards:
        blocks = blocks.repartitionByRange(shards, *_BLOCK_KEY)
    (
        blocks.sortWithinPartitions(*_BLOCK_KEY)
        .select(F.concat(F.col("block"), F.lit("\n")).alias("value"))
        .write.mode("overwrite")
        .text(path)
    )


def used_prefixes_df(triples: DataFrame) -> DataFrame:
    """Distinct prefix tokens used in any s/p/o: contains ``:``, not
    ``://``, not a literal (reference: create_mhdb:244-259).  Stays a
    DataFrame so the ontologies-sheet resolution is a join, not a
    driver-side dict probe."""
    col = F.col("term")
    return (
        triples.select(
            F.explode(F.array("subject", "predicate", "object")).alias("term")
        )
        .filter(
            col.contains(":")
            & ~col.contains("://")
            & ~col.startswith('"')
        )
        .select(F.split(col, ":").getItem(0).alias("prefix"))
        .filter(F.length("prefix") > 0)
        .distinct()
    )


def harvest_prefixes(triples: DataFrame) -> list[str]:
    """Driver-side list form of :func:`used_prefixes_df` (prefix-count
    sized — tiny)."""
    return sorted(r.prefix for r in used_prefixes_df(triples).collect())


def resolve_prefixes(
    triples: DataFrame, ontologies: DataFrame
) -> list[tuple[str, str]]:
    """Join harvested prefixes against the resources workbook's
    ``ontologies`` sheet (columns ``prefix``, ``iri``; reference driver:
    create_mhdb:370-388) -> ordered (prefix, iri) pairs for the header.

    The sheet is ontology-sized -> broadcast; the only scan is the triple
    stream the prefixes are harvested from."""
    onto = ontologies.select(
        F.trim(F.col("prefix")).alias("prefix"),
        F.trim(F.col("iri")).alias("iri"),
    ).filter(
        F.col("prefix").isNotNull()
        & F.col("iri").isNotNull()
        & (F.length("prefix") > 0)
    )
    rows = (
        used_prefixes_df(triples)
        .join(F.broadcast(onto), "prefix")
        .distinct()
        .collect()
    )
    return sorted((r.prefix, r.iri) for r in rows)


def resolve_used_prefixes(
    triples: DataFrame, known: dict, on_unknown: str = "skip"
) -> list[tuple[str, str]]:
    """Harvested triple prefixes resolved against a ``{prefix: iri}``
    table -> ordered (prefix, iri) pairs for the header, excluding the
    fixed and base prefixes.

    ``on_unknown="raise"`` fails loudly when a triple uses a prefix the
    table cannot declare — the artifact would be undeclared-prefix
    Turtle, invalid to any strict parser; write paths with no separate
    validation step must use this mode.
    """
    fixed = {p for p, _ in FIXED_PREFIXES} | {""}
    used: list[tuple[str, str]] = []
    unknown: list[str] = []
    for p in harvest_prefixes(triples):
        if p in fixed:
            continue
        if p in known:
            used.append((p, known[p]))
        else:
            unknown.append(p)
    if unknown and on_unknown == "raise":
        raise ValueError(
            "triples use prefixes with no known declaration "
            f"(header would be invalid Turtle): {sorted(unknown)}"
        )
    return used


def render_header(
    base_uri: str,
    version: str,
    label: str,
    comment: str,
    prefixes: Iterable[Sequence[str]] = (),
) -> str:
    """Fixed PREFIX lines + ontology prefixes + base prefix + owl:Ontology
    block, byte-compatible with the reference's header."""
    out = "".join(
        "PREFIX {}: <{}> \n".format(p, iri) for p, iri in FIXED_PREFIXES
    )
    body = "".join(
        "PREFIX {}: <{}> \n".format(p[0], p[1]) for p in prefixes
    )
    body += "\nPREFIX : <{}#> \n".format(base_uri)
    body += (
        "<{0}> a owl:Ontology ;\n"
        "    owl:versionIRI <{0}/{1}> ;\n"
        '    owl:versionInfo "{1}"^^rdfs:Literal ;\n'
        '    rdfs:label "{2}"^^rdfs:Literal ;\n'
        '    rdfs:comment """{3}"""@en .\n\n'
    ).format(base_uri, version, label, comment)
    return out + body


def render_document(
    triples: DataFrame,
    base_uri: str,
    version: str,
    label: str,
    comment: str,
    prefix_table: "dict[str, str] | DataFrame | None" = None,
) -> str:
    """Full Turtle document: header (with harvested prefixes resolved
    against ``prefix_table``) + body.

    ``prefix_table`` is either the resources workbook's ``ontologies``
    sheet as a DataFrame (columns ``prefix``/``iri`` — the plan form,
    resolved via :func:`resolve_prefixes`) or a plain dict."""
    if isinstance(prefix_table, DataFrame):
        fixed = {p for p, _ in FIXED_PREFIXES} | {""}
        used = [
            (p, iri)
            for p, iri in resolve_prefixes(triples, prefix_table)
            if p not in fixed
        ]
    else:
        used = resolve_used_prefixes(triples, prefix_table or {})
    return render_header(base_uri, version, label, comment, used) + render_body(
        triples
    )

