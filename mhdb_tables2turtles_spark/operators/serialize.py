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

Both sinks render blocks in Spark (groupBy subject ->
array_sort(collect_list) -> concat).  A single document
(:func:`render_document`) is one collect of those blocks, which also
carry the term prefixes its header declares; the web path
(:func:`write_body_shards`) writes them as part-file shards, each
sorted by the same block order.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame
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


_TERMS = ("subject", "predicate", "object")
# total block order: first-emission key, then the block text (its
# leading subject is unique) for subjects that share a key
_BLOCK_KEY = ("block_order", "block")


def _term_prefix(term: Column) -> Column:
    """The prefix of a prefixed-name term, else null.  A term is one when
    it is no literal (``"``), IRIREF (``<``) or blank node (``_:``) and
    contains ``:`` but not ``://``; the base prefix ``:`` is not
    collected (reference: create_mhdb:244-259)."""
    prefix = F.substring_index(term, ":", 1)
    named = ~term.startswith('"') & ~term.startswith("<")
    named &= ~term.startswith("_:") & term.contains(":")
    named &= ~term.contains("://") & (prefix != "")
    return F.when(named, prefix)


def subject_blocks(triples: DataFrame) -> DataFrame:
    """Triples -> one rendered Turtle block per subject with a stable
    ``block_order`` struct for global ordering and the distinct term
    ``prefixes`` the block uses (pruned by the optimizer where no
    consumer reads it)."""
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
    prefixes = F.array_compact(
        F.array(*[_term_prefix(F.col(c)) for c in _TERMS])
    )
    return (
        triples.groupBy("subject")
        .agg(
            F.min(
                F.struct("sheet_rank", "row_id", "pred_rank")
            ).alias("block_order"),
            F.array_sort(F.collect_list(pair)).alias("pairs"),
            F.array_distinct(F.flatten(F.collect_list(prefixes))).alias(
                "prefixes"
            ),
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
            "prefixes",
        )
    )


def _block_key(row) -> tuple:
    """Driver-side sort key equal to Spark's ascending ``_BLOCK_KEY``
    order: fields compare left to right, nulls first."""
    return tuple((v is not None, v) for v in (*row.block_order, row.block))


def write_body_shards(triples: DataFrame, path: str) -> None:
    """Write the body as ordered text part-files (one block per record,
    blocks separated by a blank line when concatenated)."""
    (
        subject_blocks(triples)
        .sortWithinPartitions(*_BLOCK_KEY)
        .select(F.concat(F.col("block"), F.lit("\n")).alias("value"))
        .write.mode("overwrite")
        .text(path)
    )


def used_prefixes(triples: DataFrame) -> set[str]:
    """Distinct term prefixes of a triple table, for a writer that does
    not collect :func:`subject_blocks`."""
    rows = (
        triples.select(F.explode(F.array(*_TERMS)).alias("term"))
        .select(_term_prefix(F.col("term")).alias("prefix"))
        .filter(F.col("prefix").isNotNull())
        .distinct()
        .collect()
    )
    return {r.prefix for r in rows}


def prefix_dict(table: "dict[str, str] | DataFrame | None") -> dict[str, str]:
    """A ``{prefix: iri}`` table from a dict or from the resources
    workbook's ``ontologies`` sheet (columns ``prefix``, ``iri``;
    reference driver: create_mhdb:370-388), trimmed, without null or
    empty prefixes and null IRIs; a prefix listed twice keeps its
    greatest IRI."""
    if not isinstance(table, DataFrame):
        return dict(table or {})
    rows = (
        table.select(
            F.trim(F.col("prefix")).alias("prefix"),
            F.trim(F.col("iri")).alias("iri"),
        )
        .filter(
            F.col("prefix").isNotNull()
            & F.col("iri").isNotNull()
            & (F.length("prefix") > 0)
        )
        .collect()
    )
    return dict(sorted((r.prefix, r.iri) for r in rows))


def resolve_used_prefixes(
    used: Iterable[str], known: dict, on_unknown: str = "skip"
) -> list[tuple[str, str]]:
    """Used term prefixes resolved against a ``{prefix: iri}`` table ->
    ordered (prefix, iri) pairs for the header, excluding the fixed
    prefixes.

    ``on_unknown="raise"`` fails loudly when a triple uses a prefix the
    table cannot declare — the artifact would be undeclared-prefix
    Turtle, invalid to any strict parser; write paths with no separate
    validation step must use this mode.
    """
    fixed = {p for p, _ in FIXED_PREFIXES}
    pairs: list[tuple[str, str]] = []
    unknown: list[str] = []
    for p in sorted(set(used) - fixed):
        if p in known:
            pairs.append((p, known[p]))
        else:
            unknown.append(p)
    if unknown and on_unknown == "raise":
        raise ValueError(
            "triples use prefixes with no known declaration "
            f"(header would be invalid Turtle): {unknown}"
        )
    return pairs


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
    """Full Turtle document: header (with the used prefixes resolved
    against ``prefix_table``, see :func:`prefix_dict`) + body, from one
    collect of :func:`subject_blocks`."""
    blocks = sorted(subject_blocks(triples).collect(), key=_block_key)
    used = resolve_used_prefixes(
        {p for b in blocks for p in b.prefixes}, prefix_dict(prefix_table)
    )
    body = "\n\n".join(b.block for b in blocks)
    return render_header(base_uri, version, label, comment, used) + body
