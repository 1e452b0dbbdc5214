"""Mention detection and page triples for the web KG path.

:func:`extract_pages` is the path's one Python pass per page: one
Arrow-batched ``mapInPandas`` extracts the text, mints the page IRI and
runs the token-index matcher (:mod:`trie`; match-set-identical to the
Aho-Corasick reference, differential-tested), with the surface list in
a Spark broadcast and the matcher memoized per worker.  Downstream is
JVM-only: mentions are an explode of its ``surfaces`` column and
:func:`page_entity_triples` is one grouped pass.  :func:`scan_mentions`
scans an already-extracted ``text`` column (the catalog) with
the same per-text helper.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mhdb_tables2turtles_spark.functions.strings import format_iri
from mhdb_tables2turtles_spark.web.extract import extract_text
from mhdb_tables2turtles_spark.web.trie import matcher_for

__all__ = ["extract_pages", "scan_mentions", "page_entity_triples"]


def _scan(texts, patterns: tuple[str, ...]) -> list:
    """Per text, the surface of every vocabulary match, in order (none
    for a null or empty text)."""
    matcher = matcher_for(patterns)
    return [
        [patterns[i] for _, _, i in matcher.find_words(t.lower())] if t else []
        for t in texts
    ]


def extract_pages(pages: DataFrame, surfaces: tuple[str, ...]) -> DataFrame:
    """pages(url, html) -> (url, text, subject, surfaces):
    ``extract_text(html)`` byte for byte, the page IRI
    ``format_iri(url)``, and one ``surfaces`` entry per row
    :func:`scan_mentions` would emit for the page (none for null html).
    Only what linking and :func:`page_entity_triples` read crosses the
    stage boundary.  ``surfaces`` must be lowercase."""
    bc = pages.sparkSession.sparkContext.broadcast(tuple(surfaces))
    schema = (
        T.StructType([pages.schema["url"]])
        .add("text", "string")
        .add("subject", "string")
        .add("surfaces", T.ArrayType(T.StringType()))
    )

    def kernel(batches):
        for pdf in batches:
            text = pdf["html"].map(extract_text)
            yield pdf[["url"]].assign(
                text=text,
                subject=pdf["url"].map(format_iri, na_action="ignore"),
                surfaces=_scan(text, bc.value),
            )

    return pages.select("url", "html").mapInPandas(kernel, schema=schema)


def scan_mentions(pages: DataFrame, surfaces: tuple[str, ...]) -> DataFrame:
    """pages(url, text) -> mentions(url, surface): one row per vocabulary
    occurrence, so a surface found three times on a page yields three
    identical rows (consumers count or distinct them).

    ``surfaces`` must be lowercase; matching is case-insensitive on
    word boundaries.
    """
    bc = pages.sparkSession.sparkContext.broadcast(tuple(surfaces))

    def scan(batches):
        for pdf in batches:
            yield pdf[["url"]].assign(surfaces=_scan(pdf["text"], bc.value))

    return (
        pages.select("url", "text")
        .mapInPandas(scan, schema="url string, surfaces array<string>")
        .select("url", F.explode("surfaces").alias("surface"))
    )


def page_entity_triples(linked: DataFrame, pages: DataFrame) -> DataFrame:
    """linked(url, entity_iri, ...) + pages(url, subject) -> triples:
    per page with a linked entity, ``<subject> a :WebPage``, a
    ``:hasURL`` typed literal and one ``:mentions`` triple per distinct
    entity.  One JVM pass: ``collect_set`` per url, a join to the page
    IRI :func:`extract_pages` minted (one row per url, so a recaptured
    page emits its triples once; the optimizer picks the strategy) and
    one ``inline`` of the triple structs."""

    def triple(predicate, obj):
        return F.struct(
            F.col("subject").alias("subject"),
            F.lit(predicate).alias("predicate"),
            obj.alias("object"),
        )

    per_page = (
        linked.groupBy("url")
        .agg(F.collect_set("entity_iri").alias("entities"))
        .join(pages.select("url", "subject").dropDuplicates(["url"]), "url")
    )
    return per_page.select(
        F.inline(
            F.concat(
                F.array(
                    triple("a", F.lit(":WebPage")),
                    triple(
                        ":hasURL",
                        F.format_string('"%s"^^xsd:anyURI', F.col("url")),
                    ),
                ),
                F.transform("entities", lambda e: triple(":mentions", e)),
            )
        )
    )
