"""Mention detection + (subj, pred, obj) triple extraction over web pages.

Arrow-batched ``mapInPandas`` runs the token-index matcher (:mod:`trie`;
match-set-identical to the Aho-Corasick reference, differential-tested)
over each page's extracted text; the surface list rides in a
Spark broadcast and the matcher is memoized per worker.  Everything
downstream of the scan is built-in DataFrame ops (broadcast joins,
groupBy) — no per-row Python.

Triple semantics generalize the reference's row->triple minting
(/root/reference/mhdb/ingest.py:3084-3996): a page is a subject (IRI
minted from its URL with the same ``check_iri`` semantics as
/root/reference/mhdb/write_ttl.py:219-260), each linked vocabulary entity
an object.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mhdb_tables2turtles_spark.functions import udfs
from mhdb_tables2turtles_spark.web.trie import matcher_for

__all__ = ["scan_mentions", "page_entity_triples"]

MENTIONS_SCHEMA = "url string, surface string"


def scan_mentions(
    pages: DataFrame,
    surfaces: tuple[str, ...],
    passthrough: tuple[str, ...] = (),
) -> DataFrame:
    """pages(url, text) -> mentions(url, surface[, passthrough...]):
    one row per vocabulary occurrence, so a surface found three times on
    a page yields three identical rows (consumers count or distinct them).
    Match positions are not emitted: no consumer reads them.

    ``surfaces`` must be lowercase; matching is case-insensitive on
    word boundaries.

    ``passthrough`` names extra input columns carried verbatim onto every
    emitted mention row (e.g. ``("warc_ts",)`` so streaming consumers get
    event time without a stream-stream re-join back to the page source —
    unbounded join state avoided by construction).

    The scan itself is O(page_len + matches) per page: C-speed
    tokenization, one dict probe per word token, and one per-column
    append per hit (see :class:`~.trie.TokenIndexMatcher`).  (An earlier
    revision also computed a per-match prefix space count —
    O(matches x page_len), quadratic on mention-dense pages — for a
    column no consumer read; it is deliberately gone.)
    """
    spark = pages.sparkSession
    bc = spark.sparkContext.broadcast(tuple(surfaces))

    extra = tuple(passthrough)
    out_schema = T.StructType.fromDDL(MENTIONS_SCHEMA)
    for name in extra:
        out_schema.add(pages.schema[name])
    in_cols = ["url", "text", *extra]
    out_cols = ["url", "surface", *extra]

    def scan(batches):
        patterns = bc.value
        # token-indexed matcher: identical match set to the Aho-Corasick
        # reference (differential-tested in tests/test_web_pipeline.py)
        # at ~2x the scan throughput — this loop is the engine's hottest
        matcher = matcher_for(patterns)
        for pdf in batches:
            # columnar accumulation: a page yields ~10^2 mentions, so a
            # 150k-page corpus emits ~10^7 rows per worker — building
            # them as per-column lists skips one tuple allocation per
            # row AND pandas' row-to-column transpose (the stage's
            # former top cost, ahead of the scan itself)
            c_url: list = []
            c_surface: list = []
            c_rest: tuple[list, ...] = tuple([] for _ in extra)
            for url, text, *rest in pdf[in_cols].itertuples(
                index=False, name=None
            ):
                if not text:
                    continue
                low = text.lower()
                n0 = len(c_surface)
                c_surface.extend(
                    patterns[idx] for _, _, idx in matcher.find_words(low)
                )
                n_hits = len(c_surface) - n0
                if n_hits:
                    c_url.extend([url] * n_hits)
                    for col, val in zip(c_rest, rest):
                        col.extend([val] * n_hits)
            data = {"url": c_url, "surface": c_surface}
            for name, col in zip(extra, c_rest):
                data[name] = col
            yield pd.DataFrame(data, columns=out_cols)

    return pages.select(*in_cols).mapInPandas(scan, schema=out_schema)


# page-IRI mapping sides larger than this many urls never broadcast:
# ~10M urls x ~100B/row ≈ 1GB build side, the sane executor-memory edge
BROADCAST_MAX_URLS = 10_000_000


def page_entity_triples(
    linked: DataFrame, n_urls: int | None = None
) -> DataFrame:
    """linked(url, entity_iri[, entity_type]) -> triple DataFrame.

    Emits, per page: ``<pageIRI> a :WebPage``, ``:hasURL`` typed literal,
    and one ``:mentions`` triple per distinct linked entity — the
    web-scale analogue of the reference's per-row type + FK triples.

    The (url -> pageIRI) join picks its physical strategy by scale:
    below :data:`BROADCAST_MAX_URLS` distinct urls the minted-IRI side
    broadcasts (one network copy, no shuffle of the mention pairs);
    above it — where a broadcast physically cannot exist (10^12 pages) —
    it degrades to a plain shuffle equi-join on ``url``, and because both
    sides are already hash-partitioned by url the exchange is co-located.
    ``n_urls`` comes free from the caller's stage manifest / observe
    counters (pages >= distinct urls); when unknown (None), the safe
    default is the shuffle join plus AQE, which converts it back to a
    runtime broadcast when the built side turns out small.
    """
    # mint each page IRI exactly once: the pandas-UDF kernel runs over
    # the distinct url set (pages), and the per-pair fan-out happens as a
    # JVM-side broadcast join — never per mention row.
    #
    # Two physical-plan guards (measured on the 150k-page probe — the
    # stage was the pipeline's worst scaler before them):
    # * the distinct url set comes straight from `linked` (one shuffle),
    #   not via the (url, entity) pairs distinct (two chained shuffles);
    # * the post-distinct output is small, so AQE coalesces it to ~1
    #   partition and the Arrow UDF would run single-threaded — an
    #   explicit hash repartition on url restores UDF parallelism, and
    #   because each union branch sees the identical exchange subtree,
    #   ReusedExchange computes it once.
    pairs = linked.select("url", "entity_iri").distinct()
    parallelism = linked.sparkSession.sparkContext.defaultParallelism
    per_page = (
        linked.select("url")
        .distinct()
        .repartition(parallelism, F.col("url"))
        .select(F.col("url"), udfs.iri(F.col("url")).alias("subject"))
    )
    decl = per_page.select(
        "subject", F.lit("a").alias("predicate"), F.lit(":WebPage").alias("object")
    )
    urls = per_page.select(
        "subject",
        F.lit(":hasURL").alias("predicate"),
        F.format_string('"%s"^^xsd:anyURI', F.col("url")).alias("object"),
    )
    iri_side = (
        F.broadcast(per_page)
        if n_urls is not None and n_urls <= BROADCAST_MAX_URLS
        else per_page
    )
    ments = pairs.join(iri_side, "url").select(
        "subject",
        F.lit(":mentions").alias("predicate"),
        F.col("entity_iri").alias("object"),
    )
    return decl.unionByName(urls).unionByName(ments)
