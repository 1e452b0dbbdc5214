"""Entity linking: alias-dictionary candidates + TF-IDF context scoring.

Generalizes the reference's FK label lookups (exact equality against a
dimension sheet, /root/reference/mhdb/ingest.py:445-446, :3192-3193) to
ambiguous surface forms: several ontology entities may share a surface
("sound" the Measure vs "Sound" the StimulusCategory); the winner is the
entity whose profile text (label + definition) best matches the page, by
TF-IDF-weighted token overlap.

The idf is taken over the entity profiles, not over the pages: N is the
number of profiled entities and df the number whose profile holds the
token.  A page's links are therefore a function of the page and the
ontology alone — linking a batch of pages gives each page the links a
full-corpus run gives it, which is what lets an incremental epoch equal
a full rebuild.

Plan shape (all built-in ops, Catalyst-optimizable):

  mentions ⨝B vocab(surface)                -- broadcast: dictionary is tiny
  filter surface IN ambiguous               -- list decided on the driver
  pages ⋉ ambiguous urls -> explode(tokens) -- pages w/ ambiguous mentions
  ⨝B idf(token)                             -- profile idf: map-side prune
  groupBy(url, token) count -> tf           -- map-side partial agg
  ⨝B entity_tokens(token)
  groupBy(url, entity) sum(tf·idf²)         -- map-side partial agg
  row_number over (url, surface)            -- pick argmax

Which surfaces are ambiguous is read off the ontology-sized vocabulary
on the driver, with no Spark job; with none, the scorer is left out of
the plan.
The idf aggregate runs over the profiles, so it is ontology-sized and
broadcasts; joining it to the page-token stream drops every token no
profile holds *before* the tf shuffle, so shuffle volume is
O(profile-token hits), not O(corpus tokens).  The remaining wide
shuffles key on ``url`` — high-cardinality and uniform at web scale (no
hub keys), so this survives 1000 executors.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["candidate_entities", "link_mentions"]


def candidate_entities(mentions: DataFrame, vocab: DataFrame) -> DataFrame:
    """mentions(url, surface) x vocab(surface, entity_iri, is_alias) —
    dictionary join, broadcast (the vocabulary is ontology-sized)."""
    return mentions.join(
        F.broadcast(vocab.select("surface", "entity_iri", "is_alias")),
        "surface",
    )


def _tokens(text: str) -> F.Column:
    """Lower-cased whitespace tokens of a text column."""
    return F.split(F.lower(F.col(text)), r"\s+")


def link_mentions(
    mentions: DataFrame,
    vocab: DataFrame,
    pages: DataFrame,
    profiles: DataFrame,
) -> DataFrame:
    """-> (url, surface, entity_iri, score, is_ambiguous).

    Unambiguous surfaces short-circuit the scorer entirely (the common
    case); only pages containing ambiguous surfaces pay for tokenization.
    The score of an entity on a page is the sum of ``tf · idf²`` over the
    tokens its profile shares with the page text.  ``vocab`` is
    collected on the driver to find the ambiguous surfaces; made by
    ``createDataFrame`` from a pandas frame it is a local relation, and
    that collect runs no Spark job.
    """
    cands = candidate_entities(mentions, vocab).select(
        "url", "surface", "entity_iri", "is_alias"
    ).distinct()

    # decided at plan-build time: with no ambiguous surface (the common
    # case for a label-minted ontology) the whole TF-IDF subtree —
    # profile idf, token explode, score join — is omitted from the plan
    # instead of executing against zero ambiguous rows
    pairs = {tuple(r) for r in vocab.select("surface", "entity_iri").collect()}
    per_surface = Counter(surface for surface, _ in pairs)
    ambiguous = sorted(s for s, n in per_surface.items() if n > 1)
    if not ambiguous:
        return cands.select(
            "url",
            "surface",
            "entity_iri",
            F.lit(1.0).alias("score"),
            F.lit(False).alias("is_ambiguous"),
        )

    is_amb = F.col("surface").isin(ambiguous)
    amb = cands.filter(is_amb)
    unamb = cands.filter(~is_amb)

    entity_tokens = profiles.select(
        "entity_iri",
        F.explode(F.array_distinct(_tokens("profile_text"))).alias("token"),
    ).filter(F.length("token") > 1)
    n_entities = profiles.agg(F.count_distinct("entity_iri").alias("n"))
    idf = (
        entity_tokens.groupBy("token")
        .agg(F.count("*").alias("df"))
        .crossJoin(F.broadcast(n_entities))
        .select(
            "token",
            (F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0)
            .alias("idf"),
        )
    )
    # pages that actually need scoring (semi-join prunes the token scan);
    # the idf join keeps only tokens some profile holds, before the tf
    # shuffle
    amb_pages = pages.join(amb.select("url").distinct(), "url", "left_semi")
    page_tokens = (
        amb_pages.select("url", F.explode(_tokens("text")).alias("token"))
        .join(F.broadcast(idf), "token")
        .groupBy("url", "token", "idf")
        .agg(F.count("*").alias("tf"))
    )
    scores = (
        page_tokens.join(F.broadcast(entity_tokens), "token")
        .groupBy("url", "entity_iri")
        .agg(F.sum(F.col("tf") * F.col("idf") * F.col("idf")).alias("score"))
    )

    w = Window.partitionBy("url", "surface").orderBy(
        F.desc_nulls_last("score"),
        F.col("is_alias").cast("int"),
        F.col("entity_iri"),
    )
    linked_amb = (
        amb.join(scores, ["url", "entity_iri"], "left")
        .withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select(
            "url",
            "surface",
            "entity_iri",
            F.coalesce(F.col("score"), F.lit(0.0)).alias("score"),
            F.lit(True).alias("is_ambiguous"),
        )
    )
    linked_unamb = unamb.select(
        "url",
        "surface",
        "entity_iri",
        F.lit(1.0).alias("score"),
        F.lit(False).alias("is_ambiguous"),
    )
    return linked_unamb.unionByName(linked_amb)
