"""Canonicalization: connected components over entity-equivalence edges.

The reference never needs this (its IRIs are canonical by construction —
one dimension row, one IRI); at web scale the same real-world entity
surfaces under many IRIs (sameAs links, shared aliases), so we merge
equivalence classes with GraphFrames-style **iterative hash-join min-label
propagation**, hand-rolled on DataFrames (north rule: no GraphFrames
dependency):

  labels(node) = node
  repeat:
    propagate: label(v) = min(label(v), min over neighbors u of label(u))
    compress:  label(v) = label(label(v))          -- pointer jumping
  until no label changes (O(log n) rounds with compression)

Skew: hub entities concentrate edges on one reduce key.  The neighbor-min
aggregation is therefore **two-phase with an explicit salt** — first
``groupBy(node, pmod(xxhash64(label), S))``, then ``groupBy(node)`` — so a
hub's partial mins spread over S reducers before the final combine (on top
of Spark's own map-side partial aggregation).  Each round is
``localCheckpoint``-ed to cut lineage growth across iterations, and a
labeling still changing after ``_MAX_ROUNDS`` rounds raises rather than
returning truncated components.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "connected_components",
    "merge_components",
    "equivalence_edges",
    "is_equivalence",
    "canonical_mapping",
]

# propagation-round cap: pointer jumping converges in O(log diameter)
# rounds, so 25 covers any chain a real equivalence graph produces
_MAX_ROUNDS = 25
# reducers a hub's partial mins spread over in the salted aggregation
_SALT = 16


def _salted_min(df: DataFrame, key: str, val: str) -> DataFrame:
    """min(val) grouped by key, via an explicit two-phase salted shuffle."""
    partial = df.groupBy(
        key, F.pmod(F.xxhash64(F.col(val)), F.lit(_SALT)).alias("__salt")
    ).agg(F.min(val).alias(val))
    return partial.groupBy(key).agg(F.min(val).alias(val))


def connected_components(edges: DataFrame) -> DataFrame:
    """edges(src, dst) -> (node, component); component = min node id (by
    ordering of the id type) in the node's connected component.

    Deterministic: min-label over a total order, independent of
    partitioning and parallelism.  Raises ``RuntimeError`` if labels are
    still changing after ``_MAX_ROUNDS`` rounds.
    """
    sym = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .union(edges.select(F.col("dst").alias("u"), F.col("src").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("u").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("component"))
        .localCheckpoint(eager=True)
    )
    if sym.isEmpty():
        # no edges -> no labels; skip the propagation loop entirely (a
        # first round over empty inputs still costs several checkpoint
        # jobs — measurable fixed overhead on every no-merge epoch)
        return labels

    for _ in range(_MAX_ROUNDS):
        # propagate: each node offers its label to every neighbor
        offered = sym.join(
            labels.withColumnRenamed("node", "u"), "u"
        ).select(F.col("v").alias("node"), "component")
        new_labels = _salted_min(
            offered.unionByName(labels), "node", "component"
        )
        # compress: follow one pointer hop (label <- label of label)
        comp_of_comp = labels.select(
            F.col("node").alias("component"),
            F.col("component").alias("__cc"),
        )
        new_labels = new_labels.join(comp_of_comp, "component", "left").select(
            "node",
            F.least(
                F.col("component"), F.coalesce(F.col("__cc"), F.col("component"))
            ).alias("component"),
        )
        # convergence check folded into the propagate job: carry a
        # per-row changed flag through the checkpoint (one extra join on
        # the already-materialized old labels, evaluated in the SAME job)
        # instead of running a separate join+count job per round — the
        # post-checkpoint filter/limit/count scans cached partitions only
        flagged = (
            new_labels.join(
                labels.select("node", F.col("component").alias("__prev")),
                "node",
                "left",
            )
            .select(
                "node",
                "component",
                (F.col("component") != F.coalesce(F.col("__prev"), F.col("component"))).alias(
                    "__changed"
                ),
            )
            .localCheckpoint(eager=True)
        )
        changed = flagged.filter(F.col("__changed")).limit(1).count()
        labels = flagged.drop("__changed")
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {_MAX_ROUNDS} rounds"
    )


def merge_components(prev: DataFrame, new_edges: DataFrame) -> DataFrame:
    """Incremental connected components: fold a batch of NEW equivalence
    edges into an existing ``(node, component)`` labeling (the committed
    output of a previous :func:`connected_components` run) without
    recomputing the full graph — the re-crawl update path, paired with
    :func:`~mhdb_tables2turtles_spark.web.kgquery.triple_diff`.

    Exactness: because min-label components are stars (every member
    points at the component's minimum node, which is itself a member),
    replaying each prior label as an edge ``node — component`` preserves
    both connectivity and the min, so the merged labeling is IDENTICAL
    to a from-scratch run over (old edges ∪ new edges) — tests assert
    this equivalence.

    Scale shape — the whole point of the incremental path: ``prev`` is
    the big side (billions of labeled nodes at web scale) while
    ``new_edges`` is one crawl increment.  Only components TOUCHED by a
    new-edge endpoint can change, so we semi-join ``prev`` down to the
    touched components, run label propagation on that (small) active
    subgraph plus the new edges, and pass every untouched label through
    unchanged — cost scales with the increment, not the accumulated
    graph.  The active star edges have depth 1 by construction, so the
    inner :func:`connected_components` converges in ~2 rounds (it only
    has to thread new edges between star centers), vs O(log diameter)
    from scratch.
    """
    e = new_edges.select("src", "dst")
    if e.isEmpty():
        # a batch with no equivalence edges touches no component: the
        # prior labeling IS the merged labeling (the common case for a
        # routine re-crawl — skip the touched/active/star machinery)
        return prev.select("node", "component")
    endpoints = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    touched = (
        prev.join(endpoints, "node", "left_semi")
        .select("component")
        .distinct()
    )
    active = prev.join(touched, "component", "left_semi")
    star = active.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("src"), F.col("component").alias("dst")
    )
    merged = connected_components(e.unionByName(star))
    untouched = prev.join(touched, "component", "left_anti").select(
        "node", "component"
    )
    # merged covers every active prev node (star members + singletons hit
    # directly by a new edge) plus brand-new nodes; untouched is disjoint
    return untouched.unionByName(merged.select("node", "component"))


def is_equivalence() -> Column:
    """True on a triple row that is an entity-merge edge: an owl:sameAs /
    rdfs:equivalentClass style predicate whose object is an in-graph IRI
    (starts with ``:``)."""
    eq_preds = ("owl:sameAs", "rdfs:equivalentClass", "rdfs:equivalentProperty")
    return F.col("predicate").isin(*eq_preds) & F.col("object").startswith(":")


def equivalence_edges(triples: DataFrame) -> DataFrame:
    """Entity-merge edges from the graph itself: the distinct
    (subject, object) pairs of its :func:`is_equivalence` rows."""
    return (
        triples.filter(is_equivalence())
        .select(F.col("subject").alias("src"), F.col("object").alias("dst"))
        .distinct()
    )


def canonical_mapping(components: DataFrame) -> DataFrame:
    """(iri, canonical_iri) rewrite map from :func:`connected_components`
    output — broadcast-join this against any triple column."""
    return components.select(
        F.col("node").alias("iri"), F.col("component").alias("canonical_iri")
    )


def rewrite_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite subject/object through the canonical map (left joins keep
    unmapped IRIs); the mapping is component-count-sized -> broadcast."""
    m = F.broadcast(mapping)
    return (
        triples.join(
            m.withColumnRenamed("iri", "subject").withColumnRenamed(
                "canonical_iri", "__cs"
            ),
            "subject",
            "left",
        )
        .join(
            m.withColumnRenamed("iri", "object").withColumnRenamed(
                "canonical_iri", "__co"
            ),
            "object",
            "left",
        )
        .select(
            F.coalesce(F.col("__cs"), F.col("subject")).alias("subject"),
            F.col("predicate"),
            F.coalesce(F.col("__co"), F.col("object")).alias("object"),
        )
        .distinct()
    )
