"""Deduplication operators over a documents table (doc_id, text).

Scale notes (the point of each design):

* **exact** (inline in ``queries.q_dedup_exact``): one shuffle on a
  60-bit content hash — the classic hash-groupBy; at 100 TB the shuffle
  carries (hash, doc_id) only, never the text.
* **MinHash+LSH**: signatures are computed **row-locally** with array
  lambdas (no explode, no shuffle, whole-stage codegen); the only shuffle
  is the band-bucket self-join, whose keys are uniformly distributed
  hashes — no skew by construction.  Candidate verification (exact
  Jaccard) touches only candidate pairs, never all pairs.
* **SimHash**: again row-local bit-vote aggregation; near-dup candidates
  join on the 16-bit signature (hamming-0 buckets; rotate-band variants
  extend to hamming-k).

All hash math is md5-derived (:mod:`common`), so the DuckDB oracle can
reproduce results bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.ops.common import hash60, shingles, tokens

__all__ = [
    "minhash_bands",
    "lsh_candidate_pairs",
    "jaccard_pairs",
    "simhash",
    "near_dup_clusters",
    "incremental_near_dups",
]


MINHASH_P = 2_147_483_647  # 2^31 - 1; keeps a*(h%P)+b inside 63 bits


def minhash_perm_constants(n_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal-hash permutations
    h_s = (a_s * (h % P) + b_s) % P — md5-derived, so the SQL oracle can
    embed identical literals."""
    from mhdb_tables2turtles_spark.ops.common import py_hash60

    return [
        (
            py_hash60(f"minhash_a:{s}") % (MINHASH_P - 1) + 1,
            py_hash60(f"minhash_b:{s}") % MINHASH_P,
        )
        for s in range(n_hashes)
    ]


def _minhash_signature(sh: F.Column, n_hashes: int) -> F.Column:
    """array of n_hashes min-hashes.

    One md5 per shingle (``hash60``), then n permuted copies via
    arithmetic universal hashing — a single aggregate pass with a struct
    accumulator, so the expensive hash is computed exactly once per
    shingle regardless of n_hashes (Catalyst does not CSE across
    higher-order-function branches).
    """
    consts = minhash_perm_constants(n_hashes)
    hashes = F.transform(sh, lambda x: hash60(x) % MINHASH_P)
    zero = F.struct(
        *[F.lit(MINHASH_P).cast("long").alias(f"m{s}") for s in range(n_hashes)]
    )
    return F.aggregate(
        hashes,
        zero,
        lambda a, h: F.struct(
            *[
                F.least(
                    a[f"m{s}"], (F.lit(consts[s][0]) * h + F.lit(consts[s][1])) % MINHASH_P
                ).alias(f"m{s}")
                for s in range(n_hashes)
            ]
        ),
    )


def minhash_bands(
    docs: DataFrame, k: int = 3, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """(doc_id, band_id, band_hash): LSH banding of a MinHash signature.

    rows-per-band r = n_hashes/bands; two docs collide in a band iff all
    r component min-hashes agree.
    """
    assert n_hashes % bands == 0
    r = n_hashes // bands
    toks = tokens(F.col("text"))
    sh = shingles(toks, k)
    # step 1: one projection computes the signature struct (the aggregate
    # runs once per row); step 2 only reads cheap struct fields — keeping
    # these as separate selects stops CollapseProject from duplicating the
    # expensive aggregate into every field reference
    sig_struct = docs.select(
        "doc_id",
        F.size(sh).alias("n_shingles"),
        _minhash_signature(sh, n_hashes).alias("__sig"),
    )
    return (
        sig_struct.filter(F.col("n_shingles") > 0)
        .select(
            "doc_id",
            F.array(
                *[F.col("__sig").getField(f"m{s}") for s in range(n_hashes)]
            ).alias("sig"),
        )
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_id"),
                        F.md5(
                            F.array_join(
                                F.transform(
                                    F.slice(F.col("sig"), b * r + 1, r),
                                    lambda v: v.cast("string"),
                                ),
                                "|",
                            )
                        ).alias("band_hash"),
                    ),
                )
            ).alias("band"),
        )
        .select("doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash"))
    )


def minhash_bands_np(
    docs: DataFrame, k: int = 3, n_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Numpy ``mapInPandas`` twin of :func:`minhash_bands` — identical
    output rows, different execution strategy.

    Catalyst does not codegen higher-order-function lambdas, so the
    16-permutation struct-aggregate sweep in :func:`minhash_bands` runs on
    the interpreted expression evaluator (~68s at sf0.1 in BENCH_r01).
    Here the same math is one Arrow batch transfer + a (n_hashes x
    n_shingles) int64 matrix min per document: md5 once per shingle
    (hashlib, C speed), all permutations in one numpy broadcast.  Fully
    row-local — zero shuffle, same as the column version.

    Products stay inside int64: a, b, h < P = 2^31-1, so a*h + b < 2^62.
    """
    import numpy as np

    consts = minhash_perm_constants(n_hashes)
    a_vec = np.array([c[0] for c in consts], dtype=np.int64).reshape(-1, 1)
    b_vec = np.array([c[1] for c in consts], dtype=np.int64).reshape(-1, 1)
    assert n_hashes % bands == 0
    r = n_hashes // bands

    def kernel(batches):
        import hashlib
        import re

        import pandas as pd

        # exact twin of ops.common.norm_text: lower -> trim (ASCII space,
        # like Spark's trim) -> collapse Java-\s runs to one space
        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, band_ids, band_hashes = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = ws.sub(" ", ("" if text is None else str(text)).lower().strip(" "))
                toks = t.split(" ")
                n = len(toks) - (k - 1)
                if n < 1:
                    continue  # minhash_bands filters n_shingles == 0 too
                hs = np.fromiter(
                    (
                        int(
                            hashlib.md5(
                                " ".join(toks[i : i + k]).encode("utf-8")
                            ).hexdigest()[:15],
                            16,
                        )
                        % MINHASH_P
                        for i in range(n)
                    ),
                    dtype=np.int64,
                    count=n,
                )
                sig = ((a_vec * hs + b_vec) % MINHASH_P).min(axis=1)
                for b in range(bands):
                    chunk = sig[b * r : (b + 1) * r]
                    ids.append(doc_id)
                    band_ids.append(b)
                    band_hashes.append(
                        hashlib.md5(
                            "|".join(str(int(v)) for v in chunk).encode()
                        ).hexdigest()
                    )
            yield pd.DataFrame(
                {"doc_id": ids, "band_id": band_ids, "band_hash": band_hashes}
            )

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema="doc_id long, band_id int, band_hash string"
    )


def lsh_candidate_pairs(band_rows: DataFrame) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing at least one band bucket.
    Self-join keys are (band_id, band_hash) — uniform hashes, no skew."""
    a = band_rows.alias("a")
    b = band_rows.alias("b")
    return (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )


def jaccard_pairs(
    docs: DataFrame, pairs: DataFrame, k: int = 3, threshold: float = 0.0
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs:
    (doc_a, doc_b, jaccard).  Pair-local array math after two joins — the
    verification cost is O(candidates), not O(n^2).

    Shingles are hashed to int64 (``hash60``) *before* the joins, so the
    shuffle carries compact hash arrays instead of full k-gram string
    arrays (~5-10x smaller at web scale).  Jaccard over the distinct
    hashed sets equals Jaccard over the distinct string sets modulo
    60-bit collisions, and the DuckDB oracle applies the identical hash,
    so verified values match by construction.

    Only documents that actually appear in a candidate pair are shingled:
    the semi-join prune runs before the expensive
    tokenize+shingle+md5 projection, so verification cost is
    O(candidate docs), not O(corpus) — at dedup ratios the candidate set
    is orders of magnitude smaller than the corpus (AQE turns the prune
    into a broadcast join when the id set is small)."""
    ids = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .union(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = docs.join(ids, "doc_id", "left_semi").select(
        "doc_id",
        F.array_distinct(
            F.transform(shingles(tokens(F.col("text")), k), lambda s: hash60(s))
        ).alias("sh"),
    )
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b"))
            ).alias("jaccard"),
        )
    )
    return j.filter(F.col("jaccard") >= threshold)


def simhash(docs: DataFrame, bits: int = 16) -> DataFrame:
    """(doc_id, simhash): per-bit majority vote over token hashes,
    computed entirely row-locally (aggregate over the token array)."""
    toks = tokens(F.col("text"))
    hashes = F.transform(toks, lambda t: hash60(t))
    # single aggregate pass with a struct-of-counters accumulator: the
    # md5 is computed once per token (the lambda variable binds the
    # evaluated element; referencing it `bits` times is free), then all
    # bit votes update in one sweep.
    # NB: capture b via list comprehension scope, never
    # `lambda acc, h, b=b` — pyspark binds a 3-param lambda's third arg
    # to a generated Column.
    zero = F.struct(
        *[F.lit(0).cast("long").alias(f"c{b}") for b in range(bits)]
    )
    votes = F.aggregate(
        hashes,
        zero,
        lambda a, h: F.struct(
            *[
                (
                    a[f"c{b}"]
                    + F.when(
                        F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
                    ).otherwise(-1)
                ).alias(f"c{b}")
                for b in range(bits)
            ]
        ),
    )
    # two projections: the aggregate evaluates once; the bit-packing step
    # reads cheap struct fields (see minhash_bands for why)
    with_votes = docs.select("doc_id", votes.alias("__v"))
    sim = F.lit(0).cast("long")
    for b in range(bits):
        sim = sim + F.when(
            F.col("__v").getField(f"c{b}") > 0, F.lit(1 << b)
        ).otherwise(0)
    return with_votes.select("doc_id", sim.alias("simhash"))


def simhash_np(docs: DataFrame, bits: int = 16) -> DataFrame:
    """Numpy ``mapInPandas`` twin of :func:`simhash` — identical rows
    (integer math throughout, so equality is exact, not approximate).

    Same rationale as :func:`minhash_bands_np`: the per-bit vote sweep is
    a HOF aggregate Catalyst can only interpret; here it is one
    (n_tokens x bits) sign matrix per document."""
    import numpy as np

    shifts = np.arange(bits, dtype=np.int64)

    def kernel(batches):
        import hashlib
        import re

        import pandas as pd

        ws = re.compile(r"[ \t\n\x0b\f\r]+")
        for pdf in batches:
            ids, sims = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                t = ws.sub(" ", ("" if text is None else str(text)).lower().strip(" "))
                toks = t.split(" ")
                hs = np.fromiter(
                    (
                        int(hashlib.md5(tok.encode("utf-8")).hexdigest()[:15], 16)
                        for tok in toks
                    ),
                    dtype=np.int64,
                    count=len(toks),
                )
                votes = (((hs[:, None] >> shifts) & 1) * 2 - 1).sum(axis=0)
                sim = int(((votes > 0).astype(np.int64) << shifts).sum())
                ids.append(doc_id)
                sims.append(sim)
            yield pd.DataFrame({"doc_id": ids, "simhash": sims})

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema="doc_id long, simhash long"
    )


def near_dup_clusters(
    docs: DataFrame, tau: float = 0.8, k: int = 3
) -> DataFrame:
    """End-to-end near-duplicate clustering: MinHash bands -> LSH
    candidate pairs -> exact-Jaccard verification (>= tau) -> connected
    components -> one canonical document per cluster.

    Returns (doc_id, canonical_id, cluster_size) for every document in a
    near-dup cluster; the canonical document is the smallest doc_id in
    its component (the row a scale deduper KEEPS; the others drop).

    This is the full corpus-dedup recipe at CC/C4 scale composed from
    the already-bucketed pieces: no stage is all-pairs, edges carried
    into the CC step are only the verified near-dup pairs (a tiny graph
    relative to the corpus), and component labels propagate via the
    salted min-label loop in web/canonicalize.py.
    """
    from mhdb_tables2turtles_spark.web.canonicalize import (
        connected_components,
    )

    bands = minhash_bands_np(docs).localCheckpoint(eager=False)
    pairs = lsh_candidate_pairs(bands).localCheckpoint(eager=False)
    edges = (
        jaccard_pairs(docs, pairs, k=k, threshold=tau)
        .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    )
    cc = connected_components(edges)
    sizes = cc.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        cc.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("canonical_id"),
            "cluster_size",
        )
    )


def incremental_near_dups(
    new_docs: DataFrame,
    corpus_docs: DataFrame,
    corpus_bands: DataFrame,
    k: int = 3,
    n_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> tuple[DataFrame, DataFrame]:
    """Near-dup verdicts for a NEW crawl drop against an already-committed
    corpus, touching only the drop plus the candidate corpus docs.

    The batch recipe (:func:`near_dup_clusters`) re-signs the whole
    corpus per run; on a growing corpus the production shape signs each
    document ONCE, commits the band table alongside the text (the staged
    pipeline's job), and dedups every subsequent drop by joining the
    drop's fresh bands against the committed table.  Per drop this costs
    O(|drop|) signature work + one equi-join on uniform (band_id,
    band_hash) keys — never O(|corpus|) recomputation.  Corpus TEXT is
    read only for the candidate docs (``jaccard_pairs`` semi-join prune),
    so at 100 TB the drop dedup reads gigabytes, not the corpus.

    Returns ``(decisions, new_bands)``:

    * ``decisions`` — one row per duplicate-flagged NEW doc:
      ``(doc_id, dup_of, jaccard, scope)`` where ``scope`` is
      ``'corpus'`` (matches a committed doc) or ``'drop'`` (matches an
      earlier doc in the same drop — ``dup_of`` is the smaller doc_id).
      Best match per doc: highest verified Jaccard, ties to the
      smallest ``dup_of``.
    * ``new_bands`` — the drop's band rows, for the caller to append to
      the committed band table (production appends only the KEPT docs'
      bands so dropped duplicates never become dedup targets).
    """
    nb = minhash_bands_np(
        new_docs, k=k, n_hashes=n_hashes, bands=bands
    ).localCheckpoint(eager=False)
    cross = (
        nb.alias("n")
        .join(corpus_bands.alias("c"), ["band_id", "band_hash"])
        .select(
            F.col("n.doc_id").alias("doc_a"),
            F.col("c.doc_id").alias("doc_b"),
        )
        .distinct()
        .withColumn("scope", F.lit("corpus"))
    )
    intra = lsh_candidate_pairs(nb).withColumn("scope", F.lit("drop"))
    cand = cross.unionByName(intra).localCheckpoint(eager=False)
    all_docs = corpus_docs.select("doc_id", "text").unionByName(
        new_docs.select("doc_id", "text")
    )
    verified = jaccard_pairs(
        all_docs, cand.select("doc_a", "doc_b"), k=k, threshold=threshold
    )
    tagged = verified.join(cand, ["doc_a", "doc_b"])
    # normalize to (new doc, kept doc): cross pairs put the new doc in
    # doc_a; intra pairs keep the smaller doc_id (lsh_candidate_pairs
    # emits doc_a < doc_b)
    dup_rows = tagged.select(
        F.when(F.col("scope") == "drop", F.col("doc_b"))
        .otherwise(F.col("doc_a"))
        .alias("doc_id"),
        F.when(F.col("scope") == "drop", F.col("doc_a"))
        .otherwise(F.col("doc_b"))
        .alias("dup_of"),
        "jaccard",
        "scope",
    )
    decisions = (
        dup_rows.groupBy("doc_id")
        .agg(
            F.max_by(
                F.struct("dup_of", "jaccard", "scope"),
                F.struct(F.col("jaccard"), -F.col("dup_of")),
            ).alias("m")
        )
        .select(
            "doc_id",
            F.col("m.dup_of").alias("dup_of"),
            F.col("m.jaccard").alias("jaccard"),
            F.col("m.scope").alias("scope"),
        )
    )
    return decisions, nb
