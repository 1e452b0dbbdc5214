"""Training-data ops: dedup, similarity, text analysis, multimodal.

Where an op is oracle-checked by the driver (queries()/oracle_sql()),
these tests cross-check the same math against DuckDB at sf0.001 so
mismatches surface here first.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.ops import dedup, multimodal, similarity, text
from mhdb_tables2turtles_spark.ops.common import hash60, py_hash60

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{SF_DIR}/documents.parquet'"
    )
    con.execute(
        f"create view embeddings as select * from '{SF_DIR}/embeddings.parquet'"
    )
    return con


def test_hash60_portable(spark, ddb):
    got = spark.range(1).select(hash60(F.lit("abc")).alias("h")).first().h
    want = ddb.execute("select ('0x'||substr(md5('abc'),1,15))::bigint").fetchone()[0]
    assert got == want == py_hash60("abc")


def test_minhash_np_twin_identical(spark, docs):
    """The numpy mapInPandas variant (the bench path) must stay
    bit-identical to the HOF column version (the spec)."""
    a = {tuple(r) for r in dedup.minhash_bands(docs).collect()}
    b = {tuple(r) for r in dedup.minhash_bands_np(docs).collect()}
    assert a == b and len(a) > 0


def test_simhash_np_twin_identical(spark, docs):
    """Integer math — the numpy variant must be exactly the HOF column
    version."""
    a = {tuple(r) for r in dedup.simhash(docs).collect()}
    b = {tuple(r) for r in dedup.simhash_np(docs).collect()}
    assert a == b and len(a) > 0


def test_lsh_buckets_np_twin_identical(spark, embeddings):
    """Bucket bits agree between the matmul twin and the fold column
    version (summation-order fp tolerance is ~1e-15 per projection; any
    realized difference fails here first)."""
    a = {tuple(r) for r in similarity.lsh_buckets(embeddings, 4, 64, 8).collect()}
    b = {tuple(r) for r in similarity.lsh_buckets_np(embeddings, 4, 64, 8).collect()}
    assert a == b and len(a) > 0


def test_minhash_matches_duckdb(spark, docs):
    from mhdb_tables2turtles_spark.queries import _sql_minhash

    got = {
        (r.doc_id, r.band_id): r.band_hash
        for r in dedup.minhash_bands(
            docs.filter("doc_id < 50").select("doc_id", "text")
        ).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"create view documents as select * from '{SF_DIR}/documents.parquet' "
        "where doc_id < 50"
    )
    want = {(d, b): h for d, b, h in con.execute(_sql_minhash()).fetchall()}
    assert got == want


def test_lsh_pairs_and_jaccard(spark, docs):
    # inject two near-identical docs to give LSH something to find
    a = docs.limit(1).select("doc_id", "text")
    near = a.select(
        (F.col("doc_id") + 9000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra")).alias("text"),
    )
    corpus = docs.select("doc_id", "text").union(near)
    bands = dedup.minhash_bands(corpus)
    pairs = dedup.lsh_candidate_pairs(bands)
    jac = dedup.jaccard_pairs(corpus, pairs, threshold=0.5)
    rows = jac.collect()
    assert any(r.doc_b - r.doc_a == 9000 and r.jaccard > 0.9 for r in rows)


def test_simhash_row_local_and_grouped(spark, docs):
    sh = dedup.simhash(docs.limit(20))
    vals = [r.simhash for r in sh.collect()]
    assert all(0 <= v < 2**16 for v in vals)
    dup = docs.limit(2).union(
        docs.limit(2).withColumn("doc_id", F.col("doc_id") + 500)
    )
    # hamming-0 buckets: each copied doc shares its original's simhash
    buckets = dedup.simhash(dup).groupBy("simhash").count()
    assert buckets.filter(F.col("count") > 1).count() == 2


def test_token_stats_and_quality(spark, docs, ddb):
    stats = {r.doc_id: r for r in text.token_stats(docs).collect()}
    want = ddb.execute(
        "select doc_id, len(string_split(regexp_replace(trim(lower(text)),'\\s+',' ','g'),' ')) "
        "from documents"
    ).fetchall()
    for doc_id, n in want:
        assert stats[doc_id].n_tokens == n
    q = text.quality_score(docs)
    assert q.filter((F.col("quality") < 0) | (F.col("quality") > 1)).count() == 0


def test_lang_id_deterministic(spark, docs):
    out = text.lang_id(docs)
    assert out.filter(F.col("pred_lang").isNull()).count() == 0
    langs = {r.pred_lang for r in out.select("pred_lang").distinct().collect()}
    assert langs <= {"en", "de", "fr", "es", "und"}


def test_fingerprint_shift_robust(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta eta"),
            (2, "PREFIX alpha beta gamma delta epsilon zeta eta SUFFIX"),
            (3, "  Alpha  beta gamma delta epsilon zeta   eta ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fp = {r.doc_id: r for r in text.fingerprint(df).collect()}
    assert fp[1].content_hash != fp[2].content_hash
    # doc2's shingles are a superset of doc1's: its min can only drop
    assert fp[2].winnow_hash <= fp[1].winnow_hash
    # normalization robustness: case/whitespace noise doesn't change either
    assert fp[3].content_hash == fp[1].content_hash
    assert fp[3].winnow_hash == fp[1].winnow_hash


def test_topk_bruteforce_vs_duckdb(spark, embeddings, ddb):
    queries = embeddings.filter(F.col("vec_id") < 3)
    got = {
        (r.query_id, r.rank): (r.neighbor_id, r.cos)
        for r in similarity.topk_bruteforce(embeddings, queries, k=5).collect()
    }
    want = ddb.execute("""
        with q as (select vec_id qid, embedding qe from embeddings where vec_id < 3),
        s as (
          select qid, vec_id nid,
                 round(list_dot_product(qe::double[], embedding::double[]) /
                       (sqrt(list_dot_product(qe::double[], qe::double[])) *
                        sqrt(list_dot_product(embedding::double[], embedding::double[]))), 6) cos
          from q, embeddings where vec_id != qid
        )
        select qid, rank, nid, cos from (
          select qid, nid, cos,
                 row_number() over (partition by qid order by cos desc, nid) rank
          from s) where rank <= 5
    """).fetchall()
    want = {(q, r): (n, c) for q, r, n, c in want}
    assert set(got) == set(want)
    for key in got:
        assert got[key][0] == want[key][0]
        assert abs(got[key][1] - want[key][1]) < 1e-9


def test_lsh_topk_recall(spark, embeddings):
    queries = embeddings.filter(F.col("vec_id") < 10)
    exact = similarity.topk_bruteforce(embeddings, queries, k=3)
    ann = similarity.topk_lsh(embeddings, queries, k=3, n_planes=4, n_tables=8)
    ex = {(r.query_id, r.neighbor_id) for r in exact.collect()}
    an = {(r.query_id, r.neighbor_id) for r in ann.collect()}
    recall = len(ex & an) / len(ex)
    assert recall >= 0.5  # 8 tables x 4 planes over 500 near-random vecs


def test_multimodal_plumbing(spark, docs):
    media = multimodal.media_from_documents(docs.limit(40))
    meta = multimodal.sniff_metadata(media)
    kinds = {r.kind for r in meta.select("kind").distinct().collect()}
    assert kinds == {"image/png", "image/jpeg", "audio/wav", "video/webm"}
    assert meta.filter(~F.col("payload_ok")).count() == 0
    frames = multimodal.sample_frames(media.limit(5))
    assert frames.count() >= 5


def test_near_dup_clusters_crafted(spark):
    # docs 1,2 near-identical; 3 bridges to 2 (transitive cluster);
    # 10 unrelated -> excluded from output
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (1, base + " one"),
        (2, base + " two"),
        (3, base + " two extra"),
        (10, "completely different content with no shared shingles at all here"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r.doc_id: (r.canonical_id, r.cluster_size)
        for r in dedup.near_dup_clusters(docs, tau=0.5).collect()
    }
    assert 10 not in got
    assert set(got) == {1, 2, 3}
    assert {got[d][0] for d in (1, 2, 3)} == {1}  # canonical = min doc_id
    assert {got[d][1] for d in (1, 2, 3)} == {3}


def test_incremental_near_dups_matches_batch(spark):
    """Incremental drop-vs-corpus dedup flags the same duplicates the
    full-batch recipe finds, while only signing the drop: a corpus
    near-dup, an intra-drop near-dup, and a unique doc each get the
    right verdict, and the returned band rows equal the batch operator's
    bands for the drop docs (so appending them keeps the committed table
    identical to a from-scratch signing)."""
    from mhdb_tables2turtles_spark.ops.dedup import (
        incremental_near_dups,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_bands_np,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    corpus = spark.createDataFrame(
        [
            (1, base * 4),
            (2, "completely different text about spark physical plans " * 4),
            (3, "a third unrelated document mentioning dedup at scale " * 4),
        ],
        ["doc_id", "text"],
    )
    corpus_bands = minhash_bands_np(corpus)
    drop = spark.createDataFrame(
        [
            (10, base * 4 + "tiny tail edit"),          # near-dup of corpus doc 1
            (11, "fresh unique content never seen before anywhere " * 4),
            (12, "fresh unique content never seen before anywhere " * 4 + "v2"),
            # ^ near-dup of drop doc 11
            (13, "entirely novel page with its own words " * 4),
        ],
        ["doc_id", "text"],
    )

    decisions, new_bands = incremental_near_dups(
        drop, corpus, corpus_bands, threshold=0.5
    )
    got = {r.doc_id: (r.dup_of, r.scope) for r in decisions.collect()}
    assert got == {10: (1, "corpus"), 12: (11, "drop")}

    # band rows are the batch operator's rows for the drop docs
    a = {tuple(r) for r in new_bands.collect()}
    b = {tuple(r) for r in minhash_bands_np(drop).collect()}
    assert a == b

    # agreement with the full-batch recipe over corpus+drop: every
    # incremental verdict appears among the batch verified pairs
    everything = corpus.unionByName(drop)
    batch_bands = minhash_bands_np(everything)
    batch_pairs = {
        (r.doc_a, r.doc_b)
        for r in jaccard_pairs(
            everything, lsh_candidate_pairs(batch_bands), threshold=0.5
        ).collect()
    }
    for doc_id, (dup_of, _) in got.items():
        lo, hi = sorted((doc_id, dup_of))
        assert (lo, hi) in batch_pairs
