"""Structured-Streaming ingestion: incremental triples, watermarked
windows, checkpointed exactly-once sink + restart recovery."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.streaming.ingest import (
    read_page_stream,
    start_triple_sink,
    stream_triples,
    windowed_mention_rates,
)
from mhdb_tables2turtles_spark.web.pipeline import build_corpus

SURFACES = ("music", "chills", "study")


@pytest.fixture(scope="module")
def page_drop(spark, tmp_path_factory, onto_ttl):
    d = str(tmp_path_factory.mktemp("drops"))
    build_corpus(spark, 24, seed=11, partitions=3, ttl_path=onto_ttl).write.mode(
        "overwrite"
    ).parquet(d)
    return d


def test_stream_triples_match_batch(spark, page_drop, tmp_path):
    stream = read_page_stream(spark, page_drop)
    assert stream.isStreaming
    triples = stream_triples(stream, SURFACES)
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    q = start_triple_sink(triples, out, ck, available_now=True)
    q.awaitTermination(300)
    got = {
        (r.subject, r.predicate, r.object)
        for r in spark.read.parquet(out).collect()
    }
    # batch equivalent over the same drop
    batch_pages = spark.read.parquet(page_drop)
    batch = stream_triples.__wrapped__ if hasattr(stream_triples, "__wrapped__") else None
    from mhdb_tables2turtles_spark.functions import udfs
    from mhdb_tables2turtles_spark.web.extract import extract_text_col
    from mhdb_tables2turtles_spark.web.mentions import scan_mentions

    extracted = batch_pages.select(
        "url", extract_text_col(F.col("html")).alias("text")
    )
    want = {
        (r.subject, ":mentions", r.object)
        for r in scan_mentions(extracted, SURFACES)
        .select(
            udfs.iri(F.col("url")).alias("subject"),
            F.col("surface").alias("object"),
        )
        .distinct()
        .collect()
    }
    assert got == want

    # restart with the same checkpoint: nothing re-processed, no dupes
    q2 = start_triple_sink(
        stream_triples(read_page_stream(spark, page_drop), SURFACES),
        out,
        ck,
        available_now=True,
    )
    q2.awaitTermination(300)
    again = [tuple(r) for r in spark.read.parquet(out).select("subject", "predicate", "object").collect()]
    assert len(again) == len(got)  # exactly-once across restart


def test_windowed_mention_rates(spark, page_drop, tmp_path):
    stream = read_page_stream(spark, page_drop)
    rates = windowed_mention_rates(stream, SURFACES, window="5 minutes")
    out = str(tmp_path / "rates")
    ck = str(tmp_path / "rck")
    q = (
        rates.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # append mode emits only watermark-closed windows; with a bounded
    # drop the final windows may still be open — check schema + state
    # instead of counts
    df = spark.read.parquet(out)
    assert set(df.columns) == {"window_start", "window_end", "surface", "n_mentions"}


def _drain(stream_df, out, ck):
    q = (
        stream_df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)


def test_stream_dedup_exact_and_url(spark, tmp_path):
    """Streaming dedup keeps the first arrival per content hash / per
    canonical URL and drops the rest; watermark bounds the state.  Two
    drops so the duplicate arrives in a LATER micro-batch than the
    original (maxFilesPerTrigger=1) — state must carry across batches."""
    from datetime import datetime

    from pyspark.sql.types import (
        StringType, StructField, StructType, TimestampType,
    )

    from mhdb_tables2turtles_spark.streaming.dedup import (
        stream_dedup_exact,
        stream_dedup_url,
    )

    schema = StructType([
        StructField("url", StringType()),
        StructField("text", StringType()),
        StructField("fetch_ts", TimestampType()),
    ])
    t = lambda m: datetime(2026, 1, 1, 12, m)
    drop_dir = str(tmp_path / "drops")
    # drop 1: three distinct pages
    spark.createDataFrame(
        [
            ("http://a.com/p1", "alpha beta gamma", t(0)),
            ("http://b.com/p2", "delta epsilon", t(1)),
            ("http://c.com/p3", "zeta eta theta", t(2)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(drop_dir)
    # drop 2: one content mirror (different url, same normalized text),
    # one recrawl (same page via tracking params + default port),
    # one genuinely new page
    spark.createDataFrame(
        [
            ("http://mirror.com/x", "  ALPHA   beta GAMMA ", t(5)),
            ("HTTP://A.COM:80/p1?utm_source=feed", "alpha beta gamma v2", t(6)),
            ("http://d.com/p4", "iota kappa", t(7)),
        ],
        schema,
    ).coalesce(1).write.mode("append").parquet(drop_dir)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(drop_dir)
    )

    out1, ck1 = str(tmp_path / "o1"), str(tmp_path / "c1")
    _drain(stream_dedup_exact(stream), out1, ck1)
    by_content = spark.read.parquet(out1)
    # mirror.com dropped (same content hash as a.com/p1, later ts);
    # the recrawl SURVIVES content dedup (text differs: "v2")
    urls = {r.url for r in by_content.collect()}
    assert "http://mirror.com/x" not in urls
    assert "HTTP://A.COM:80/p1?utm_source=feed" in urls
    assert by_content.count() == 5

    out2, ck2 = str(tmp_path / "o2"), str(tmp_path / "c2")
    _drain(stream_dedup_url(stream), out2, ck2)
    by_url = spark.read.parquet(out2)
    # the recrawl dropped (canonicalizes to http://a.com/p1); the
    # mirror SURVIVES url dedup (different host)
    urls2 = {r.url for r in by_url.collect()}
    assert "HTTP://A.COM:80/p1?utm_source=feed" not in urls2
    assert "http://mirror.com/x" in urls2
    assert by_url.count() == 5
    # key column retained for observability
    assert "canonical_url" in by_url.columns


def test_stream_kg_updates_epochs_and_replay(spark, tmp_path, onto_ttl):
    """foreachBatch → KGPipeline.update: each micro-batch becomes an
    incremental epoch; a restarted query with the same checkpoint does
    not duplicate committed epochs."""
    from mhdb_tables2turtles_spark.streaming.ingest import (
        read_page_stream,
        stream_kg_updates,
    )
    from mhdb_tables2turtles_spark.web.pipeline import KGPipeline

    corpus = build_corpus(spark, 30, seed=13, partitions=2, ttl_path=onto_ttl)
    base = corpus.limit(18)
    rest = corpus.subtract(base)

    wd = str(tmp_path / "kg_stream")
    pipe = KGPipeline(spark, wd, ttl_path=onto_ttl)
    pipe.run(base)
    n_base = pipe.canonical_asof().count()

    drops = str(tmp_path / "drops")
    ckpt = str(tmp_path / "ckpt")
    rest.coalesce(1).write.mode("append").parquet(drops)

    stream = read_page_stream(spark, drops, max_files_per_trigger=1)
    q = stream_kg_updates(pipe, stream, ckpt)
    q.awaitTermination(300)

    epochs = pipe._epochs()
    assert epochs and all(e.startswith("stream-") for e in epochs)
    n_after = pipe.canonical_asof(epochs[-1]).count()
    assert n_after > n_base

    # replay with the same checkpoint: no new data -> no new epochs;
    # committed state untouched
    q2 = stream_kg_updates(pipe, read_page_stream(spark, drops), ckpt)
    q2.awaitTermination(300)
    assert pipe._epochs() == epochs
    assert pipe.canonical_asof(epochs[-1]).count() == n_after
