"""Structured-Streaming ingestion: each micro-batch is one
``KGPipeline.update`` epoch, and a restart on the same checkpoint
replays nothing."""

from __future__ import annotations

from mhdb_tables2turtles_spark.streaming.ingest import (
    read_page_stream,
    stream_kg_updates,
)
from mhdb_tables2turtles_spark.web.pipeline import KGPipeline, build_corpus


def test_stream_kg_updates_epochs_and_replay(spark, tmp_path, onto_ttl):
    """foreachBatch → KGPipeline.update: each micro-batch becomes an
    incremental epoch; a restarted query with the same checkpoint does
    not duplicate committed epochs."""
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
