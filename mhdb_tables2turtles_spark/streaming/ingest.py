"""Incremental page→triple ingestion with Structured Streaming.

Design: the batch pipeline's stages are stateless DataFrame→DataFrame
functions, so the stream variant reuses them verbatim —
``readStream`` swaps in for ``read`` and the Spark engine handles
incrementalization.  State appears only in the windowed aggregation
(watermark bounds it) and the sink checkpoint (exactly-once file sink).

At crawl scale: one micro-batch per WARC drop directory; the checkpoint
directory is the streaming twin of the batch manifests — kill the job,
restart with the same checkpoint, and processing resumes after the last
committed batch without duplicating sink files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.web.mentions import extract_pages
from mhdb_tables2turtles_spark.web.pages import PAGES_SCHEMA

__all__ = [
    "read_page_stream",
    "stream_triples",
    "windowed_mention_rates",
    "start_triple_sink",
    "stream_kg_updates",
]


def read_page_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    """File-source stream of page parquet drops (one crawl batch = one
    or more files landing in ``source_dir``)."""
    return (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def _stream_mentions(pages: DataFrame, surfaces: tuple[str, ...]) -> DataFrame:
    """Page batch -> (subject, surface, warc_ts), one row per occurrence:
    the batch pipeline's :func:`extract_pages` pass, exploded.  It is
    row-local, so it lifts to streams unchanged, and ``warc_ts`` rides
    through it — no stream-stream re-join back to the source (which
    would hold unbounded join state)."""
    return extract_pages(pages, surfaces).select(
        "subject", F.explode("surfaces").alias("surface"), "warc_ts"
    )


def stream_triples(pages: DataFrame, surfaces: tuple[str, ...]) -> DataFrame:
    """Streaming page batch -> (subject, predicate, object, warc_ts):
    one ``:mentions`` triple per page and vocabulary surface found."""
    return (
        _stream_mentions(pages, surfaces)
        .select(
            "subject",
            F.lit(":mentions").alias("predicate"),
            F.col("surface").alias("object"),
            "warc_ts",
        )
        # bounded-state dedup: duplicates only occur within one page's
        # crawl window, so a watermark-scoped dedup is exact here while
        # a plain dropDuplicates would grow state forever
        .withWatermark("warc_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["subject", "predicate", "object"])
    )


def windowed_mention_rates(
    pages: DataFrame,
    surfaces: tuple[str, ...],
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked windowed aggregation: mentions per surface per
    crawl-time window.  Late pages beyond the watermark are dropped —
    bounded state regardless of stream length."""
    return (
        _stream_mentions(pages, surfaces)
        .withWatermark("warc_ts", watermark)
        .groupBy(F.window("warc_ts", window).alias("w"), F.col("surface"))
        .agg(F.count("*").alias("n_mentions"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "surface",
            "n_mentions",
        )
    )


def start_triple_sink(
    triples: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Exactly-once parquet sink.  ``available_now`` drains everything
    currently in the source then stops (the batch-like test/backfill
    mode); otherwise runs continuously."""
    writer = (
        triples.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_kg_updates(
    pipe,
    pages: DataFrame,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Continuous KG construction: each micro-batch of crawled pages
    becomes one incremental epoch of the batch pipeline —
    ``foreachBatch`` hands the (plain, non-streaming) batch DataFrame to
    :meth:`~mhdb_tables2turtles_spark.web.pipeline.KGPipeline.update`,
    which appends the batch's triples with partition lineage and
    re-canonicalizes incrementally.

    Exactly-once across BOTH layers: Structured Streaming's checkpoint
    makes each micro-batch id delivered at-least-once with a stable id,
    and ``update()`` is idempotent per batch id (committed epochs
    resume, the partition-lineage append skips done batches) — so a
    replayed micro-batch is a no-op rather than a duplicate.  The
    ``epoch-<id>`` naming keys the pipeline's epoch registry to the
    stream's own batch ids.

    ``pipe.run(...)`` must have committed a base crawl first (the same
    precondition as ``update``).
    """

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        pipe.update(batch_df, f"stream-{batch_id}")

    writer = (
        pages.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
