"""Incremental KG construction with Structured Streaming.

The stream builds the same graph as the batch pipeline: each
micro-batch of pages is one :meth:`KGPipeline.update` epoch, so there is
no second set of stream-only transformations to keep in step with it.

At crawl scale: one micro-batch per WARC drop directory; the checkpoint
directory is the streaming twin of the batch manifests — kill the job,
restart with the same checkpoint, and processing resumes after the last
committed batch without duplicating epochs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from mhdb_tables2turtles_spark.web.pages import PAGES_SCHEMA

__all__ = [
    "read_page_stream",
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
    which writes the batch's triples once, into their partition of the
    epoch triple table, and commits the merged component labels; the
    epoch's canonical graph is read back through ``canonical_asof``.

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
