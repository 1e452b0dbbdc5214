"""Partition-level incremental resume (north rule: per-partition
lineage; completed crawl batches are never recomputed)."""

from __future__ import annotations

from pyspark.sql import functions as F

from mhdb_tables2turtles_spark.web.materialize import StagedPipeline
from mhdb_tables2turtles_spark.web.mentions import scan_mentions
from mhdb_tables2turtles_spark.web.pipeline import build_corpus


def _with_batches(pages):
    # crawl-batch id derived from the page id embedded in the url
    return pages.withColumn(
        "batch", F.pmod(F.xxhash64("url"), F.lit(4))
    )


def test_incremental_stage_skips_done_batches(spark, tmp_path, onto_ttl):
    pages = _with_batches(
        build_corpus(spark, 40, seed=13, partitions=4, ttl_path=onto_ttl)
    ).cache()
    surfaces = ("music", "chills", "study")

    def mention_fn(batch_pages):
        m = scan_mentions(batch_pages.select("url", "text"), surfaces)
        return m.join(batch_pages.select("url", "batch"), "url")

    wd = str(tmp_path / "inc")
    # run 1: only batches 0 and 1 have "arrived" (or the job died after
    # committing them)
    p1 = StagedPipeline(spark, wd)
    p1.incremental_stage(
        "mentions", pages.filter(F.col("batch") < 2), "batch", mention_fn
    )
    assert p1.manifest("mentions")["done_partitions"] == [0, 1]

    # run 2: full input; only batches 2 and 3 are computed
    p2 = StagedPipeline(spark, wd)
    out = p2.incremental_stage("mentions", pages, "batch", mention_fn)
    assert p2.log == ["compute:mentions:[2, 3]"]
    assert p2.manifest("mentions")["done_partitions"] == [0, 1, 2, 3]

    # run 3: nothing to do
    p3 = StagedPipeline(spark, wd)
    out3 = p3.incremental_stage("mentions", pages, "batch", mention_fn)
    assert p3.log == ["resume:mentions"]

    # result identical to a from-scratch single pass
    scratch = mention_fn(pages)
    a = sorted((r.url, r.surface) for r in out3.collect())
    b = sorted((r.url, r.surface) for r in scratch.collect())
    assert a == b


def test_incremental_stage_rewrite_is_idempotent(spark, tmp_path, onto_ttl):
    """A batch interrupted before its manifest update is re-overwritten
    (dynamic partition overwrite), not duplicated."""
    pages = _with_batches(
        build_corpus(spark, 20, seed=14, partitions=2, ttl_path=onto_ttl)
    ).cache()
    surfaces = ("music",)

    def fn(batch_pages):
        m = scan_mentions(batch_pages.select("url", "text"), surfaces)
        return m.join(batch_pages.select("url", "batch"), "url")

    wd = str(tmp_path / "inc2")
    p1 = StagedPipeline(spark, wd)
    p1.incremental_stage("m", pages, "batch", fn)
    n = spark.read.parquet(f"{wd}/m").count()

    # simulate "data written but manifest lost for batch 3": shrink the
    # manifest, rerun — batch 3 is overwritten in place, count unchanged
    import json, os

    man_path = os.path.join(wd, "m", "_STAGE_MANIFEST.json")
    man = json.load(open(man_path))
    man["done_partitions"] = [p for p in man["done_partitions"] if p != 3]
    json.dump(man, open(man_path, "w"))

    p2 = StagedPipeline(spark, wd)
    out = p2.incremental_stage("m", pages, "batch", fn)
    assert out.count() == n
    assert p2.manifest("m")["done_partitions"] == [0, 1, 2, 3]


def test_incremental_stage_empty_first_write_readable(spark, tmp_path, onto_ttl):
    """A first run whose transform yields ZERO rows must still commit a
    readable stage (schema recorded in the manifest): previously the
    empty partitioned directory broke the immediate read-back with
    'unable to infer schema'."""
    pages = _with_batches(
        build_corpus(spark, 10, seed=15, partitions=2, ttl_path=onto_ttl)
    ).cache()

    def empty_fn(batch_pages):
        m = scan_mentions(batch_pages.select("url", "text"), ("zz_nonexistent",))
        return m.join(batch_pages.select("url", "batch"), "url")

    wd = str(tmp_path / "inc3")
    p1 = StagedPipeline(spark, wd)
    out = p1.incremental_stage("m", pages, "batch", empty_fn)
    assert out.count() == 0
    assert "batch" in out.columns and "surface" in out.columns
    # resume run also reads the committed empty stage fine
    p2 = StagedPipeline(spark, wd)
    out2 = p2.incremental_stage("m", pages, "batch", empty_fn)
    assert p2.log == ["resume:m"] and out2.count() == 0


def test_incremental_stage_null_partition_keys(spark, tmp_path, onto_ttl):
    """Rows with a NULL partition key are processed (once), not silently
    dropped by the ~isin(done) resume filter."""
    pages = (
        _with_batches(
            build_corpus(spark, 20, seed=16, partitions=2, ttl_path=onto_ttl)
        )
        # a third of pages lose their batch id (e.g. unparsable WARC meta)
        .withColumn(
            "batch",
            F.when(F.pmod(F.xxhash64("url"), F.lit(3)) == 0, None).otherwise(
                F.col("batch")
            ),
        )
        .cache()
    )
    n_null = pages.filter(F.col("batch").isNull()).count()
    assert n_null > 0

    def fn(batch_pages):
        return batch_pages.select("url", "batch")

    wd = str(tmp_path / "inc4")
    p1 = StagedPipeline(spark, wd)
    out = p1.incremental_stage("m", pages, "batch", fn)
    assert out.count() == pages.count()
    assert out.filter(F.col("batch").isNull()).count() == n_null
    assert p1.manifest("m")["null_partition_done"] is True

    # resume: nothing recomputed, null rows still present exactly once
    p2 = StagedPipeline(spark, wd)
    out2 = p2.incremental_stage("m", pages, "batch", fn)
    assert p2.log == ["resume:m"]
    assert out2.filter(F.col("batch").isNull()).count() == n_null
