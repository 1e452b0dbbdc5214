"""Staged graph materialization: atomic per-stage commits, per-partition
lineage, counters, resume.

Iceberg-style semantics emulated on plain parquet (the sandbox has no
catalog service): a stage is *committed* only once its parquet write has
finished AND a ``_STAGE_MANIFEST.json`` (rows, per-partition lineage,
counters, upstream stages) lands next to it.  A killed job leaves either
nothing or an uncommitted directory — both of which :meth:`stage`
recomputes with ``mode=overwrite`` — so a restart resumes from the last
committed snapshot and never duplicates committed work (north rule:
"resumable from checkpoint with per-partition lineage + metrics").

A stage equal to another committed stage commits as an *alias*: a
manifest naming that stage's data, no copy.

The manifest also carries the written frame's schema, so reading a
committed stage submits no Spark job (parquet schema inference is one);
a manifest without it falls back to inference.

On a real cluster, swap ``_write_parquet``/``_read`` for
``writeTo(...).createOrReplace()`` on an Iceberg catalog; the manifest
maps onto Iceberg's own snapshot summary + a lineage table.

Counters use ``pyspark.sql.Observation`` (batch `observe`): row counts are
collected from the *same job* that writes the data — no second scan.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from typing import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

__all__ = ["StagedPipeline"]

MANIFEST = "_STAGE_MANIFEST.json"
LINEAGE_COL = "__lineage_part"


def _lineage_from_footers(path: str) -> "dict[str, int] | None":
    """Per-source-partition row counts read from the committed parquet
    FOOTERS, driver-side — no Spark job.  Each write task emits one
    file whose rows all carry the same ``LINEAGE_COL`` value (the
    pre-write ``spark_partition_id``), so every row group's min==max
    statistic identifies the partition and ``num_rows`` is its count.
    Returns None (caller falls back to a Spark aggregation) whenever a
    footer cannot be read or does not carry that invariant: missing or
    truncated footer, no lineage column, absent statistics, or a row
    group whose min and max differ."""
    import pyarrow.parquet as pq

    lineage: dict[str, int] = {}
    try:
        for fname in os.listdir(path):
            if not fname.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, fname)).metadata
            idx = None
            for i in range(md.num_columns):
                if md.schema.column(i).name == LINEAGE_COL:
                    idx = i
                    break
            if idx is None:
                return None
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                if rg.num_rows == 0:
                    continue
                st = rg.column(idx).statistics
                if st is None or not st.has_min_max or st.min != st.max:
                    return None
                key = str(st.min)
                lineage[key] = lineage.get(key, 0) + rg.num_rows
    except (OSError, ValueError):
        # pyarrow raises ArrowInvalid (a ValueError subclass, NOT an
        # OSError) on a truncated/unparseable footer — fall back to the
        # Spark aggregation either way
        return None
    return lineage


class StagedPipeline:
    """Chain DataFrame stages with commit/resume per stage."""

    def __init__(self, spark: SparkSession, workdir: str):
        self.spark = spark
        self.workdir = workdir
        os.makedirs(workdir, exist_ok=True)
        self.log: list[str] = []

    def _path(self, name: str) -> str:
        return os.path.join(self.workdir, name)

    def is_committed(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), MANIFEST))

    def manifest(self, name: str) -> dict:
        with open(os.path.join(self._path(name), MANIFEST)) as f:
            return json.load(f)

    def _load(self, name: str) -> DataFrame:
        """Committed data of ``name``, an :meth:`alias` resolved.  Read
        with the manifest's ``schema``: no inference job, and a
        partition column keeps its written type (discovery would type a
        numeric-looking string as an int).  A manifest without the key
        is read by inference."""
        m = self.manifest(name)
        reader = self.spark.read
        if m.get("schema"):
            reader = reader.schema(StructType.fromJson(m["schema"]))
        data = self._path(m.get("data", name))
        return reader.parquet(data).drop(LINEAGE_COL)

    def _commit(self, path: str, manifest: dict) -> None:
        tmp = os.path.join(path, MANIFEST + ".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, os.path.join(path, MANIFEST))  # atomic commit point

    def read(self, name: str) -> DataFrame:
        """Committed output of ``name`` (raises if not committed)."""
        if not self.is_committed(name):
            raise RuntimeError(f"stage {name!r} has no committed snapshot")
        self.log.append(f"read:{name}")
        return self._load(name)

    def alias(self, name: str, source: str) -> DataFrame:
        """Commit ``name`` as ``source``'s output, uncopied: its
        directory (cleared of any uncommitted leftover) holds only a
        manifest whose ``data`` names ``source``'s parquet, with the
        keys of a :meth:`stage` manifest (rows, lineage and schema are
        ``source``'s, ``elapsed_sec`` the alias commit's own)."""
        path = self._path(name)
        self.log.append(f"compute:{name}")
        t0 = time.time()
        src = self.manifest(source)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        self._commit(path, {
            "stage": name,
            "data": source,
            "rows": src["rows"],
            "elapsed_sec": round(time.time() - t0, 2),
            "upstream": [source],
            "partitions": src.get("partitions", {}),
            "n_partitions": src.get("n_partitions", 0),
            "schema": src.get("schema"),
        })
        return self._load(name)

    def stage(
        self,
        name: str,
        build: Callable[[], DataFrame],
        upstream: tuple[str, ...] = (),
        counts: "dict[str, Column] | None" = None,
    ) -> DataFrame:
        """Return the stage's committed output, computing it only if no
        committed snapshot exists.

        Computing writes ``build()`` as parquet under ``<workdir>/<name>``
        with the source partition id as a lineage column, then commits a
        manifest (rows, elapsed seconds, ``upstream`` stage names,
        per-partition row counts, the written schema, and per ``counts``
        key the number of rows on which that boolean column is true —
        observed in the write job itself) by atomic rename.  Either way the
        returned DataFrame reads the committed data (an :meth:`alias`
        resolved), lineage column dropped."""
        path = self._path(name)
        if self.is_committed(name):
            self.log.append(f"resume:{name}")
            return self._load(name)

        self.log.append(f"compute:{name}")
        t0 = time.time()
        df = build().withColumn(LINEAGE_COL, F.spark_partition_id())
        obs = Observation(f"stage_{name}")
        counts = counts or {}
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            *(F.count_if(c).alias(k) for k, c in counts.items()),
        )
        df.write.mode("overwrite").parquet(path)
        elapsed = round(time.time() - t0, 2)

        # per-partition lineage: row counts per source partition, read
        # driver-side from the committed parquet footers (min==max row
        # group stats on the lineage column — zero Spark jobs); the
        # Spark aggregation only runs when a footer is unreadable or
        # lacks the min==max stats
        lineage = _lineage_from_footers(path)
        if lineage is None:
            lineage = {
                str(r[LINEAGE_COL]): r["n"]
                for r in self.spark.read.parquet(path)
                .groupBy(LINEAGE_COL)
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        manifest = {
            "stage": name,
            "rows": obs.get["rows"],
            "elapsed_sec": elapsed,
            "upstream": list(upstream),
            "partitions": lineage,
            "n_partitions": len(lineage),
            "schema": df.schema.jsonValue(),
            **{k: obs.get[k] for k in counts},
        }
        self.log.append(f"done:{name}:{elapsed}s")
        self._commit(path, manifest)
        return self._load(name)

    def incremental_stage(
        self,
        name: str,
        inputs: DataFrame,
        partition_key: str,
        fn: Callable[[DataFrame], DataFrame],
    ) -> DataFrame:
        """Partition-level resume: apply ``fn`` only to input partitions
        (values of ``partition_key``, e.g. a crawl-batch id) that no
        committed manifest lists as done; append their output via
        dynamic partition overwrite (idempotent if a previous attempt
        died mid-write), then extend the manifest.

        This is the per-partition lineage protocol of the north rule:
        the manifest's ``done_partitions`` is the lineage set, the
        anti-join (here a NOT IN over the driver-known id list) skips
        completed work, and a partition interrupted before its manifest
        update is simply re-overwritten on the next run.
        """
        path = self._path(name)
        committed = self.is_committed(name)
        m = self.manifest(name) if committed else {}
        done: list = m.get("done_partitions", [])
        null_done = m.get("null_partition_done", False)

        # explicit null handling: `~isin(done)` is NULL (dropped) for a
        # null partition key, which would silently skip those rows forever
        key = F.col(partition_key)
        not_done = ~key.isin(done) if done else F.lit(True)
        todo_df = inputs.filter(
            (key.isNotNull() & not_done)
            | (key.isNull() & F.lit(not null_done))
        )
        todo = [
            r[0] for r in todo_df.select(partition_key).distinct().collect()
        ]
        if not todo:
            self.log.append(f"resume:{name}")
            if not committed:
                # never committed AND zero input rows: nothing on disk to
                # read — hand back the (empty) transform result directly
                return fn(todo_df)
            # the manifest's schema also reads a directory that holds
            # no data file (every committed batch empty)
            return self._load(name)

        self.log.append(f"compute:{name}:{sorted(todo, key=str)}")
        out = fn(todo_df)
        assert partition_key in out.columns, (
            f"incremental stage {name!r} output must carry {partition_key!r}"
        )
        obs = Observation(f"inc_{name}")
        out = out.observe(obs, F.count(F.lit(1)).alias("rows"))
        (
            out.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(partition_key)
            .parquet(path)
        )
        manifest = {
            "stage": name,
            "rows": m.get("rows", 0) + obs.get["rows"],
            "incremental": True,
            "partition_key": partition_key,
            "done_partitions": sorted(
                done + [t for t in todo if t is not None], key=str
            ),
            "null_partition_done": null_done or any(t is None for t in todo),
            "schema": out.schema.jsonValue(),
        }
        self._commit(path, manifest)
        return self._load(name)

    def counters(self) -> dict[str, int]:
        """Committed row counts per stage (stages written by an older
        manifest format without a rows field are skipped, not fatal)."""
        out = {}
        for name in sorted(os.listdir(self.workdir)):
            if self.is_committed(name):
                rows = self.manifest(name).get("rows")
                if rows is not None:
                    out[name] = rows
        return out
