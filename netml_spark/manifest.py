"""Checkpoint manifest — per-partition lineage + idempotent resume.

North-rule requirement: every partition emits lineage and row-count/checksum
metrics to a checkpoint manifest so interrupted backfills resume
idempotently (SURVEY.md §4.2; the reference has only a driver-side spool
buffer, cli.py:246).

Design:

- a *stage* writes its output one partition value at a time: a parquet
  directory ``<root>/<stage>/<partition_col>=<v>/``, or, when the manifest
  is given an ``iceberg_table`` identifier, that Iceberg table through
  ``writeTo(...).overwritePartitions()`` with the partition column stamped;
  a null value is named ``NULL_PARTITION`` in the directory and the
  manifest, and stamped null;
- the partition's row count and checksum ride its own write: ``run_stage``
  attaches them with ``DataFrame.observe``, so a partition runs the jobs of
  its write and nothing else (no cache, no separate aggregation). The
  ``Observation`` is read only after the write returned, because
  ``Observation.get`` blocks until an action has run the observed plan;
- after each partition lands, a manifest row
  (stage, partition, input_fp, row_count, checksum, status, wall_s) is
  appended to ``<root>/_manifest`` (a tiny parquet table — the only
  driver-side state). Rows are BUFFERED and flushed in batches of
  ``FLUSH_EVERY`` (one parquet file per flush), so a 10 000-partition
  backfill leaves ~300 manifest files, not 10 000. A crash loses at most
  the unflushed tail of records; those partitions simply recompute on
  resume — idempotent, never wrong;
- ``run_stage`` skips partitions whose manifest row is already ``ok`` AND
  whose recorded input fingerprint matches the current one (a run WITHOUT
  ``input_fp`` treats any recorded fingerprint as matching — toggling
  fingerprinting off must not redo a completed backfill); if the input
  for a partition changed since the checkpoint, it is recomputed, never
  silently skipped;
- the checksum is an order-insensitive ``bit_xor`` of per-row xxhash64
  over the output columns (0 for an empty partition) — O(1) state per
  partition regardless of row count;
- partitions run ``MAX_PARALLEL`` at a time (Spark schedules jobs from
  concurrent driver threads fairly; each partition is an independent job,
  so a 20-source backfill overlaps scan/shuffle/write across sources).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from threading import Lock
from typing import Callable, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

FLUSH_EVERY = 32  # manifest rows per parquet file
MAX_PARALLEL = 4  # partitions built and written concurrently
# Spark's directory name for a null partition value: no real value takes
# it, and partition discovery reads it back as null
NULL_PARTITION = "__HIVE_DEFAULT_PARTITION__"


def partition_name(pv) -> str:
    """The manifest and directory name of partition value ``pv``."""
    return NULL_PARTITION if pv is None else str(pv)


def partition_metrics(cols: Sequence[str]) -> list[F.Column]:
    """The ``row_count`` and ``checksum`` aggregates over ``cols``:
    checksum = xor-fold of xxhash64 over the (stringified) columns —
    order-insensitive, so partition-internal ordering changes don't break
    resume comparisons. ``run_stage`` observes them on each partition's
    write; ``df.agg(*partition_metrics(df.columns))`` computes them alone."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    return [F.count(F.lit(1)).alias("row_count"),
            F.coalesce(F.bit_xor(h), F.lit(0)).alias("checksum")]


class CheckpointManifest:
    def __init__(self, spark: SparkSession, root: str, iceberg_table: str | None = None):
        """Partitions land as parquet directories under ``root``, or, when
        ``iceberg_table`` is given, in that Iceberg table. The identifier
        (e.g. ``local.db.features``) is the caller's contract with their
        catalog; none is ever derived from the filesystem path."""
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "_manifest")
        self.iceberg_table = iceberg_table
        self._lock = Lock()
        self._buffer: list = []

    def read(self) -> DataFrame | None:
        if not os.path.exists(self.path):
            return None
        try:
            return self.spark.read.parquet(self.path)
        except Exception:
            return None

    def completed(self, stage: str) -> dict:
        """{partition: input_fp} for 'ok' rows of this stage (last write
        wins per partition). Manifests written before input_fp existed
        surface as fp '' — matching the default no-fingerprint mode."""
        m = self.read()
        if m is None:
            return {}
        if "input_fp" not in m.columns:
            m = m.withColumn("input_fp", F.lit(""))
        rows = (
            m.filter((F.col("stage") == stage) & (F.col("status") == "ok"))
            .orderBy("finished_at")
            .select("partition", "input_fp")
            .collect()
        )
        return {r.partition: r.input_fp for r in rows}

    def _write_rows(self, rows: list) -> None:
        import pandas as pd

        self.spark.createDataFrame(pd.DataFrame(rows)).coalesce(1) \
            .write.mode("append").parquet(self.path)

    def _record(self, stage: str, partition: str, input_fp: str, wall_s: float,
                row_count: int = 0, checksum: int = 0, status: str = "ok") -> None:
        row = {
            "stage": stage, "partition": partition_name(partition),
            "input_fp": input_fp,
            "row_count": int(row_count), "checksum": int(checksum),
            "wall_s": float(wall_s), "status": status,
            "finished_at": time.time(),
        }
        with self._lock:  # manifest appends serialize; partition jobs don't
            self._buffer.append(row)
            if len(self._buffer) >= FLUSH_EVERY:
                self._flush_locked()

    def _flush_locked(self) -> None:
        if self._buffer:
            self._write_rows(self._buffer)
        self._buffer = []

    def _write_partition(self, df: DataFrame, stage: str, partition_col: str, pv) -> None:
        if self.iceberg_table:
            stamp = F.lit(None if pv is None else str(pv)).cast("string")
            df.withColumn(partition_col, stamp).writeTo(self.iceberg_table).overwritePartitions()
        else:
            df.write.mode("overwrite").parquet(
                os.path.join(self.root, stage, f"{partition_col}={partition_name(pv)}")
            )

    def run_stage(
        self,
        stage: str,
        partitions: Sequence[str],
        build: Callable[[str], DataFrame],
        partition_col: str,
        input_fp: Callable[[str], str] | None = None,
        release: Callable[[str], None] | None = None,
    ) -> dict:
        """Run ``build(partition_value)`` for every partition not yet 'ok'
        (with matching input fingerprint) in the manifest; write each to
        <root>/<stage>/<partition_col>=<v>/ (or the Iceberg table) and
        record the row count and checksum that its write observed.
        Partitions run ``MAX_PARALLEL`` at a time; manifest rows are
        flushed in batches of ``FLUSH_EVERY`` (bounded manifest file count
        — a crash loses at most one unflushed batch, whose partitions
        recompute idempotently on resume).

        ``input_fp(pv)`` should return a cheap stamp of the partition's
        input (file mtime+size, snapshot id, upstream checksum). When
        given, a checkpointed partition whose current fingerprint differs
        from the recorded one is REcomputed. Without it, any 'ok'
        partition is skipped regardless of its recorded fingerprint —
        turning fingerprinting off must not redo a completed backfill.
        A fingerprint callable that itself raises (missing input file for
        one partition) marks THAT partition 'error' and the run
        continues — same isolation as build/write failures.

        ``release(pv)``, when given, runs once a built partition's write
        and manifest record are done (or have failed), so caches that
        ``build`` held for that partition do not outlive it."""
        done = self.completed(stage)

        def run_one(pv):
            t0 = time.time()
            try:
                fp = str(input_fp(pv)) if input_fp is not None else ""
            except Exception as e:
                self._record(stage, pv, "", time.time() - t0, status="error")
                return pv, ("error", str(e))
            name = partition_name(pv)
            if name in done and (fp == "" or done[name] == fp):
                return pv, ("skipped", None)
            try:
                df = build(pv)
                obs = Observation()
                self._write_partition(df.observe(obs, *partition_metrics(df.columns)),
                                      stage, partition_col, pv)
                m = obs.get  # the write has run the observed plan
                self._record(stage, pv, fp, time.time() - t0,
                             m["row_count"], m["checksum"])
                return pv, ("ok", m["row_count"])
            except Exception as e:
                # one bad partition must not kill a 20-source backfill:
                # record it (status='error' rows never satisfy resume, so
                # the next run retries it) and keep going
                self._record(stage, pv, fp, time.time() - t0, status="error")
                return pv, ("error", str(e))
            finally:
                if release is not None:
                    release(pv)

        try:
            with ThreadPoolExecutor(max_workers=MAX_PARALLEL) as ex:
                return dict(ex.map(run_one, partitions))
        finally:
            with self._lock:
                self._flush_locked()
