"""Checkpoint manifest — per-partition lineage + idempotent resume.

North-rule requirement: every partition emits lineage and row-count/checksum
metrics to a checkpoint manifest so interrupted backfills resume
idempotently (SURVEY.md §4.2; the reference has only a driver-side spool
buffer, cli.py:246).

Design (Parquet-dir backend; ``use_iceberg()`` upgrades the partition
writes to Iceberg ``writeTo`` tables when the runtime jar is present —
detected at call time, same API):

- a *stage* writes its output partitioned by a user-chosen partition column
  (e.g. ``source`` or a date bucket), one directory per partition value;
- after each partition lands, a manifest row
  (stage, partition, input_fp, row_count, checksum, status, wall_s) is
  appended to ``<root>/_manifest`` (a tiny parquet table — the only
  driver-side state). Within ``run_stage`` rows are BUFFERED and flushed
  in batches of ``flush_every`` (one parquet file per flush), so a
  10 000-partition backfill leaves ~300 manifest files, not 10 000. A
  crash loses at most the unflushed tail of records; those partitions
  simply recompute on resume — idempotent, never wrong;
- ``run_stage`` skips partitions whose manifest row is already ``ok`` AND
  whose recorded input fingerprint matches the current one (a run WITHOUT
  ``input_fp`` treats any recorded fingerprint as matching — toggling
  fingerprinting off must not redo a completed backfill); if the input
  for a partition changed since the checkpoint, it is recomputed, never
  silently skipped;
- the checksum is an order-insensitive xor-fold of per-row xxhash64 over
  the output columns, computed as 64 per-bit parity aggregates
  (sum(bit) % 2 per bit position) — a plain hash aggregate with map-side
  partials, O(1) state per partition regardless of row count (the naive
  collect_list fold would buffer every row hash);
- partitions run ``max_parallel`` at a time (Spark schedules jobs from
  concurrent driver threads fairly; each partition is an independent job,
  so a 20-source backfill overlaps scan/shuffle/write across sources).
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from functools import reduce
from threading import Lock
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def xor_checksum(h) -> F.Column:
    """Order-insensitive xor aggregate of a long column, as 64 per-bit
    parity sums: bit b of the result = sum over rows of bit b, mod 2.
    Distributed (hash-agg partials), no per-row state on the driver."""
    terms = [
        F.shiftleft(
            (F.sum(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1))) % 2).cast("long"),
            b,
        )
        for b in range(64)
    ]
    return F.coalesce(reduce(lambda a, b: a.bitwiseOR(b), terms), F.lit(0))


def partition_metrics(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """(row_count, checksum) for a DataFrame: checksum = xor-fold of
    xxhash64 over all (stringified) columns — order-insensitive, so
    partition-internal ordering changes don't break resume comparisons."""
    cols = list(cols or df.columns)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    return df.agg(
        F.count(F.lit(1)).alias("row_count"),
        xor_checksum(h).alias("checksum"),
    )


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg catalog is usable in this session (runtime jar
    on the classpath AND a catalog configured). Sandbox ships no jar, so
    this degrades to False and the parquet-dir backend is used."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        return False
    conf = spark.conf
    for key in ("spark.sql.catalog.spark_catalog", "spark.sql.catalog.local"):
        try:
            impl = conf.get(key)
        except Exception:
            impl = None
        if impl and "iceberg" in impl.lower():
            return True
    return False


class CheckpointManifest:
    def __init__(self, spark: SparkSession, root: str, iceberg: bool | None = None,
                 iceberg_table: str | None = None):
        """``iceberg_table`` is the EXPLICIT catalog identifier (e.g.
        ``local.db.features``) partition writes target when the Iceberg
        backend is active. It is the caller's contract with their catalog —
        round 2 derived one from the filesystem path
        (``/tmp/ckpt/stage`` -> ``tmp.ckpt.stage``), which no real catalog
        namespace would accept; that guess is gone."""
        self.spark = spark
        self.root = root
        self.path = os.path.join(root, "_manifest")
        self._lock = Lock()
        self._buffer: list | None = None  # non-None => run_stage batching
        self._flush_every = 32
        # Iceberg upgrade hook: when the runtime jar + a catalog are
        # present, partition outputs land as Iceberg table partitions
        # (replaceWhere semantics); otherwise parquet dirs.
        self.iceberg = iceberg_available(spark) if iceberg is None else iceberg
        self.iceberg_table = iceberg_table
        if self.iceberg and not self.iceberg_table:
            raise ValueError(
                "Iceberg backend active but no iceberg_table identifier "
                "given; pass iceberg_table='catalog.db.table' (or "
                "iceberg=False for the parquet-dir backend)"
            )

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

    def record(self, stage: str, partition: str, row_count: int,
               checksum: int, wall_s: float, status: str = "ok",
               input_fp: str = "") -> None:
        row = {
            "stage": stage, "partition": str(partition),
            "input_fp": str(input_fp),
            "row_count": int(row_count), "checksum": int(checksum),
            "wall_s": float(wall_s), "status": status,
            "finished_at": time.time(),
        }
        with self._lock:  # manifest appends serialize; partition jobs don't
            if self._buffer is not None:
                self._buffer.append(row)
                if len(self._buffer) >= self._flush_every:
                    self._write_rows(self._buffer)
                    self._buffer = []
            else:
                self._write_rows([row])

    def _flush(self) -> None:
        with self._lock:
            if self._buffer:
                self._write_rows(self._buffer)
            self._buffer = None

    def _write_partition(self, df: DataFrame, out_root: str,
                         partition_col: str, pv) -> None:
        if self.iceberg:
            (
                df.withColumn(partition_col, F.lit(str(pv)))
                .writeTo(self.iceberg_table)
                .overwritePartitions()
            )
        else:
            df.write.mode("overwrite").parquet(
                os.path.join(out_root, f"{partition_col}={pv}")
            )

    def run_stage(
        self,
        stage: str,
        partitions: Sequence[str],
        build: Callable[[str], DataFrame],
        partition_col: str,
        output_subdir: str | None = None,
        input_fp: Callable[[str], str] | None = None,
        max_parallel: int = 4,
        flush_every: int = 32,
        release: Callable[[str], None] | None = None,
    ) -> dict:
        """Run ``build(partition_value)`` for every partition not yet 'ok'
        (with matching input fingerprint) in the manifest; write each to
        <root>/<stage>/<partition_col>=<v>/ and record metrics. Partitions
        run ``max_parallel`` at a time as independent Spark jobs; manifest
        rows are flushed in batches of ``flush_every`` (bounded manifest
        file count — a crash loses at most one unflushed batch, whose
        partitions recompute idempotently on resume).

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
        out_root = os.path.join(self.root, output_subdir or stage)
        done = self.completed(stage)
        results = {}
        with self._lock:
            self._buffer = []
            self._flush_every = max(1, int(flush_every))

        def fp_of(pv) -> str:
            return str(input_fp(pv)) if input_fp is not None else ""

        def run_one(pv):
            t0 = time.time()
            try:
                fp = fp_of(pv)
            except Exception as e:
                self.record(stage, pv, 0, 0, time.time() - t0,
                            status="error", input_fp="")
                return pv, ("error", str(e))
            if str(pv) in done and (fp == "" or done[str(pv)] == fp):
                return pv, ("skipped", None)
            df = None
            try:
                df = build(pv).cache()
                m = partition_metrics(df).collect()[0]
                self._write_partition(df, out_root, partition_col, pv)
                self.record(stage, pv, m.row_count, m.checksum,
                            time.time() - t0, input_fp=fp)
                return pv, ("ok", m.row_count)
            except Exception as e:
                # one bad partition must not kill a 20-source backfill:
                # record it (status='error' rows never satisfy resume, so
                # the next run retries it) and keep going
                self.record(stage, pv, 0, 0, time.time() - t0,
                            status="error", input_fp=fp)
                return pv, ("error", str(e))
            finally:
                if df is not None:
                    df.unpersist()
                if release is not None:
                    release(pv)

        try:
            with ThreadPoolExecutor(max_workers=max(1, int(max_parallel))) as ex:
                for pv, res in ex.map(run_one, partitions):
                    results[pv] = res
        finally:
            self._flush()
        return results
