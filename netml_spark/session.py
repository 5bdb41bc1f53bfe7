"""SparkSession factory with the engine's standard configuration.

Arrow on (every Python kernel exchanges Arrow batches — no per-row Python),
AQE on (runtime re-plan + skew-join splitting), UTC session timezone
(deterministic timestamp<->double epoch-second arithmetic, matching the
reference's float-seconds time model, reference parser.py:61).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults sized for the sandbox (local[N], 128 GiB). On a real cluster the
# same code runs unchanged; shuffle partitions should then track
# 2-3x total executor cores, and AQE coalescing trims the rest.
DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))


def get_spark(
    app_name: str = "netml-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    Parameters
    ----------
    master : e.g. ``local[8]`` / ``local[32]``. Defaults to
        ``local[$SPARK_GRAFT_CPUS]`` (env, default 32), so a run can set
        its parallelism without code changes.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow for toPandas()/createDataFrame(pandas) conversions; the
        # Python kernels are Arrow UDFs and exchange Arrow batches anyway.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing (r6, guide §4.2): the r1 value of 2048 rows
        # made every 5M-row kernel pass pay ~2600 per-batch overheads
        # (Arrow batch exchange + kernel dispatch + numpy setup). 8192 rows
        # amortizes that 4x while the BYTE cap below (Spark 4) keeps
        # worst-case batches of long token arrays memory-bounded — the
        # byte cap, not the row cap, is the real safety knob. Callers that
        # need other sizes pass them through extra_conf.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.execution.arrow.maxBytesPerBatch", str(32 * 1024 * 1024))
        # AQE: runtime coalesce + skew-join splitting for heavy-hitter keys.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE change a cached plan's output partitioning. Without it AQE
        # cannot coalesce the final stage of a cached plan (such as
        # FeaturePlan's sequences cache): a write over the cache then runs
        # one task and writes one file per shuffle partition, and behind a
        # Python kernel pays one Python task each, however small they are.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Exact-percentile two-pass plans collect one scalar; keep broadcast
        # threshold at default 10MB — label/dim tables broadcast freely.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # local mode shares ONE heap across all task threads: size it for the
        # 32-thread case or window sorts spill and 4N runs slower than N
        # (measured: 9.0s -> 3.2s on the north job by going 8g -> 48g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
