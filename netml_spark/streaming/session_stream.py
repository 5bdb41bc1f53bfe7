"""Structured Streaming twin of the batch sessionizer (SURVEY.md §2.10).

The reference is batch-only; its prototype live-capture loop
(examples/capture/capture_pkts.py:68-136) hand-rolls a 600 s flow timeout
(line 94) and a 1 h max-age eviction (line 123). Both map exactly onto
Spark primitives:

- event-time session window  -> ``F.session_window(ts, gap)`` groupBy
- late data                  -> ``withWatermark`` (documented divergence:
                                the reference has no lateness concept —
                                offline files — so late rows here are
                                DROPPED rather than appended)
- incremental feature emit   -> append output mode on session close

The aggregate emitted per closed session is the same STATS set as the
batch path (stats.py), so a streaming deployment produces rows a batch
backfill can be checked against.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netml_spark.util import event_time


def streaming_session_stats(
    events: DataFrame,
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    size_col: str = "token",
    gap: str = "600 seconds",
    watermark: str = "30 minutes",
) -> DataFrame:
    """readStream events -> session_window groupBy -> STATS per closed
    session. Works on a streaming OR batch DataFrame (same plan; for batch
    the watermark is a no-op), which is how the parity test pins it."""
    events = events.withColumn("_event_time", event_time(events, ts_col))
    if events.isStreaming:
        events = events.withWatermark("_event_time", watermark)
    size_d = F.col(size_col).cast("double")
    ev_d = F.col("_event_time").cast("double")
    agg = events.groupBy(
        *entity_cols, F.session_window("_event_time", gap).alias("sw")
    ).agg(
        (F.max(ev_d) - F.min(ev_d)).alias("duration"),
        F.count(F.lit(1)).cast("double").alias("num_pkts"),
        F.sum(size_d).alias("num_bytes"),
        F.mean(size_d).alias("size_mean"),
        F.min(size_d).alias("size_min"),
        F.max(size_d).alias("size_max"),
    )
    return agg.select(
        *entity_cols,
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "duration", "num_pkts", "num_bytes", "size_mean", "size_min", "size_max",
    )
