"""STATS 12-vector aggregate over event rows — fully Catalyst-native
(reference parser.py:430-469); FeaturePlan uses ``kernels.stats`` instead.

One ``groupBy(keys).agg(...)``: hash aggregate with map-side partials, no
UDF, no window. ``percentile`` is Spark's exact percentile with linear
interpolation — identical to ``np.quantile`` default (parity pinned in
tests); std is population std (``stddev_pop``) matching ``np.std`` ddof=0
(parser.py:462); rates are 0 when duration == 0 (parser.py:454-459).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netml_spark.util import ts_seconds

STATS_COLS = (
    "duration", "pkts_rate", "bytes_rate", "size_mean", "size_std",
    "size_q1", "size_q2", "size_q3", "size_min", "size_max",
    "num_pkts", "num_bytes",
)


def stats_features(
    df: DataFrame,
    keys: Sequence[str] = ("doc_id", "session_id"),
    ts_col: str = "ts",
    size_col: str = "token",
) -> DataFrame:
    """Per-group [duration, pkts_rate, bytes_rate, mean, std_pop, q1, q2, q3,
    min, max, num_pkts, num_bytes] — the reference's STATS feature."""
    ts_d = ts_seconds(df, ts_col)
    size_d = F.col(size_col).cast("double")
    agg = df.groupBy(*keys).agg(
        (F.max(ts_d) - F.min(ts_d)).alias("duration"),
        F.count(F.lit(1)).cast("double").alias("num_pkts"),
        F.sum(size_d).alias("num_bytes"),
        F.mean(size_d).alias("size_mean"),
        F.coalesce(F.stddev_pop(size_d), F.lit(0.0)).alias("size_std"),
        F.percentile(size_d, F.lit(0.25)).alias("size_q1"),
        F.percentile(size_d, F.lit(0.5)).alias("size_q2"),
        F.percentile(size_d, F.lit(0.75)).alias("size_q3"),
        F.min(size_d).alias("size_min"),
        F.max(size_d).alias("size_max"),
    )
    zero_dur = F.col("duration") == 0
    return agg.select(
        *keys,
        "duration",
        F.when(zero_dur, 0.0).otherwise(F.col("num_pkts") / F.col("duration")).alias("pkts_rate"),
        F.when(zero_dur, 0.0).otherwise(F.col("num_bytes") / F.col("duration")).alias("bytes_rate"),
        "size_mean", "size_std", "size_q1", "size_q2", "size_q3",
        "size_min", "size_max", "num_pkts", "num_bytes",
    )
