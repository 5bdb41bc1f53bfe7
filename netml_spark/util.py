"""Small shared helpers."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def ts_seconds(df: DataFrame, ts_col: str) -> Column:
    """Epoch-seconds double view of a time column.

    Handles double (already epoch seconds), TIMESTAMP, and TIMESTAMP_NTZ
    (Spark 4 forbids a direct NTZ->double cast; route via TIMESTAMP — with
    the engine's UTC session timezone this is the identity interpretation,
    matching DuckDB's epoch()). Reproduces the reference's float-seconds
    time model (parser.py:61)."""
    dt = df.schema[ts_col].dataType.simpleString()
    c = F.col(ts_col)
    if dt.startswith("timestamp"):
        return c.cast("timestamp").cast("double")
    if dt == "double":
        # No-op cast elimination (r6): a cast(double as double) survives
        # analysis long enough that window planning pre-projects the
        # expression into a duplicate `_w0` column, which then rides the
        # entity exchange and every sort (~8 bytes/row of pure overhead
        # on the sessionize/as-of paths). Returning the bare column keeps
        # lag()/window args as plain attributes — nothing extra shuffles.
        return c
    return c.cast("double")


def event_time(df: DataFrame, ts_col: str) -> Column:
    """TIMESTAMP view of a time column for event-time windows and
    watermarks: numeric input is epoch seconds."""
    c = F.col(ts_col)
    if dict(df.dtypes)[ts_col] in ("double", "bigint", "float", "int"):
        return F.timestamp_seconds(c)
    return c.cast("timestamp")


def drop_null_ts(df: DataFrame, ts_col: str, token_col: str | None = None) -> DataFrame:
    """Drop the rows without a time (null ``ts``, or NaN for double/float
    input): they have no place in a session or on a split grid. Given
    ``token_col``, drop the rows without a token in the same filter: the
    reference has no packet without a size."""
    keep = F.lit(True)
    for c in (ts_col, token_col) if token_col else (ts_col,):
        keep &= F.col(c).isNotNull()
        if dict(df.dtypes)[c] in ("double", "float"):
            keep &= ~F.isnan(c)
    return df.filter(keep)
