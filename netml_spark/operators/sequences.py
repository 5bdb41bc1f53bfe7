"""Event rows -> one row per flow/sequence (the input_hint shape).

``events_to_sequences`` materializes the reference's layer-2/3 abstraction
(flow with ordered per-flow series, parser.py:354-398) as a DataFrame with
``times:array<double>`` and ``tokens:array<int>`` columns: a single
hash-aggregate with ``sort_array(collect_list(struct(...)))`` — the sort key
is (ts, seq) so duplicate timestamps keep their arrival order, matching the
reference's stable sort (parser.py:151).

Scale note: a group is one JVM row (Spark's 2 GB limit) and one Arrow row,
so the longest group bounds it. FeaturePlan groups whole sessions: an entity
that never idles for the timeout is one row (ROADMAP item 11 measures it).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netml_spark.util import ts_seconds


def events_to_sequences(
    df: DataFrame,
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    token_col: str = "token",
    order_cols: Sequence[str] = ("seq",),
    carry_cols: Sequence[str] = ("source",),
    extra_series: Sequence[str] = (),
) -> DataFrame:
    """Collapse event rows to
    ``(entity..., times:array<double>, tokens:array<int32>, n_tok:int32,
    carry..., [extra series...])`` with per-row arrays ordered by
    (ts, *order_cols)."""
    ts_d = ts_seconds(df, ts_col)
    packed = F.struct(
        ts_d.alias("_t"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
        F.col(token_col).cast("int").alias("_tok"),
        *[F.col(c).alias(f"_x_{c}") for c in extra_series],
    )
    agg = df.groupBy(*entity_cols).agg(
        F.sort_array(F.collect_list(packed)).alias("_p"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    out = agg.select(
        *entity_cols,
        F.col("_p._t").alias("times"),
        F.col("_p._tok").alias("tokens"),
        F.size("_p").cast("int").alias("n_tok"),
        *carry_cols,
        *[F.col(f"_p._x_{c}").alias(f"{c}s") for c in extra_series],
    )
    return out
