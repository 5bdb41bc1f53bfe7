"""Point-in-time (as-of) join and backfill — the L1 temporal core.

The north rule requires as-of feature lookup at entity×timestamp with zero
temporal leakage (reference analogue: the exact-key label probe,
parser.py:909-911, and the "state as of packet t" semantics of its
sequential loops).

``asof_join`` (sort-merge): union-tag both sides, ONE hash partition by
entity, one ordered window pass with ``last(ignorenulls)`` — no join
operator at all, so no skew-join risk and no N×M blowup; this is the
100 TB path. Right-side rows sort *before* left rows at equal timestamps,
so a feature stamped at exactly t is visible at t (inclusive as-of,
matching pandas.merge_asof allow_exact_matches=True and DuckDB ASOF).

Leakage property (pinned by tests): output at (entity, t) never depends on
right rows with ts > t.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from netml_spark.util import ts_seconds


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str | None = None,
    value_cols: Sequence[str] | None = None,
    tolerance: float | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right-side ``value_cols``
    with right.ts <= left.ts (per entity ``on``), optionally within
    ``tolerance`` seconds; a left row with no match keeps null values.
    """
    on = list(on)
    right_ts = right_ts or left_ts
    if value_cols is None:
        value_cols = [c for c in right.columns if c not in on and c != right_ts]
    value_cols = list(value_cols)

    left_cols = list(left.columns)
    # output names for right value columns (suffix on collision with left)
    val_out = [c if c not in left_cols else f"{c}_right" for c in value_cols]

    # Merged-timestamp layout (r6, guide §2.3 "shuffle fewer bytes"): when
    # both sides share the left-ts dtype, the RIGHT leg writes its own ts
    # value into the left ts column and the union sorts on that column
    # directly — no separate `_ts` double ever materializes, so the entity
    # exchange and both window sorts carry one fewer 8-byte column per row.
    # Right rows are dropped by the `_side` filter before projection, so
    # their value in the left ts column is never observable; ordering is
    # identical because ts_seconds is monotone and tie-preserving. The
    # mixed-dtype case keeps the explicit `_ts` sort column.
    merged = (
        left_ts not in on
        and left.schema[left_ts].dataType == right.schema[right_ts].dataType
    )
    l = left.select(
        *left_cols,
        *([] if merged else [ts_seconds(left, left_ts).alias("_ts")]),
        F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(o)
          for c, o in zip(value_cols, val_out)],
    )
    r = right.select(
        *on,
        *[
            (F.col(right_ts).alias(c) if merged and c == left_ts
             else F.lit(None).cast(left.schema[c].dataType).alias(c))
            for c in left_cols if c not in on
        ],
        *([] if merged else [ts_seconds(right, right_ts).alias("_ts")]),
        F.lit(0).alias("_side"),
        *[F.col(c).alias(o) for c, o in zip(value_cols, val_out)],
    )
    u = l.unionByName(r.select(*l.columns))

    sort_col = left_ts if merged else "_ts"
    ts_d = ts_seconds(u, sort_col) if merged else F.col("_ts")
    w = (
        Window.partitionBy(*on)
        .orderBy(sort_col, "_side")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # carry the matched right row as ONE struct so all value columns come
    # from the same right row even when some of its values are null; the
    # struct's ts member doubles as the matched right timestamp (for
    # _side==0 rows the sort column IS the right-side ts)
    payload = F.when(
        F.col("_side") == 0,
        F.struct(ts_d.alias("ts"), *[F.col(o).alias(o) for o in val_out]),
    )
    filled = u.select(
        *[c for c in u.columns if c not in val_out],
        F.last(payload, ignorenulls=True).over(w).alias("_m"),
    )
    out = filled.filter(F.col("_side") == 1)
    m = F.col("_m")
    if tolerance is not None:
        fresh = (ts_d - m["ts"]) <= F.lit(float(tolerance))
        m = F.when(m.isNotNull() & fresh, m)
    return out.select(
        *[c for c in out.columns if c not in ("_m", "_side", "_ts")],
        m["ts"].alias("asof_ts"),
        *[m[o].alias(o) for o in val_out],
    )


def backfill(
    df: DataFrame,
    cols: Sequence[str],
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Forward-fill nulls per entity in event-time order (last observation
    carried forward) — `last(ignorenulls) over unbounded-preceding`."""
    w = (
        Window.partitionBy(*entity_cols)
        .orderBy(ts_col, *order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = df
    for c in cols:
        out = out.withColumn(c, F.last(c, ignorenulls=True).over(w))
    return out
