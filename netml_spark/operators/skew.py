"""Skew handling for heavy-hitter keys (SURVEY.md §4.2).

AQE's skew-join splitting covers joins, but NOT window / grouped-map /
ordered-collect passes — a single giant entity still lands on one task.
What the measurements say (BENCH/BASELINE.md skew tables): pick the
remedy by the PASS CLASS that actually serializes:

- window/sort passes (sessionize)      -> ``bounded_sessionize`` (3.7x
  over the naive window sort on the 16M heavy-hitter corpus)
- ordered collects (sequence build)    -> ``bounded_sequence_build``
  (exact two-stage time-bucket merge; the hot entity's history never
  sorts in one task)
- algebraic aggregates                 -> the NAIVE plan: hash-agg
  map-side partials already absorb the skew (salted_agg measured
  0.46-0.58x — slower — on that corpus); reach for ``salted_agg`` only
  when the final per-key group state itself blows up AND the partials
  are mergeable.

Each remedy costs one extra shuffle, so the caller picks it explicitly
for the entity sizes it knows; the skew tables put the wall-time
crossover for ordered collects between 0.8M and 3.2M rows on one entity.

Sessionization itself cannot be salted without breaking gap semantics
across salt boundaries (a session may span salts); the engine's stance for
huge entities is bounded-session processing: pre-split entities on coarse
time buckets (>> timeout) and sessionize each bucket independently, which
``bounded_sessionize`` implements. The ONE documented approximation is
that a session spanning a bucket boundary is split at it (see the
function docstring); choose bucket_width >> gap so boundary splits are
rare (~gap/width of sessions).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

AGGS = ("count", "sum", "min", "max", "mean")


def salted_agg(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    aggs: Sequence[str] = ("count", "sum", "mean", "min", "max"),
    n_salts: int = 32,
    sum_type: str = "double",
) -> DataFrame:
    """Two-stage salted aggregation: splits each key across ``n_salts``
    partial groups, then merges. Output columns: ``<agg>_<value_col>``.

    ``sum_type`` controls the accumulator for sum/mean. The default
    ``double`` keeps full input precision (two-stage partials may re-order
    float additions — allclose, not bit-equal, vs a single-pass SUM).
    Callers that need the result BIT-identical no matter how partials are
    grouped — the cross-engine oracle path — opt into a DECIMAL
    accumulator sized to their data (e.g. ``"decimal(18,2)"`` for cents):
    decimal addition is exact and associative, but QUANTIZES each input
    to the chosen scale first, so it must match the data's real
    precision (the round-2 default silently clipped finer values).

    (For non-skewed keys Spark's hash aggregate already does map-side
    partials; salting only helps when a single key's FINAL group is too
    big for one task — e.g. percentile/collect-list style aggregates, or
    when the merge itself is cheap relative to the partial scan.)"""
    for a in aggs:
        if a not in AGGS:
            raise ValueError(f"unsupported agg {a!r}; supported: {AGGS}")
    key_cols = list(key_cols)
    v = F.col(value_col).cast("double")
    vs = F.col(value_col).cast(sum_type)
    salt = F.pmod(F.xxhash64(F.monotonically_increasing_id()), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(
            F.count(F.lit(1)).alias("_cnt"),
            F.sum(vs).alias("_sum"),
            F.min(v).alias("_min"),
            F.max(v).alias("_max"),
        )
    )
    merged = partial.groupBy(*key_cols).agg(
        F.sum("_cnt").alias("_cnt"),
        F.sum("_sum").alias("_sum"),
        F.min("_min").alias("_min"),
        F.max("_max").alias("_max"),
    )
    out_cols = list(key_cols)
    if "count" in aggs:
        out_cols.append(F.col("_cnt").alias(f"count_{value_col}"))
    if "sum" in aggs:
        out_cols.append(F.col("_sum").cast("double").alias(f"sum_{value_col}"))
    if "mean" in aggs:
        out_cols.append((F.col("_sum").cast("double") / F.col("_cnt")).alias(f"mean_{value_col}"))
    if "min" in aggs:
        out_cols.append(F.col("_min").alias(f"min_{value_col}"))
    if "max" in aggs:
        out_cols.append(F.col("_max").alias(f"max_{value_col}"))
    return merged.select(*out_cols)


def bounded_sequence_build(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    token_col: str,
    bucket_width: float,
    order_cols: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Skew-aware twin of ``events_to_sequences`` for heavy-hitter
    entities — the collect-class remedy the r4 skew measurements called
    for (algebraic aggregates never needed salting; ORDERED COLLECTS do):
    ``sort_array(collect_list(...))`` per entity concatenates and sorts
    the hot entity's WHOLE history in one task's aggregation buffer.

    Two stages, EXACTLY equal to the unbounded build (no approximation,
    unlike ``bounded_sessionize``):

      1. group on ``(entity, floor(ts / bucket_width))`` — the hot key
         spreads across buckets; each task sorts one bucket's slice;
      2. group on ``entity`` and merge with
         ``flatten(sort_array(collect_list(struct(bucket, slice))))["_l"]``
         — buckets are disjoint, ``floor`` is monotone in ts, and equal
         timestamps share a bucket, so concatenating the pre-sorted
         slices in bucket order IS the globally (ts, order...)-sorted
         sequence; the merge task copies arrays, it never re-compares
         elements.

    Output schema matches ``events_to_sequences``:
    ``(entity..., times:array<double>, tokens:array<int>, n_tok:int,
    carry...)``."""
    from netml_spark.util import ts_seconds

    entity_cols = list(entity_cols)
    ts_d = ts_seconds(df, ts_col)
    bucket = F.floor(ts_d / F.lit(float(bucket_width))).cast("long")
    packed = F.struct(
        ts_d.alias("_t"),
        *[F.col(c).alias(f"_o{i}") for i, c in enumerate(order_cols)],
        F.col(token_col).cast("int").alias("_tok"),
    )
    part = (
        df.withColumn("_bucket", bucket)
        .groupBy(*entity_cols, "_bucket")
        .agg(
            F.sort_array(F.collect_list(packed)).alias("_p"),
            *[F.first(c).alias(c) for c in carry_cols],
        )
    )
    merged = part.groupBy(*entity_cols).agg(
        F.flatten(
            F.sort_array(
                F.collect_list(F.struct(F.col("_bucket").alias("_b"),
                                        F.col("_p").alias("_l")))
            )["_l"]
        ).alias("_p"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    return merged.select(
        *entity_cols,
        F.col("_p._t").alias("times"),
        F.col("_p._tok").alias("tokens"),
        F.size("_p").cast("int").alias("n_tok"),
        *carry_cols,
    )


def bounded_sessionize(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    gap: float,
    bucket_width: float,
    order_cols: Sequence[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Chunked sessionization for entities too large for one task's sort:
    partition on (entity, time_bucket) and sessionize each chunk
    independently. Rows are never duplicated or lost; the ONE documented
    approximation is that a session spanning a bucket boundary is split at
    it (the gap test restarts per bucket). Choose
    ``bucket_width >> gap * typical sessions`` so boundary splits are rare:
    with width W and gap g, at most a fraction ~g/W of sessions split.
    Exact-equality for sessions contained in one bucket is pinned by tests
    vs the unchunked sessionizer."""
    from pyspark.sql import Window

    from netml_spark.util import ts_seconds

    if bucket_width <= 2 * gap:
        raise ValueError("bucket_width must exceed 2x gap")
    ts_d = ts_seconds(df, ts_col)
    bucket = F.floor(ts_d / F.lit(float(bucket_width))).cast("long")
    u = df.withColumn("_bucket", bucket)
    w = Window.partitionBy(*entity_cols, "_bucket").orderBy(ts_col, *order_cols)
    gap_expr = ts_d - F.lag(ts_d).over(w)
    brk = F.when(gap_expr > F.lit(float(gap)), 1).otherwise(0)
    sess = u.withColumn("_sid", F.sum(brk).over(w))
    return sess.select(
        *df.columns,
        F.concat_ws("_", F.col("_bucket"), F.col("_sid")).alias(session_col),
    )
