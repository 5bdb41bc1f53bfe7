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

Both bounded remedies are the operator they bound, run over
``(entity, floor(ts / bucket_width))``: ``sessionize`` plus a
bucket-prefixed session id, and ``events_to_sequences`` plus one merge
aggregate that concatenates the bucket slices in bucket order. Each
costs one extra shuffle, so the caller picks it explicitly for the
entity sizes it knows; the skew tables put the wall-time crossover for
ordered collects between 0.8M and 3.2M rows on one entity.

Sessionization cannot be salted without breaking gap semantics across
salt boundaries (a session may span salts). The ONE documented
approximation of ``bounded_sessionize`` is that a session spanning a
bucket boundary is split at it; choose bucket_width >> gap so boundary
splits are rare (~gap/width of sessions).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netml_spark.operators.sequences import events_to_sequences
from netml_spark.operators.sessionize import sessionize
from netml_spark.util import ts_seconds

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


def _with_bucket(df: DataFrame, ts_col: str, bucket_width: float) -> DataFrame:
    """``df`` plus ``_bucket = floor(ts / bucket_width)``: equal timestamps
    share a bucket, and bucket order is time order."""
    bucket = F.floor(ts_seconds(df, ts_col) / F.lit(float(bucket_width)))
    return df.withColumn("_bucket", bucket.cast("long"))


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
    entities: ``sort_array(collect_list(...))`` per entity sorts the hot
    entity's WHOLE history in one task's aggregation buffer (ordered
    collects need a remedy; algebraic aggregates never did).

    EXACTLY equal to the unbounded build: ``events_to_sequences`` over
    ``(entity, floor(ts / bucket_width))`` sorts each bucket's slice in
    its own task, then one merge per entity flattens the slices in bucket
    order. Buckets are disjoint, ``floor`` is monotone in ts and equal
    timestamps share a bucket, so the concatenation IS the
    (ts, order...)-sorted sequence; the merge copies arrays and never
    re-compares elements. Output columns: ``(entity..., times, tokens,
    n_tok, carry...)``, as ``events_to_sequences``."""
    part = events_to_sequences(
        _with_bucket(df, ts_col, bucket_width), (*entity_cols, "_bucket"),
        ts_col, token_col, order_cols, carry_cols,
    )
    merged = part.groupBy(*entity_cols).agg(
        F.sort_array(F.collect_list(F.struct("_bucket", "times", "tokens"))).alias("_p"),
        *[F.first(c).alias(c) for c in carry_cols],
    )
    times = F.flatten(F.col("_p.times"))
    return merged.select(
        *entity_cols,
        times.alias("times"),
        F.flatten(F.col("_p.tokens")).alias("tokens"),
        F.size(times).alias("n_tok"),
        *carry_cols,
    )


def bounded_sessionize(
    df: DataFrame,
    entity_cols: Sequence[str],
    ts_col: str,
    gap: float,
    bucket_width: float,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Chunked sessionization for entities too large for one task's sort:
    ``sessionize`` over (entity, time_bucket), so each chunk sessionizes
    independently, and the session id is ``"<bucket>_<id in bucket>"``
    (replacing an input ``session_id``, as ``sessionize`` does).
    Rows are never duplicated or lost; the ONE documented approximation
    is that a session spanning a bucket boundary is split at it (the gap
    test restarts per bucket). Choose
    ``bucket_width >> gap * typical sessions`` so boundary splits are rare:
    with width W and gap g, at most a fraction ~g/W of sessions split.
    Exact-equality for sessions contained in one bucket is pinned by tests
    vs the unchunked sessionizer."""
    if bucket_width <= 2 * gap:
        raise ValueError("bucket_width must exceed 2x gap")
    sess = sessionize(_with_bucket(df, ts_col, bucket_width),
                      (*entity_cols, "_bucket"), ts_col, gap, order_cols)
    return sess.select(
        *[c for c in df.columns if c != "session_id"],
        F.concat_ws("_", F.col("_bucket"), F.col("session_id")).alias("session_id"),
    )
