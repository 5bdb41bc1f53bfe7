"""Gap sessionization — the heart of the engine (reference parser.py:80-299).

All variants are declarative passes over ``(entity, ts)``:

- ``sessionize``          : clean cumulative-sum gap sessionization. Pure
                            Catalyst (lag + cumsum windows) — one shuffle on
                            the entity key, whole-stage-codegen body.
- ``sessionize_timeout``  : the reference's timeout split with its quirks
                            (min-packets pre/post filters, trailing-segment
                            discard) — still pure Catalyst.
- ``subflows_interval``   : the reference's grid-aligned interval re-split
                            (parser.py:209-299). The split anchor depends on
                            grid arithmetic over previous splits — inherently
                            sequential per entity — so a numpy kernel labels
                            each sorted row inside a narrow Arrow iterator UDF
                            over (group-head flag, seconds) only; a native
                            Window marks the group heads and a native Filter
                            drops the discarded rows.
- ``subflow_spans``       : the same re-split over sessions' times arrays.

Scale notes (100 TB): the only wide exchange is hash partitioning by the
entity key; every window uses the same partitioning so Catalyst reuses the
exchange across the lag/cumsum/max passes (one shuffle total). Heavy-hitter
*sources* do not skew these passes because the partition key is the
fine-grained entity (doc_id); see operators/skew.py for salted fallbacks
when a single entity is itself huge.
"""

from __future__ import annotations

from typing import Iterator, Sequence, Tuple

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import ArrayType, IntegerType, StructField, StructType

from netml_spark.operators.kernels import _flat
from netml_spark.util import drop_null_ts, ts_seconds

# A typed return type: a DDL string would need an active session to parse.
_SPANS = ArrayType(StructType([StructField(c, IntegerType()) for c in ("sub", "start", "len")]))


def _entity_window(entity_cols: Sequence[str], ts_col: str, order_cols: Sequence[str]):
    return Window.partitionBy(*entity_cols).orderBy(ts_col, *order_cols)


def sessionize(
    df: DataFrame,
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    gap: float = 600.0,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Assign ``session_id``: cumulative count of gaps > ``gap`` seconds.

    ``ts_col`` may be double epoch-seconds or timestamp (cast internally).
    Clean semantics (no trailing discard): the streaming
    ``session_window`` twin in streaming/session_stream.py matches this.
    """
    ts_d = ts_seconds(df, ts_col)
    w = _entity_window(entity_cols, ts_col, order_cols)
    gap_expr = ts_d - F.lag(ts_d).over(w)
    brk = F.when(gap_expr > F.lit(float(gap)), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn("session_id", F.sum(brk).over(w).cast("int"))


def sessionize_timeout(
    df: DataFrame,
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    timeout: float = 600.0,
    flow_pkts_thres: int = 2,
    order_cols: Sequence[str] = (),
    defer_seg_filter: bool = False,
) -> DataFrame:
    """Reference-faithful timeout sessionization (parser.py:80-206); adds
    ``session_id``.

    Semantics transcribed (see oracle netml_ref.pcap2flows):
      1. whole entities with < max(2, thres) rows dropped (parser.py:146)
      2. rows sorted by (ts, *order_cols) per entity (parser.py:151)
      3. split where gap > timeout (parser.py:165,174)
      4. if the entity split at all, its trailing segment is discarded
         (parser.py:188-193)
      5. segments with < thres rows dropped (parser.py:197)

    Implementation (fused — one shuffle, one sort): every per-entity
    scalar rides the SAME (entity, ts-ordered) window spec so Catalyst
    evaluates them in two WindowExec passes over one sorted run:
      pass 1: lag(ts) [gap test] + count over the unbounded frame
              [entity size — replaces the separate unordered window]
      pass 2: running sum(brk) [session id] + total sum(brk) over the
              unbounded frame [== max session id, since the cumsum peaks
              at the last row — replaces max(session_id)]
    The per-(entity, session) size filter (step 5) is the only part that
    needs a second sort. Callers that aggregate by (entity, session)
    anyway should pass ``defer_seg_filter=True`` and apply
    ``count >= flow_pkts_thres`` AFTER their aggregation — dropping whole
    sessions commutes with per-session aggregation, and the plan then has
    exactly one sort (measured 0.52 -> >=0.8 N->4N scaling efficiency on
    the sessionize->STATS chain).
    """
    ts_d = ts_seconds(df, ts_col)
    w = _entity_window(entity_cols, ts_col, order_cols)
    w_all = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)

    gap_expr = ts_d - F.lag(ts_d).over(w)
    brk = F.when(gap_expr > F.lit(float(timeout)), F.lit(1)).otherwise(F.lit(0))
    # Whole-entity pre-filter (step 1). For flow_pkts_thres >= 2 it is
    # provably subsumed by the segment-size filter (step 5, or its
    # deferred twin): every surviving row's segment has >= thres rows,
    # so its entity has >= thres == max(2, thres) rows — dropping the
    # `_n_entity` count saves one window function + one column through
    # the whole pipeline (r6). Only thres < 2 (entity bar 2, segment bar
    # 1) needs the explicit count.
    need_entity_filter = flow_pkts_thres < 2
    out = df.withColumn("_brk", brk)
    if need_entity_filter:
        out = out.withColumn("_n_entity", F.count(F.lit(1)).over(w_all))
    out = (
        out.withColumn("session_id", F.sum("_brk").over(w).cast("int"))
        .withColumn("_max_sid", F.sum("_brk").over(w_all))
    )
    if need_entity_filter:
        out = out.filter(F.col("_n_entity") >= 2).drop("_n_entity")
    out = (
        # trailing-segment discard iff any split occurred
        out.filter((F.col("_max_sid") == 0) | (F.col("session_id") < F.col("_max_sid")))
        .drop("_brk", "_max_sid")
    )
    if not defer_seg_filter:
        out = (
            out.withColumn(
                "_n_seg",
                F.count(F.lit(1)).over(Window.partitionBy(*entity_cols, "session_id")),
            )
            .filter(F.col("_n_seg") >= flow_pkts_thres)
            .drop("_n_seg")
        )
    return out


def _split_positions(t: np.ndarray, cand: np.ndarray, interval: float) -> list:
    """Local split row indices for ONE group's sorted time array ``t``.

    ``cand`` = precomputed natural candidates (rows whose gap to the
    previous row exceeds ``interval``). Iterates the SPLITS, not the rows
    (the round-3 split-jump kernel): away from a split the recurrence
    degenerates to ``rec_time = previous row``, so the next split is
    either the row right after a split (tested against the synthetic grid
    anchor) or the first natural candidate — jumped to with searchsorted.
    O(splits log n) Python steps."""
    n = len(t)
    splits = []
    start = t[0]
    j = int(cand[0]) if len(cand) else n
    while j < n:
        # split at row j: anchor advances on the grid (parser.py:258,270)
        start += int((t[j] - start) // interval) * interval
        splits.append(j)
        # row j+1 compares against the synthetic anchor, not t[j]
        if j + 1 < n and t[j + 1] - start > interval:
            j = j + 1
            continue
        # row j+1 absorbed -> rec_time returns to "previous row" from
        # j+2 on; jump to the first natural candidate >= j+2
        k = int(np.searchsorted(cand, j + 2, side="left"))
        j = int(cand[k]) if k < len(cand) else n
    return splits


def subflows_interval(
    df: DataFrame,
    interval: float,
    entity_cols: Sequence[str] = ("doc_id", "session_id"),
    ts_col: str = "ts",
    flow_pkts_thres: int = 2,
    order_cols: Sequence[str] = ("seq",),
    assume_partitioned: bool = False,
) -> DataFrame:
    """Grid-aligned interval re-split (reference parser.py:209-299); adds
    ``subflow_id``.

    Quirks preserved (pinned by tests vs the numpy oracle and the driver's
    recursive-CTE DuckDB gate):
      - segment anchor advances on the grid:
        ``start += int((t - start)//interval)*interval`` (parser.py:258,270)
      - a new segment's first element is *recorded at the grid-anchored
        time*, so the next gap test compares against that synthetic time
        (parser.py:256-263)
      - trailing segment discarded iff any split occurred (parser.py:278-283)
      - segments with < max(2, thres) rows dropped (parser.py:289-292).

    Rows whose ts is null (or NaN) are dropped first: they have no place
    on the split grid.

    Execution: one native Window over the (entity, ts, order) spec marks
    each group's first row (``row_number() == 1``); an Arrow iterator UDF
    over (head flag, epoch seconds) only labels the rows; a native Filter
    keeps ``label >= 0``. Spark owns both the grouping (its window
    partitioning groups null keys together, and NaN keys together) and
    the partitioning: EnsureRequirements plans the entity exchange only
    when the input is not already clustered by the entity keys, so the
    fused ``sessionize_timeout -> subflows_interval`` chain runs on the
    sessionize exchange alone. Entity keys and pass-through columns never
    cross the Python boundary. The kernel (``_subflow_labels``) labels
    whole batches of groups at once and gives -1 to rows the
    trailing-segment discard or the min-size filter drops.

    The UDF is nondeterministic on purpose: a deterministic one is free to
    be planned twice, and the second evaluation then runs over the rows the
    Filter has already dropped, which breaks the groups the kernel needs
    whole and in order.

    ``assume_partitioned`` is ignored (kept for callers that still pass
    it): the window's distribution requirement decides the exchange.
    Composition note: ``sessionize_timeout(defer_seg_filter=True)`` -> this
    operator is EXACTLY equal to the unfused chain — every subflow of a
    session with < thres rows has < thres rows itself, so the subflow
    min-size filter subsumes the deferred session-size filter (both use
    flow_pkts_thres; pinned by the netml_subflows DuckDB gate)."""
    interval = float(interval)
    thres = max(2, int(flow_pkts_thres))

    def label(batches: Iterator[Tuple[pa.Array, pa.Array]]) -> Iterator[pa.Array]:
        return _subflow_labels(batches, interval, thres)

    label = arrow_udf(label, "int").asNondeterministic()
    df = drop_null_ts(df, ts_col)  # a NaN grid anchor cannot split
    head = F.row_number().over(_entity_window(entity_cols, ts_col, order_cols)) == 1
    return (df.withColumn("subflow_id", label(head, ts_seconds(df, ts_col)))
            .filter(F.col("subflow_id") >= 0))


def _subflow_assign(t: np.ndarray, starts: np.ndarray, interval: float,
                    thres: int):
    """Pure-numpy core of the subflows kernel: given the sorted
    epoch-seconds ``t`` of whole groups and their start indices ``starts``,
    return ``(keep, sub)`` — the surviving-row mask and each row's subflow
    id. Vectorized across every group in the batch; the only Python loop
    is ``_split_positions`` over groups that contain a candidate gap. A
    non-positive interval raises ValueError only at such a gap, where the
    reference divides by it (parser.py:258)."""
    n = len(t)
    ends = np.append(starts[1:], n)
    # natural candidates across the whole batch; group heads masked
    d = np.empty(n, dtype=np.float64)
    d[0] = 0.0
    d[1:] = t[1:] - t[:-1]
    d[starts] = 0.0
    cand_all = np.flatnonzero(d > interval)
    if len(cand_all) and not interval > 0:
        raise ValueError(f"split interval {interval!r}: a gap needs a division by it")
    split_ind = np.zeros(n, dtype=np.int32)
    nsplits = np.zeros(len(starts), dtype=np.int64)
    if len(cand_all):
        gi_of_cand = np.searchsorted(starts, cand_all, side="right") - 1
        lo = np.searchsorted(gi_of_cand, np.arange(len(starts)), side="left")
        hi = np.searchsorted(gi_of_cand, np.arange(len(starts)), side="right")
        for gi in np.flatnonzero(hi > lo):
            a, b = int(starts[gi]), int(ends[gi])
            cand = cand_all[lo[gi]:hi[gi]] - a
            splits = _split_positions(t[a:b], cand, interval)
            if splits:
                split_ind[a + np.asarray(splits, dtype=np.int64)] = 1
                nsplits[gi] = len(splits)
    sizes = ends - starts
    # within-group cumsum of the split indicator = subflow id
    cs = np.cumsum(split_ind)
    base = cs[starts] - split_ind[starts]
    sub = (cs - np.repeat(base, sizes)).astype(np.int32)
    # trailing-segment discard iff the group split at all
    ns_rep = np.repeat(nsplits, sizes)
    keep = ~((ns_rep > 0) & (sub == ns_rep))
    # min-size filter per (group, subflow) run (runs are contiguous;
    # discarded trailing rows form complete runs so kept-run sizes
    # are unaffected)
    run_head = split_ind.astype(bool).copy()
    run_head[starts] = True
    run_id = np.cumsum(run_head) - 1
    run_sizes = np.bincount(run_id)
    keep &= run_sizes[run_id] >= thres
    return keep, sub


def _subflow_labels(batches, interval: float, thres: int):
    """The ``subflows_interval`` kernel: consumes ``(head, t)`` Arrow
    batches — a group-head flag and epoch seconds, sorted by (entity...,
    ts, order...) — and yields one int32 per row: its subflow id, or -1
    for a dropped row. The stream's first row is a head.

    The open (possibly incomplete) last group's labels are held back until
    the group closes; only its seconds are kept. Output batches need not
    match input batches, only the total row count."""
    held: list = []  # seconds of the open group
    one = np.zeros(1, dtype=np.int64)

    def labels(t, starts):
        keep, sub = _subflow_assign(t, starts, interval, thres)
        return np.where(keep, sub, -1)

    for head, ts in batches:
        if len(ts) == 0:
            continue
        t = ts.to_numpy(zero_copy_only=False)
        heads = np.flatnonzero(head.to_numpy(zero_copy_only=False))
        if len(heads) == 0:
            held.append(t)  # the open group spans the whole batch
            continue
        first, last = int(heads[0]), int(heads[-1])
        out = []
        if held:  # the batch's first head closes the open group
            out.append(labels(np.concatenate(held + [t[:first]]), one))
        if last > first:
            out.append(labels(t[first:last], heads[:-1] - first))
        held = [t[last:]]
        if out:
            yield pa.array(np.concatenate(out), type=pa.int32())
    if held:
        yield pa.array(labels(np.concatenate(held), one), type=pa.int32())


def _subflow_spans_batch(times: pa.ListArray, interval: float, thres: int) -> pa.ListArray:
    """The ``subflow_spans`` kernel over one Arrow batch of sorted ``times``
    rows: ``_subflow_assign`` runs once over the flat buffer with the
    non-empty rows as groups, and each kept run of one subflow id becomes
    a ``(sub, start, len)`` span of its row, ``start`` 1-based for
    ``slice``. An empty row gives []; a null row stays null."""
    t, lens = _flat(times)
    ends = np.cumsum(lens)
    offs = ends - lens
    heads = offs[lens > 0]
    keep, sub = (_subflow_assign(t, heads, interval, thres) if len(t)
                 else (np.zeros(0, dtype=bool), np.zeros(0, dtype=np.int32)))
    run = np.zeros(len(t), dtype=bool)  # first row of each (group, subflow) run
    run[heads] = True
    run[1:] |= sub[1:] != sub[:-1]
    first = np.flatnonzero(run)
    size = np.diff(np.append(first, len(t)))
    kept = keep[first]  # a run is kept or dropped whole
    first, size = first[kept], size[kept]
    row = np.searchsorted(ends, first, side="right")
    spans = pa.StructArray.from_arrays(
        [pa.array(a, pa.int32()) for a in (sub[first], first - offs[row] + 1, size)],
        names=["sub", "start", "len"])
    counts = np.bincount(row, minlength=len(lens))
    offsets = np.concatenate(([0], np.cumsum(counts))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), spans, mask=times.is_null())


def subflow_spans(interval: float, flow_pkts_thres: int = 2):
    """The interval re-split of whole sessions (parser.py:209-299, quirks as
    in ``subflows_interval``) as an Arrow scalar UDF over a sorted
    ``times`` column: each row's kept subflows as
    ``array<struct<sub, start, len>>`` (subflow id, 1-based first
    position, packet count), for a native ``explode`` and ``slice`` of the
    row's series (see _subflow_spans_batch)."""
    interval = float(interval)
    thres = max(2, int(flow_pkts_thres))

    @arrow_udf(_SPANS)
    def subflow_spans(times: pa.Array) -> pa.Array:
        return _subflow_spans_batch(times, interval, thres)

    return subflow_spans
