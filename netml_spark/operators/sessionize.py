"""Gap sessionization — the heart of the engine (reference parser.py:80-299).

All variants are declarative window passes over ``(entity, ts)``:

- ``sessionize``          : clean cumulative-sum gap sessionization. Pure
                            Catalyst (lag + cumsum windows) — one shuffle on
                            the entity key, whole-stage-codegen body.
- ``sessionize_timeout``  : the reference's timeout split with its quirks
                            (min-packets pre/post filters, trailing-segment
                            discard) — still pure Catalyst.
- ``subflows_interval``   : the reference's grid-aligned interval re-split
                            (parser.py:209-299). The split anchor depends on
                            grid arithmetic over previous splits — inherently
                            sequential per entity — so it runs as a numpy
                            kernel inside ``mapInArrow`` over sorted Arrow
                            batches of many entity-session groups.

Scale notes (100 TB): the only wide exchange is hash partitioning by the
entity key; every window uses the same partitioning so Catalyst reuses the
exchange across the lag/cumsum/max passes (one shuffle total). Heavy-hitter
*sources* do not skew these passes because the partition key is the
fine-grained entity (doc_id); see operators/skew.py for salted fallbacks
when a single entity is itself huge.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from netml_spark.util import ts_seconds


def _entity_window(entity_cols: Sequence[str], ts_col: str, order_cols: Sequence[str]):
    return Window.partitionBy(*entity_cols).orderBy(ts_col, *order_cols)


def sessionize(
    df: DataFrame,
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    gap: float = 600.0,
    order_cols: Sequence[str] = (),
    session_col: str = "session_id",
) -> DataFrame:
    """Assign ``session_col``: cumulative count of gaps > ``gap`` seconds.

    ``ts_col`` may be double epoch-seconds or timestamp (cast internally).
    Clean semantics (no trailing discard): the streaming
    ``session_window`` twin in streaming/session_stream.py matches this.
    """
    ts_d = ts_seconds(df, ts_col)
    w = _entity_window(entity_cols, ts_col, order_cols)
    gap_expr = ts_d - F.lag(ts_d).over(w)
    brk = F.when(gap_expr > F.lit(float(gap)), F.lit(1)).otherwise(F.lit(0))
    return df.withColumn(session_col, F.sum(brk).over(w).cast("int"))


def sessionize_timeout(
    df: DataFrame,
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    timeout: float = 600.0,
    flow_pkts_thres: int = 2,
    order_cols: Sequence[str] = (),
    session_col: str = "session_id",
    defer_seg_filter: bool = False,
) -> DataFrame:
    """Reference-faithful timeout sessionization (parser.py:80-206).

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
        out.withColumn(session_col, F.sum("_brk").over(w).cast("int"))
        .withColumn("_max_sid", F.sum("_brk").over(w_all))
    )
    if need_entity_filter:
        out = out.filter(F.col("_n_entity") >= 2).drop("_n_entity")
    out = (
        # trailing-segment discard iff any split occurred
        out.filter((F.col("_max_sid") == 0) | (F.col(session_col) < F.col("_max_sid")))
        .drop("_brk", "_max_sid")
    )
    if not defer_seg_filter:
        out = (
            out.withColumn(
                "_n_seg",
                F.count(F.lit(1)).over(Window.partitionBy(*entity_cols, session_col)),
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
    subflow_col: str = "subflow_id",
    assume_partitioned: bool = False,
) -> DataFrame:
    """Grid-aligned interval re-split (reference parser.py:209-299).

    Quirks preserved (pinned by tests vs the numpy oracle and the driver's
    recursive-CTE DuckDB gate):
      - segment anchor advances on the grid:
        ``start += int((t - start)//interval)*interval`` (parser.py:258,270)
      - a new segment's first element is *recorded at the grid-anchored
        time*, so the next gap test compares against that synthetic time
        (parser.py:256-263)
      - trailing segment discarded iff any split occurred (parser.py:278-283)
      - segments with < max(2, thres) rows dropped (parser.py:289-292).

    Execution: ``repartition(entity)`` +
    ``sortWithinPartitions(entity, ts, order)`` + ``mapInArrow`` — one
    shuffle, and the kernel works on WHOLE Arrow batches of many
    consecutive groups: gap candidates, subflow ids (grouped cumsum), the
    trailing-segment discard, and the min-size filter are all computed
    vectorized across every group in the batch at once; the only Python
    loop is ``_split_positions`` over groups that actually contain a
    candidate gap, on raw numpy slices. A per-group ``applyInPandas`` form
    pays ~1 ms of pandas machinery (sort_values + groupby.transform +
    frame build) PER GROUP — at 480 k flow groups ~100× the kernel's real
    work, and at 10^9 groups (the 100 TB shape) unusable; the batched
    kernel is flat in the group count. A group spanning an Arrow batch
    boundary is carried into the next batch (memory bounded by the
    largest single group).

    ``assume_partitioned=True`` skips the repartition: correct whenever
    every (entity...) group already lives in ONE partition — in
    particular for ``sessionize_timeout`` output, which is hash-partitioned
    by a PREFIX of these entity cols (its window exchange). The within-
    partition sort still runs (cheap, no exchange), so the whole
    sessionize -> subflows chain needs exactly one shuffle. Composition
    note: ``sessionize_timeout(defer_seg_filter=True)`` -> this operator
    is EXACTLY equal to the unfused chain — every subflow of a session
    with < thres rows has < thres rows itself, so the subflow min-size
    filter subsumes the deferred session-size filter (both use
    flow_pkts_thres; pinned by the netml_subflows DuckDB gate)."""
    interval = float(interval)
    thres = max(2, int(flow_pkts_thres))
    schema_fields = df.schema.fields
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in schema_fields]
        + [f"`{subflow_col}` int"]
    )
    entity_cols = list(entity_cols)
    mapper = _make_subflow_arrow_mapper(entity_cols, ts_col, interval, thres,
                                        subflow_col)
    base = df if assume_partitioned else df.repartition(*entity_cols)
    ordered = base.sortWithinPartitions(*entity_cols, ts_col, *order_cols)
    return ordered.mapInArrow(mapper, schema=out_schema)


def _subflow_assign(t: np.ndarray, starts: np.ndarray, interval: float,
                    thres: int):
    """Pure-numpy core of the subflows kernel: given one batch's sorted
    epoch-seconds array ``t`` and the group-start indices ``starts``,
    return ``(keep, sub)`` — the surviving-row mask and each row's subflow
    id. Vectorized across every group in the batch; the only Python loop
    is ``_split_positions`` over groups that contain a candidate gap."""
    n = len(t)
    ends = np.append(starts[1:], n)
    # natural candidates across the whole batch; group heads masked
    d = np.empty(n, dtype=np.float64)
    d[0] = 0.0
    d[1:] = t[1:] - t[:-1]
    d[starts] = 0.0
    cand_all = np.flatnonzero(d > interval)
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


def _make_subflow_arrow_mapper(entity_cols, ts_col, interval, thres,
                              subflow_col):
    """The ``subflows_interval`` batched kernel as a ``mapInArrow``
    function (r6 rework, guide §4.2). The r4/r5 ``mapInPandas`` form paid
    the Arrow→pandas→Arrow conversion on EVERY column of every row — at
    bench scale that materializes ~11M Python string objects per pass for
    the two id columns alone, all of which the kernel merely passes
    through. Operating on raw RecordBatches keeps pass-through columns as
    Arrow buffers end to end: group detection runs on pyarrow compute
    kernels, the split recurrence on numpy views of the ts column, and
    row filtering is one ``batch.filter`` (offset rewrite, no object
    materialization).

    Input contract (unchanged): batches arrive sorted by
    (entity..., ts, order...) and each (entity...) group is contiguous
    across the batch stream. A group spanning batch boundaries is held as
    a LIST of zero-copy slices and concatenated ONCE when it closes.
    Null-safety (ADVICE r4): Arrow nulls AND float NaN keys group
    together, matching groupBy/sort semantics."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def na_mask(col: "pa.Array"):
        m = pc.is_null(col)
        if pa.types.is_floating(col.type):
            m = pc.or_(m, pc.fill_null(pc.is_nan(col), False))
        return m

    def to_seconds(col: "pa.Array") -> np.ndarray:
        if pa.types.is_timestamp(col.type):
            unit = col.type.unit
            scale = {"s": 1.0, "ms": 1e3, "us": 1e6, "ns": 1e9}[unit]
            # epoch seconds (wall time as UTC — matches util.ts_seconds)
            return col.cast(pa.int64()).to_numpy(zero_copy_only=False) / scale
        return col.to_numpy(zero_copy_only=False).astype(np.float64, copy=False)

    def group_starts_of(batch) -> np.ndarray:
        n = batch.num_rows
        change = np.zeros(n, dtype=bool)
        change[0] = True
        for c in entity_cols:
            col = batch.column(batch.schema.get_field_index(c))
            prev, cur = col.slice(0, n - 1), col.slice(1, n - 1)
            # null (or NaN) keys group together: differ iff values differ
            # (null-filled to True for one-sided nulls) and NOT both-NA
            neq = pc.fill_null(pc.not_equal(cur, prev), True)
            both_na = pc.and_(na_mask(cur), na_mask(prev))
            diff = pc.and_(neq, pc.invert(both_na))
            change[1:] |= diff.to_numpy(zero_copy_only=False)
        return np.flatnonzero(change)

    def same_group(a, b) -> bool:
        # null/NaN-safe: does b's first row continue a's last group?
        for c in entity_cols:
            xa = a.column(a.schema.get_field_index(c))[a.num_rows - 1].as_py()
            yb = b.column(b.schema.get_field_index(c))[0].as_py()
            x_na = xa is None or (isinstance(xa, float) and np.isnan(xa))
            y_na = yb is None or (isinstance(yb, float) and np.isnan(yb))
            if x_na or y_na:
                if not (x_na and y_na):
                    return False
            elif xa != yb:
                return False
        return True

    def process(batch, starts: np.ndarray):
        ts_idx = batch.schema.get_field_index(ts_col)
        t = to_seconds(batch.column(ts_idx))
        keep, sub = _subflow_assign(t, starts, interval, thres)
        out = batch.filter(pa.array(keep))
        cols = out.columns + [pa.array(sub[keep], type=pa.int32())]
        return pa.RecordBatch.from_arrays(
            cols, names=batch.schema.names + [subflow_col]
        )

    def mapper(batches):
        # A group spanning Arrow batch boundaries is held as a LIST of
        # zero-copy slices and concatenated ONCE when it closes (r4
        # verdict item 4: O(m) row copies for an m-row group, not O(m·k)).
        buf: list = []  # in-order slices of ONE (incomplete) group
        one = np.zeros(1, dtype=np.int64)

        def flush():
            if len(buf) == 1:
                grp = buf[0]
            else:
                tbl = pa.Table.from_batches(buf).combine_chunks()
                grp = tbl.to_batches()[0] if tbl.num_rows else buf[0]
            return process(grp, one)

        for batch in batches:
            if batch.num_rows == 0:
                continue
            starts = group_starts_of(batch)
            if buf and not same_group(buf[-1], batch):
                yield flush()
                buf = []
            if len(starts) == 1:
                buf.append(batch)  # one group spans the whole batch so far
                continue
            if buf:
                # first group of this batch closes the held group
                cut = int(starts[1])
                buf.append(batch.slice(0, cut))
                yield flush()
                buf = []
                batch = batch.slice(cut)
                starts = starts[1:] - cut
            # hold back the (possibly incomplete) last group
            last = int(starts[-1])
            buf = [batch.slice(last)]
            if last:
                yield process(batch.slice(0, last), starts[:-1])
        if buf:
            yield flush()

    return mapper
