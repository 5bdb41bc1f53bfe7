"""Stateful flow tracking with max-age + idle eviction (SURVEY.md §2.10).

Twin of the reference's live-capture buffer management
(examples/capture/capture_pkts.py:100-126): the capture loop keeps one
open flow per key and
  - closes a flow whose age (last - start) exceeds 1 hour
    (capture_pkts.py:121-125: "check flow_buffer and try to reduce its
    size" — the max-age eviction), and
  - restarts a flow whose inter-packet gap exceeds the 600 s TIMEOUT
    (capture_pkts.py:113-118).

Here the open-flow buffer is Spark-managed state in
``applyInPandasWithState`` (event-time timeout): idle flows are evicted by
the watermark clock instead of a hand-rolled scan, and the operator scales
to any key cardinality because state is partitioned by the entity key —
per-key state is O(1) (count, start, last), never the packets.

Output: one row per CLOSED flow (entity..., n_pkts, start_ts, last_ts,
reason in {'max_age', 'idle'}). Still-open flows stay in state.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType,
)

from netml_spark.util import event_time


def stateful_flow_eviction(
    events: DataFrame,
    entity_cols: Sequence[str] = ("doc_id",),
    ts_col: str = "ts",
    max_age: float = 3600.0,
    idle_timeout: float = 600.0,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming stateful eviction. ``events`` must be a streaming
    DataFrame; per-entity state is (n_pkts, start, last) in epoch seconds.

    A flow closes with reason 'max_age' at the first EVENT whose arrival
    pushes its age past ``max_age`` (capture_pkts.py:123: pre_pkt_time -
    pkt_start_time > 1 h — the crossing packet is included in the closed
    flow; later packets open a NEW flow), and with reason 'idle' either
    when an inter-packet gap inside a batch exceeds ``idle_timeout`` (the
    capture loop's per-packet TIMEOUT restart, capture_pkts.py:113 — a
    replay/backfill batch can hold many such restarts) or when the
    event-time watermark passes last + ``idle_timeout`` with no further
    packets. Round 2 merged each batch via min/max, so intra-batch gaps
    never split and a max_age flow absorbed the whole batch — both
    approximations are gone: the batch is sorted by event time and scanned
    per gap/age crossing, emitting ONE ROW PER CLOSED FLOW per key per
    batch (ADVICE r2 fix)."""
    entity_cols = list(entity_cols)
    events = (events.withColumn("_event_time", event_time(events, ts_col))
              .withColumn("_evt_sec", F.col("_event_time").cast("double"))
              .withWatermark("_event_time", watermark))

    ent_fields = [events.schema[c] for c in entity_cols]
    out_schema = StructType(
        list(ent_fields)
        + [
            StructField("n_pkts", LongType()),
            StructField("start_ts", DoubleType()),
            StructField("last_ts", DoubleType()),
            StructField("reason", StringType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("start", DoubleType()),
            StructField("last", DoubleType()),
        ]
    )
    cols = [f.name for f in out_schema.fields]
    track = _make_flow_tracker(cols, float(max_age), float(idle_timeout))

    return (
        events.groupBy(*entity_cols)
        .applyInPandasWithState(
            track, out_schema, state_schema, "append", "EventTimeTimeout"
        )
    )


def _make_flow_tracker(cols, max_age_s: float, idle_s: float):
    """The per-key stateful kernel, factored module-level so the
    batch/state interplay (late-data clamp, carried-flow closes, age
    crossings) is unit-testable against a fake GroupState — the streaming
    e2e tests stay, this pins the corner cases cheaply."""
    idle_ms = int(idle_s * 1000)

    def track(key, pdfs, state):
        rows = []
        if state.hasTimedOut:
            n, start, last = state.get
            rows.append((*key, int(n), float(start), float(last), "idle"))
            state.remove()
            yield pd.DataFrame(rows, columns=cols)
            return
        ts = [p["_evt_sec"].to_numpy(dtype=np.float64) for p in pdfs if len(p)]
        if not ts:
            yield pd.DataFrame(rows, columns=cols)
            return
        t = np.sort(np.concatenate(ts))
        had_state = state.exists
        if had_state:
            n, start, last = state.get
            n, start, last = int(n), float(start), float(last)
        else:
            n, start, last = 0, 0.0, 0.0
        # the carried flow restarts if the gap to the batch head exceeds
        # the idle timeout (the same per-packet test the scan below does)
        if n and t[0] - last > idle_s:
            rows.append((*key, n, start, last, "idle"))
            n = 0
        if n:
            # LATE-DATA CLAMP (ADVICE r3+r4): while the carried flow is
            # open its gap tests compare against the flow's TRUE maximum
            # (carried last vs running batch prefix max), not batch-local
            # diffs — so a late event sharing a micro-batch with an
            # on-time one cannot manufacture a spurious idle split. Once
            # the carried flow closes, eff degrades to the plain previous
            # event (t sorted ⇒ prefix max == previous), and flows opened
            # inside this batch use plain diffs below.
            eff = np.maximum(last, np.maximum.accumulate(t))
            gaps = np.flatnonzero(t[1:] - eff[:-1] > idle_s) + 1
            stop = int(gaps[0]) if gaps.size else len(t)
            j = int(np.searchsorted(t[:stop], start + max_age_s, side="right"))
            if j < stop:
                # age crossing comes first; the crossing event is absorbed
                rows.append((*key, n + j + 1, start, float(eff[j]), "max_age"))
                n, t = 0, t[j + 1:]
            elif stop < len(t):
                rows.append((*key, n + stop, start, float(eff[stop - 1]), "idle"))
                n, t = 0, t[stop:]
            else:
                n, last = n + len(t), float(eff[-1])
                t = t[:0]
        # segment the rest of the sorted batch at intra-batch idle gaps —
        # each gap is a per-packet TIMEOUT restart in the reference, not a
        # state merge (flows opened here contain no carried packets)
        bounds = np.flatnonzero(np.diff(t) > idle_s) + 1
        for si, seg in enumerate(np.split(t, bounds)):
            if si > 0 and n:
                rows.append((*key, n, start, last, "idle"))
                n = 0
            i = 0
            while i < len(seg):
                if n == 0:
                    start = float(seg[i])
                # first event whose age crosses max_age; it is ABSORBED
                # into the closing flow, later events open a new one.
                # searchsorted jumps straight to the crossing: O(closes
                # + gaps) Python steps per batch, numpy for the rest.
                j = int(np.searchsorted(seg, start + max_age_s, side="right"))
                if j >= len(seg):
                    n += len(seg) - i
                    last = float(seg[-1])
                    break
                n += j - i + 1
                last = float(seg[j])
                rows.append((*key, n, start, last, "max_age"))
                n = 0
                i = j + 1
        if n:
            state.update((int(n), float(start), float(last)))
            # idle eviction rides the watermark clock; the timeout
            # timestamp must sit above the current watermark
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(max(int(last * 1000) + idle_ms, wm + 1))
        elif had_state:
            state.remove()
        yield pd.DataFrame(rows, columns=cols)

    return track
