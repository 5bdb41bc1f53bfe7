"""Parity: Spark sessionization vs numpy oracle (reference parser.py:80-299).

Pins the reference quirks: min-packets pre/post filters, trailing-segment
discard, grid-aligned interval restart (SURVEY.md §5.2 item 3).
"""

import numpy as np
import pandas as pd
import pytest

from netml_spark import datagen
from netml_spark.operators import sessionize, sessionize_timeout, subflows_interval
from netml_spark.oracle import netml_ref


def _oracle_segments(pdf, thres=2, timeout=600.0):
    flows = datagen.oracle_flows(pdf)
    return netml_ref.pcap2flows(flows, flow_pkts_thres=thres, timeout=timeout)


def _spark_segments(df, key_cols=("doc_id",)):
    rows = df.select("doc_id", "session_id", "ts", "seq", "token").collect()
    segs = {}
    for r in rows:
        segs.setdefault((r.doc_id, r.session_id), []).append((r.ts, r.seq, r.token))
    # re-key sessions to per-doc ordinals: Spark keeps raw cumsum ids after
    # dropping short middle segments; the oracle list is ordinal by nature
    by_doc = {}
    for (doc, sid), v in segs.items():
        by_doc.setdefault(doc, []).append((sid, v))
    out = {}
    for doc, lst in by_doc.items():
        for k, (_, v) in enumerate(sorted(lst)):
            v.sort()  # (ts, seq) order — seq is the tie-breaker
            out[(doc, k)] = (np.array([t for t, _, _ in v]), np.array([s for _, _, s in v]))
    return out


def test_sessionize_timeout_matches_oracle(spark, token_events_df, token_events_pdf):
    got = sessionize_timeout(
        token_events_df, entity_cols=("doc_id",), ts_col="ts",
        timeout=600.0, flow_pkts_thres=2, order_cols=("seq",),
    )
    spark_segs = _spark_segments(got)
    oracle = _oracle_segments(token_events_pdf)
    # oracle segments keyed by (doc_id, per-doc segment ordinal)
    ora = {}
    ordinal = {}
    for fid, t, s in oracle:
        k = ordinal.get(fid, 0)
        ordinal[fid] = k + 1
        ora[(fid, k)] = (t, s)
    # session ids in spark are the cumsum ids of *kept* segments — for a doc
    # with a discarded trailing segment the kept ids are still 0..n-1
    assert set(spark_segs.keys()) == set(ora.keys())
    for k in ora:
        np.testing.assert_allclose(spark_segs[k][0], ora[k][0])
        np.testing.assert_array_equal(spark_segs[k][1], ora[k][1])


def test_sessionize_clean_counts(spark, token_events_df, token_events_pdf):
    got = sessionize(token_events_df, ("doc_id",), "ts", gap=600.0, order_cols=("seq",))
    pdf = got.select("doc_id", "session_id").toPandas()
    # oracle: clean cumsum per doc
    exp = []
    for doc_id, g in token_events_pdf.sort_values(["doc_id", "ts", "seq"]).groupby("doc_id"):
        t = g["ts"].to_numpy()
        sid = np.concatenate([[0], np.cumsum(np.diff(t) > 600.0)])
        exp.append(pd.DataFrame({"doc_id": doc_id, "session_id": sid.astype("int32")}))
    exp = pd.concat(exp)
    got_counts = pdf.groupby(["doc_id", "session_id"]).size().sort_index()
    exp_counts = exp.groupby(["doc_id", "session_id"]).size().sort_index()
    pd.testing.assert_series_equal(got_counts, exp_counts)


def test_subflows_interval_matches_oracle(spark, token_events_df, token_events_pdf):
    # first the timeout pass, then the grid-aligned interval re-split, as the
    # reference pipeline does (parser.py:691-735)
    sess = sessionize_timeout(
        token_events_df, ("doc_id",), "ts", 600.0, 2, order_cols=("seq",)
    )
    interval = 5.0
    got = subflows_interval(
        sess, interval, entity_cols=("doc_id", "session_id"), ts_col="ts",
        flow_pkts_thres=2, order_cols=("seq",),
    )
    rows = got.select("doc_id", "session_id", "subflow_id", "ts", "token").collect()
    segs = {}
    for r in rows:
        segs.setdefault((r.doc_id, r.session_id, r.subflow_id), []).append((r.ts, r.token))

    oracle_sess = _oracle_segments(token_events_pdf)
    oracle_subs = netml_ref.flows2subflows(oracle_sess, interval=interval, flow_pkts_thres=2)
    # compare multiset of (times tuple) segments per doc
    def norm(d):
        out = {}
        for k, v in d.items():
            out.setdefault(k[0], []).append(tuple(np.round(np.sort([t for t, _ in v]), 9)))
        return {k: sorted(v) for k, v in out.items()}

    got_n = norm(segs)
    ora = {}
    for fid, t, s in oracle_subs:
        ora.setdefault(fid, []).append(tuple(np.round(np.sort(t), 9)))
    ora = {k: sorted(v) for k, v in ora.items()}
    assert got_n == ora


def test_trailing_discard_quirk(spark):
    # doc with one >600s gap: two segments, trailing discarded -> only seg 0
    pdf = pd.DataFrame({
        "doc_id": ["a"] * 5,
        "source": ["s"] * 5,
        "ts": [0.0, 1.0, 2.0, 700.0, 701.0],
        "seq": np.arange(5, dtype=np.int32),
        "token": np.arange(5, dtype=np.int32) + 100,
        "proto": np.int32(6),
        "ttl": np.int32(64),
        "tcp_flags": ["A"] * 5,
    })
    df = spark.createDataFrame(pdf)
    got = sessionize_timeout(df, ("doc_id",), "ts", 600.0, 2, ("seq",)).toPandas()
    assert sorted(got["ts"]) == [0.0, 1.0, 2.0]
    # no split -> single segment kept
    pdf2 = pdf.assign(ts=[0.0, 1.0, 2.0, 3.0, 4.0])
    got2 = sessionize_timeout(spark.createDataFrame(pdf2), ("doc_id",), "ts", 600.0, 2, ("seq",)).toPandas()
    assert len(got2) == 5


def test_sessionize_thres1_keeps_entity_bar(spark):
    """r6: the whole-entity pre-filter window is elided for thres >= 2
    (subsumed by the segment filter) but MUST survive for thres < 2,
    where the entity bar is max(2, thres)=2 while segments only need 1
    row (reference parser.py:146 vs :197): a single-row entity is
    dropped even though its segment would pass the size-1 bar."""
    import pandas as pd

    pdf = pd.DataFrame({
        "doc_id": ["solo"] + ["multi"] * 3,
        "ts": [0.0, 0.0, 1.0, 700.0],
        "seq": [0, 0, 1, 2],
        "token": [1, 2, 3, 4],
    })
    df = spark.createDataFrame(pdf)
    got = sessionize_timeout(df, ("doc_id",), "ts", 600.0, 1, ("seq",)).toPandas()
    # 'solo' (1 row < entity bar 2) dropped entirely; 'multi' splits at
    # the 700s gap, trailing segment discarded, first segment (2 rows,
    # >= seg bar 1) kept
    assert sorted(got["doc_id"].unique()) == ["multi"]
    assert sorted(got["ts"]) == [0.0, 1.0]


def test_subflows_groups_spanning_arrow_batches(spark):
    """The label kernel holds back a group that spans an Arrow batch
    boundary until the group closes. Force pathological batching (5 rows
    per batch, groups of 7+) and pin equality against the same call under
    default batching."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from netml_spark.operators.sessionize import subflows_interval

    rng = np.random.default_rng(7)
    rows = []
    for d in range(40):
        n = int(rng.integers(3, 23))
        # gaps that straddle the 50s interval so some groups split
        t = 1_700_000_000.0 + np.cumsum(rng.uniform(1.0, 40.0, n) +
                                        (rng.random(n) < 0.15) * 100.0)
        for i, ts in enumerate(t):
            rows.append((f"e{d:03d}", 0, float(ts), i))
    pdf = pd.DataFrame(rows, columns=["doc_id", "session_id", "ts", "seq"])
    df = spark.createDataFrame(pdf)

    def run():
        out = subflows_interval(df, 50.0, ("doc_id", "session_id"), "ts",
                                2, ("seq",))
        return (out.toPandas()
                .sort_values(["doc_id", "session_id", "ts", "seq"])
                .reset_index(drop=True))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    base = run()
    try:
        spark.conf.set(key, "5")
        tiny = run()
    finally:
        spark.conf.set(key, default)
    pd.testing.assert_frame_equal(tiny, base)
    assert base["subflow_id"].max() >= 1  # splits actually occurred


def test_subflow_mapper_batch_boundary_invariance():
    """Pure-pyarrow (no Spark): the subflows label kernel must give every
    row the SAME label no matter how the sorted ``(head, t)`` stream is
    chopped into Arrow batches — including batch sizes of 1 and a group
    spanning hundreds of batches — and exactly one int32 label per input
    row. Every group starts at the same time, so only the head flag tells
    the groups apart."""
    import numpy as np
    import pyarrow as pa

    from netml_spark.operators.sessionize import _subflow_labels

    rng = np.random.default_rng(5)
    heads, times, group = [], [], []
    for gi in range(13):
        n = int(rng.integers(1, 60)) if gi != 3 else 400  # one mega-group
        t = 1000.0 + np.cumsum(rng.uniform(0.5, 20.0, n)
                               + (rng.random(n) < 0.2) * 100.0)
        h = np.zeros(n, dtype=bool)
        h[0] = True
        heads.append(h)
        times.append(t)
        group.append(np.full(n, gi))
    head = pa.array(np.concatenate(heads))
    ts = pa.array(np.concatenate(times))
    group = np.concatenate(group)

    def labels_of(batch_size):
        batches = ((head.slice(a, batch_size), ts.slice(a, batch_size))
                   for a in range(0, len(ts), batch_size))
        out = list(_subflow_labels(batches, 50.0, 2))
        got = np.concatenate([o.to_numpy() for o in out])
        assert all(o.type == pa.int32() for o in out)
        assert len(got) == len(ts)  # exactly one label per input row
        return got

    base = labels_of(len(ts))  # single batch: the DuckDB-gated path
    assert base.max() >= 1 and (base < 0).any()  # splits and drops occur
    mega = group == 3
    assert mega.sum() == 400 and base[mega].max() >= 1
    for bs in (1, 3, 7, 64):
        np.testing.assert_array_equal(labels_of(bs), base)


def test_subflows_mega_group_spanning_many_batches(spark):
    """One mega-group spanning 80 tiny Arrow batches: the label kernel
    holds its ts slices and labels it once when it closes; equality vs
    default batching pins it."""
    import numpy as np
    import pandas as pd

    from netml_spark.operators.sessionize import subflows_interval

    rng = np.random.default_rng(11)
    n = 400  # 400 rows / 5-row batches = 80 batches for ONE group
    t = 1_700_000_000.0 + np.cumsum(rng.uniform(1.0, 40.0, n) +
                                    (rng.random(n) < 0.1) * 100.0)
    rows = [("mega", 0, float(ts), i) for i, ts in enumerate(t)]
    # neighbors before and after so the mega group has batch-mates
    rows = [("aaa", 0, 1_700_000_000.0 + i, i) for i in range(4)] + rows
    rows += [("zzz", 0, 1_700_000_000.0 + i, i) for i in range(4)]
    pdf = pd.DataFrame(rows, columns=["doc_id", "session_id", "ts", "seq"])
    df = spark.createDataFrame(pdf).coalesce(1)

    def run():
        out = subflows_interval(df, 50.0, ("doc_id", "session_id"), "ts",
                                2, ("seq",))
        return (out.toPandas()
                .sort_values(["doc_id", "session_id", "ts", "seq"])
                .reset_index(drop=True))

    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    default = spark.conf.get(key)
    base = run()
    try:
        spark.conf.set(key, "5")
        tiny = run()
    finally:
        spark.conf.set(key, default)
    pd.testing.assert_frame_equal(tiny, base)
    assert (base["doc_id"] == "mega").sum() > 300


def test_subflows_null_keys_one_group(spark):
    """ADVICE r4: adjacent null entity keys must form ONE group (groupBy
    semantics), not per-row singletons via NaN != NaN; so must float NaN
    keys. The kernel never sees the keys: Spark's window partitioning
    decides the groups."""
    import math

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    from netml_spark.operators.sessionize import subflows_interval

    schema = StructType([
        StructField("doc_id", DoubleType()),
        StructField("session_id", LongType()),
        StructField("ts", DoubleType()),
        StructField("seq", LongType()),
    ])
    rows = [(k, 0, 1_700_000_000.0 + i, i)
            for k in (None, float("nan"), 1.0) for i in range(5)]
    df = spark.createDataFrame(rows, schema).coalesce(1)
    out = (subflows_interval(df, 1000.0, ("doc_id", "session_id"), "ts",
                             3, ("seq",))
           .collect())
    # all three 5-row groups survive the >=3 min-size filter intact; as
    # per-row singletons the null and NaN rows would all be dropped
    assert len(out) == 15
    assert sum(r.doc_id is None for r in out) == 5
    assert sum(r.doc_id is not None and math.isnan(r.doc_id) for r in out) == 5
    assert {r.subflow_id for r in out} == {0}


def test_subflows_drops_null_ts_rows(spark):
    """Called directly, subflows_interval drops a row whose ts is null or
    NaN, as FeaturePlan.extract does: the output equals that of the input
    without those rows. Kept, a null sorts to the head of its group and
    anchors the split grid on NaN, so the kernel raises; a NaN sorts to
    the tail and rides along in the last subflow."""
    # groups a and b: four bursts 30 s apart, which a 10 s interval splits
    # at every burst; group c: one burst, no split
    clean = [(d, 0, 30.0 * b + i, 4 * b + i) for d in ("a", "b")
             for b in range(4) for i in range(4)]
    clean += [("c", 0, float(i), i) for i in range(4)]
    bad = [("a", 0, None, -1), ("b", 0, float("nan"), -1), ("c", 0, float("nan"), -1)]
    schema = "doc_id string, session_id long, ts double, seq long"

    def run(rows):
        df = spark.createDataFrame(rows, schema)
        out = subflows_interval(df, 10.0, ("doc_id", "session_id"), "ts", 2, ("seq",))
        return sorted(tuple(r) for r in out.collect())

    want = run(clean)
    assert {r[-1] for r in want if r[0] == "a"} == {0, 1, 2}  # a splits
    assert run(clean + bad) == want


def test_subflow_spans_batch_pyarrow():
    """Pure-pyarrow (no Spark): the span kernel over an offset-sliced
    ListArray of sorted times gives each row the kept subflows of
    ``netml_ref.flows2subflows`` as (sub, start, len) spans, with the sub
    ids of the event-level label kernel; across empty, one-value, null,
    split-heavy and near-tie rows, and a one-row batch."""
    import pyarrow as pa

    from netml_spark.operators.sessionize import _subflow_labels, _subflow_spans_batch

    interval, thres = 0.3, 2
    rng = np.random.default_rng(17)
    rows = [np.cumsum(rng.uniform(0.01, 0.5, int(rng.integers(2, 40)))) for _ in range(8)]
    rows += [np.cumsum(rng.uniform(0.25, 2.0, 60))]  # split-heavy
    # near ties: gaps of 0.1/0.2/0.3 s on a 0.3 s interval, where
    # 0.1 + 0.2 != 0.3 in floating point
    rows += [np.cumsum(rng.choice([0.1, 0.2, 0.3, 0.7], 80)) for _ in range(3)]
    rows[2:2] = [np.array([]), np.array([4.5]), None]
    arr = pa.array([[7.0]] * 2 + [None if r is None else r.tolist() for r in rows]
                   + [[7.0]], pa.list_(pa.float64())).slice(2, len(rows))
    assert arr.offset == 2

    def want(t):
        if t is None:
            return None
        if len(t) == 0:
            return []
        subs = netml_ref.flows2subflows([(0, t, np.arange(len(t)))], interval, thres)
        head = np.zeros(len(t), dtype=bool)
        head[0] = True
        labels = next(_subflow_labels(iter([(pa.array(head), pa.array(t))]),
                                      interval, thres)).to_numpy()
        out = []
        for _, st, pos in subs:
            np.testing.assert_array_equal(pos, np.arange(pos[0], pos[0] + len(pos)))
            np.testing.assert_array_equal(st, t[pos])
            out.append({"sub": int(labels[pos[0]]), "start": int(pos[0]) + 1,
                        "len": len(pos)})
        return out

    got = _subflow_spans_batch(arr, interval, thres)
    assert got.type == pa.list_(pa.struct([(c, pa.int32()) for c in ("sub", "start", "len")]))
    assert got.to_pylist() == [want(r) for r in rows]
    assert sum(len(s) > 3 for s in got.to_pylist() if s) >= 4  # rows split often
    one = pa.array([rows[-1].tolist()], pa.list_(pa.float64()))
    assert _subflow_spans_batch(one, interval, thres).to_pylist() == [want(rows[-1])]
    no_values = pa.array([[], None], pa.list_(pa.float64()))
    assert _subflow_spans_batch(no_values, interval, thres).to_pylist() == [[], None]


def test_subflow_spans_batch_zero_or_inf_interval():
    """The reference divides by the split interval only at a gap wider
    than it: at an interval of inf, or of 0 over rows whose packets share
    one ts, nothing splits; at 0 a row with a positive gap raises
    ValueError, where the reference would divide by zero."""
    import pyarrow as pa

    from netml_spark.operators.sessionize import _subflow_spans_batch

    whole = [{"sub": 0, "start": 1, "len": 3}]
    flat = pa.array([[4.0, 4.0, 4.0], [], [9.0]], pa.list_(pa.float64()))
    assert _subflow_spans_batch(flat, 0.0, 2).to_pylist() == [whole, [], []]
    spread = pa.array([[0.0, 50.0, 900.0]], pa.list_(pa.float64()))
    assert _subflow_spans_batch(spread, np.inf, 2).to_pylist() == [whole]
    with pytest.raises(ValueError, match="split interval"):
        _subflow_spans_batch(spread, 0.0, 2)
