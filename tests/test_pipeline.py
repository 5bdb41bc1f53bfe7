"""End-to-end parity: FeaturePlan vs the oracle's full
pcap2flows -> flows2subflows -> flow2features lifecycle (parser.py:691-834),
including both data-dependent quantile barriers."""

import numpy as np
import pytest

from netml_spark import datagen
from netml_spark.oracle import netml_ref
from netml_spark.pipeline import FeaturePlan


def _oracle_features(token_events_pdf, feat_type, fft=False, q_interval=0.9, header=False):
    # carry each event's row number through the oracle lifecycle in place
    # of its size, so every subflow can look up its sizes and header series
    ev = token_events_pdf.sort_values(["ts", "seq"], kind="stable").reset_index(drop=True)
    flows = datagen.oracle_flows(ev.assign(token=np.arange(len(ev))))
    sess = netml_ref.pcap2flows(flows, flow_pkts_thres=2, timeout=600.0)
    durations = [netml_ref.flow_duration(t) for _, t, _ in sess]
    interval = netml_ref.split_interval(durations, q_interval)
    subs = netml_ref.flows2subflows(sess, interval, flow_pkts_thres=2)
    headers = [(ev.proto.to_numpy()[i], ev.ttl.to_numpy()[i], ev.tcp_flags.to_numpy()[i])
               for _, _, i in subs]
    subs = [(fid, t, ev.token.to_numpy()[i]) for fid, t, i in subs]
    X = netml_ref.flow2features(subs, feat_type, q_interval, fft=fft, header=header,
                                headers_input=headers)
    # key rows by (doc_id, t0, n) for alignment with the Spark side
    keys = [(fid, round(float(t[0]), 9), len(t)) for fid, t, _ in subs]
    return dict(zip(keys, X)), interval


def _spark_features(spark, token_events_df, feat_type, fft=False, header=False):
    plan = FeaturePlan(feat_type=feat_type, fft=fft, header=header, q_interval=0.9)
    out = plan.extract(token_events_df, ("doc_id",), "ts", "token", ("seq",))
    rows = out.select("doc_id", "times", "features").collect()
    got = {
        (r.doc_id, round(float(r.times[0]), 9), len(r.times)): np.asarray(r.features)
        for r in rows
    }
    return got, plan


def test_featureplan_on_timestamp_input(spark):
    """Regression: subflows_interval must treat datetime64 as epoch SECONDS
    (it initially converted to float nanoseconds, breaking every gap test
    on real TIMESTAMP_NTZ parquet)."""
    from pyspark.sql import functions as F

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ev2 = ev.select(
        F.col("user_id").cast("string").alias("doc_id"),
        "ts",
        F.col("event_id").alias("seq"),
        (F.col("value") * 100).cast("int").alias("token"),
    )
    plan = FeaturePlan(feat_type="STATS")
    out = plan.extract(ev2, ("doc_id",), "ts", "token", ("seq",), carry_cols=()).toPandas()
    assert len(out) > 0
    assert set(out["features"].map(len)) == {12}
    # sane interval: seconds-scale, not nanoseconds
    assert 1.0 < plan.split_interval < 1e6


PARITY_CASES = [
    ("IAT", False, False),
    ("SIZE", False, False),
    ("IAT_SIZE", False, False),
    ("STATS", False, False),
    ("SAMP_NUM", False, False),
    ("SAMP_SIZE", False, False),
    ("IAT", True, False),  # FFT-IAT
    ("STATS", False, True),  # header, padded
    ("IAT", True, True),  # FFT-IAT with the header's FFT
]


@pytest.mark.parametrize(
    "feat_type,fft,header", PARITY_CASES,
    ids=[f"{f}-{x}" + ("-header" if h else "") for f, x, h in PARITY_CASES],
)
def test_featureplan_parity(spark, token_events_df, token_events_pdf, feat_type, fft,
                            header):
    ora, interval = _oracle_features(token_events_pdf, feat_type, fft=fft, header=header)
    got, plan = _spark_features(spark, token_events_df, feat_type, fft=fft, header=header)
    assert abs(plan.split_interval - interval) < 1e-9, "split interval mismatch"
    assert set(got.keys()) == set(ora.keys())
    dims = {len(v) for v in got.values()}
    assert dims == {len(next(iter(ora.values())))}, "fixed output dim"
    for k in ora:
        np.testing.assert_allclose(got[k], ora[k], rtol=1e-9, atol=1e-9, err_msg=str(k))


def test_featureplan_approx_quantiles(spark, token_events_df, token_events_pdf):
    """``approx_quantiles=True`` (``jobs/extract_features.py
    --approx-quantiles``): percentile_approx may miss the exact quantile's
    rank by n / QUANTILE_ACCURACY, so the split interval and dim each lie
    between the order statistics around the exact rank, widened by that
    error, and the output schema equals the exact plan's."""
    from netml_spark.operators.quantile import QUANTILE_ACCURACY

    def assert_within_accuracy(v, vals, q):
        vals = np.sort(np.asarray(vals, dtype=np.float64))
        n = len(vals)
        err = int(np.ceil(n / QUANTILE_ACCURACY))
        r = q * (n - 1)  # the exact (interpolated) quantile's rank
        lo = vals[max(0, int(np.floor(r)) - err)]
        hi = vals[min(n - 1, int(np.ceil(r)) + err)]
        assert lo <= v <= hi, (v, lo, hi)

    exact = FeaturePlan(feat_type="IAT", q_interval=0.9)
    approx = FeaturePlan(feat_type="IAT", q_interval=0.9, approx_quantiles=True)
    args = (("doc_id",), "ts", "token", ("seq",))
    out_exact = exact.extract(token_events_df, *args)
    out = approx.extract(token_events_df, *args)
    try:
        assert out.schema == out_exact.schema
        # split interval: over the session durations (no interval dependence)
        ev = token_events_pdf.sort_values(["ts", "seq"], kind="stable")
        sess = netml_ref.pcap2flows(datagen.oracle_flows(ev), flow_pkts_thres=2,
                                    timeout=600.0)
        durations = [netml_ref.flow_duration(t) for _, t, _ in sess]
        assert_within_accuracy(approx.split_interval, durations, 0.9)
        # dim: over the flow sizes the approximate interval produced
        n_tok = [r.n_tok for r in out.select("n_tok").collect()]
        assert_within_accuracy(approx.dim + 1, n_tok, 0.9)  # IAT: dim - 1
    finally:
        exact.release()
        approx.release()


def test_featureplan_empty_input_is_a_value(spark, token_events_df):
    """r3-verdict item 6: zero input rows (or none surviving the
    session/subflow thresholds) yield an EMPTY, correctly-schemaed frame —
    not a ValueError from the two-pass quantile. Placeholder scalars flow
    through the plan (flagged by plan.empty_input); every caller composes
    without a catch (jobs/classify.py's was removed)."""
    from pyspark.sql import functions as F

    empty = token_events_df.filter(F.col("doc_id") == "__no_such_doc__")
    for feat_type in ("IAT", "STATS", "SAMP_NUM"):
        plan = FeaturePlan(feat_type=feat_type)
        out = plan.extract(empty, ("doc_id",), "ts", "token", ("seq",))
        assert out.columns == [
            "doc_id", "session_id", "subflow_id", "source",
            "n_tok", "tokens", "times", "features",
        ]
        assert dict(out.dtypes)["features"] == "array<double>"
        assert out.count() == 0
        assert plan.empty_input

    # a plan over real input keeps the flag off
    plan = FeaturePlan(feat_type="IAT")
    out = plan.extract(token_events_df, ("doc_id",), "ts", "token", ("seq",))
    assert not plan.empty_input and out.count() > 0


_EVENTS = "doc_id string, ts double, token int, seq long"


def _zero_duration_rows(n_zero, n_spread):
    """Three-packet entities: ``n_zero`` whose packets share one ts (0 s
    sessions and flows), then ``n_spread`` that last 2 s."""
    rows = [(f"z{k}", 100.0 * k, 7, i) for k in range(n_zero) for i in range(3)]
    return rows + [(f"w{k}", 5000.0 + 100.0 * k + i, 7, i) for k in range(n_spread)
                   for i in range(3)]


def test_featureplan_release_unpersists_cache(spark, token_events_df):
    """r4 verdict item 5: extract() leaves one cache, the flows, which
    plan.release() releases; a repeated extract() on the same plan
    releases the previous cache automatically — no accumulation across
    extracts. An extract whose split-interval barrier raises leaves the
    session cache behind, and release() drops it too."""

    def n_cached():
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    spark.catalog.clearCache()
    base = n_cached()
    plan = FeaturePlan(feat_type="IAT")
    out = plan.extract(token_events_df, ("doc_id",), "ts", "token", ("seq",))
    assert out.count() > 0
    assert n_cached() == base + 1
    # re-extract on the same plan: previous cache released first
    out2 = plan.extract(token_events_df, ("doc_id",), "ts", "token", ("seq",))
    assert out2.count() > 0
    assert n_cached() == base + 1
    plan.release()
    assert n_cached() == base
    plan.release()  # idempotent
    with pytest.raises(ValueError):
        plan.extract(spark.createDataFrame(_zero_duration_rows(19, 1), _EVENTS),
                     ("doc_id",), "ts", "token", ("seq",), carry_cols=())
    assert n_cached() == base + 1
    plan.release()
    assert n_cached() == base


def test_empty_input_error_is_distinct(spark):
    """ADVICE r4: only the empty-input case is caught by FeaturePlan —
    a genuinely bad argument (here: an aggregate of a missing column)
    must NOT be swallowed as empty input."""
    import pytest
    from pyspark.sql.utils import AnalysisException

    from netml_spark.operators.quantile import EmptyInputError, exact_quantile

    df = spark.range(0).selectExpr("cast(id as double) as duration")
    with pytest.raises(EmptyInputError):
        exact_quantile(df, "duration", 0.9)
    with pytest.raises(AnalysisException):
        exact_quantile(df, "no_such_column", 0.9)


@pytest.mark.parametrize("ts_type", ["double", "timestamp"])
@pytest.mark.parametrize("interval", [10.0, 0.0], ids=["forced_split", "derived"])
def test_featureplan_drops_null_ts_rows(spark, interval, ts_type):
    """A null ts (or a NaN one, for double input) places an event nowhere
    in time, so extract drops it before sessionizing: the output equals
    that of the input without those rows. Unfiltered, a null at the head
    of a session that splits anchors the subflows grid on NaN and the
    kernel raises; with a derived interval the null rides along in
    ``times``."""
    from pyspark.sql import functions as F

    # four bursts 30 s apart: one 600 s-timeout session per entity that a
    # 10 s interval splits at every burst
    times = [30.0 * b + i for b in range(4) for i in range(4)]
    clean = [(e, t0 + t, i % 7, i) for e, t0 in (("a", 0.0), ("b", 1000.0))
             for i, t in enumerate(times)]
    bad = [("a", None, 3, -1)]
    if ts_type == "double":
        bad.append(("b", float("nan"), 4, -1))
    schema = "doc_id string, ts double, token int, seq long"

    def run(rows):
        df = spark.createDataFrame(rows, schema)
        if ts_type == "timestamp":
            df = df.withColumn("ts", F.timestamp_seconds("ts"))
        plan = FeaturePlan(feat_type="IAT", interval=interval)
        out = plan.extract(df, ("doc_id",), "ts", "token", ("seq",), carry_cols=())
        rows = out.select("doc_id", "session_id", "subflow_id", "times",
                          "features").collect()
        return sorted(tuple(r) for r in rows), plan.split_interval

    want, want_interval = run(clean)
    got, got_interval = run(clean + bad)
    assert len(want) > (2 if interval else 0)
    assert got_interval == want_interval
    assert got == want


def _oracle_keyed(rows, feat_type, interval=10.0):
    """The reference lifecycle over (entity, ts, token, seq) rows at a 10 s
    (or the given) interval, keyed by (entity, first ts). The rows extract drops (null or
    NaN ts, null token) never reach it; a None entity is a key like any
    other."""
    rows = [r for r in rows if r[1] is not None and not np.isnan(r[1]) and r[2] is not None]
    flows = {}
    for e, t, tok, _ in sorted(rows, key=lambda r: (r[1], r[3])):
        flows.setdefault(e, []).append((t, tok))
    flows = [(e, np.array([t for t, _ in v]), np.array([k for _, k in v]))
             for e, v in flows.items()]
    subs = netml_ref.flows2subflows(netml_ref.pcap2flows(flows, 2, 600.0), interval, 2)
    if not subs:
        return {}
    X = netml_ref.flow2features(subs, feat_type.replace("FFT-", ""), 0.9,
                                fft=feat_type.startswith("FFT-"))
    return {(e, t[0]): x for (e, t, _), x in zip(subs, X)}


EDGE_CASES = ["null_entity", "null_token", "nan_ts", "dup_ts", "single_event", "empty"]


@pytest.mark.parametrize("case", EDGE_CASES)
@pytest.mark.parametrize(
    "feat_type", ["IAT", "SIZE", "IAT_SIZE", "STATS", "SAMP_NUM", "SAMP_SIZE", "FFT-IAT"])
def test_featureplan_null_entity_and_token(spark, feat_type, case):
    """One contract for every feature type, pinned against the reference
    lifecycle on each edge case:

    - null_entity: a null entity key is a key like any other; its flows
      are kept;
    - null_token: a packet without a size, which the reference cannot
      have, is dropped with the null-ts rows;
    - nan_ts: a null or NaN ts places a packet nowhere in time; dropped;
    - dup_ts: packets that share a ts are all kept, in seq order;
    - single_event: a one-packet entity, and a lone packet that forms a
      one-packet subflow, yield no flow;
    - empty: no rows in gives an empty frame out (``plan.empty_input``).

    Where rows are dropped, the output equals that of the input without
    them."""
    # four bursts 30 s apart per entity: a 10 s interval keeps three
    # four-packet subflows each (the trailing one is discarded)
    times = [30.0 * b + i for b in range(4) for i in range(4)]
    entities = ("a", None, "b") if case == "null_entity" else ("a", "b")
    clean = [(e, 1000.0 * k + t, 40 + i, i) for k, e in enumerate(entities)
             for i, t in enumerate(times)]
    extra = {
        "null_token": [("a", 31.5, None, 99), ("b", 1060.5, None, 99)],
        "nan_ts": [("a", None, 7, 99), ("b", float("nan"), 8, 99)],
        "dup_ts": [("a", 31.0, 77, 99), ("b", 1062.0, 78, 99)],
        "single_event": [("a", 45.0, 7, 99), ("c", 5000.0, 8, 99)],
    }.get(case, [])
    rows = [] if case == "empty" else clean + extra
    schema = "doc_id string, ts double, token int, seq long"

    def run(rows):
        plan = FeaturePlan(feat_type=feat_type.replace("FFT-", ""),
                           fft=feat_type.startswith("FFT-"), interval=10.0)
        out = plan.extract(spark.createDataFrame(rows, schema), ("doc_id",), "ts",
                           "token", ("seq",), carry_cols=())
        got = sorted((tuple(r) for r in out.select("doc_id", "times", "tokens",
                                                   "features").collect()),
                     key=lambda r: (r[0] or "", r[1]))
        return got, plan

    got, plan = run(rows)
    assert plan.empty_input == (case == "empty")
    keys = [(r[0], r[1][0]) for r in got]
    want_keys = [] if case == "empty" else [
        (e, 1000.0 * k + 30.0 * b) for k, e in enumerate(entities) for b in range(3)]
    assert keys == sorted(want_keys, key=lambda r: (r[0] or "", r[1]))
    assert all(not np.isnan(r[3]).any() for r in got)
    want = _oracle_keyed(rows, feat_type)
    assert set(want) == set(keys)
    for r in got:
        np.testing.assert_allclose(r[3], want[(r[0], r[1][0])], rtol=1e-9, atol=1e-9)
    if case == "dup_ts":
        # each tie follows its twin (lower seq first)
        assert sorted(tuple(r[2]) for r in got if len(r[1]) == 5) == [
            (44, 45, 77, 46, 47), (48, 49, 50, 78, 51)]
    if case in ("null_token", "nan_ts", "single_event"):
        assert got == run(clean)[0]


def test_featureplan_one_long_session_splits_like_the_oracle(spark):
    """One session of 10,000 packets, more than an Arrow batch's 8192
    rows, that a 10 s interval splits about 200 times: every flow and its
    features equal the reference lifecycle's."""
    rng = np.random.default_rng(23)
    gaps = rng.uniform(0.2, 2.0, 10_000) + (rng.random(10_000) < 0.02) * 15.0
    rows = [("big", float(t), int(k), i) for i, (t, k) in
            enumerate(zip(np.cumsum(gaps), rng.integers(40, 1500, 10_000)))]
    rows += [("small", 5000.0 + i, 60, i) for i in range(5)]
    plan = FeaturePlan(feat_type="IAT", interval=10.0)
    out = plan.extract(spark.createDataFrame(rows, "doc_id string, ts double, token int, "
                                                   "seq long"),
                       ("doc_id",), "ts", "token", ("seq",), carry_cols=())
    try:
        got = out.select("doc_id", "session_id", "times", "features").collect()
    finally:
        plan.release()
    assert {r.session_id for r in got} == {0}
    assert sum(r.doc_id == "big" for r in got) > 100
    want = _oracle_keyed(rows, "IAT")
    assert set(want) == {(r.doc_id, r.times[0]) for r in got}
    for r in got:
        np.testing.assert_allclose(r.features, want[(r.doc_id, r.times[0])],
                                   rtol=1e-9, atol=1e-9)


def test_featureplan_dup_ts_across_a_split_follows_seq(spark):
    """Packets that share a ts at the head of a split keep (ts, seq)
    order, not token order: here seq runs opposite to the token."""
    rows = [("a", float(t), 40 + i, i) for i, t in enumerate([0, 1, 2, 3, 31, 32, 33])]
    rows += [("a", 30.0, 100, 11), ("a", 30.0, 200, 10)]  # the split's head
    rows += [("a", 60.0 + i, 50, 20 + i) for i in range(3)]  # the discarded tail
    plan = FeaturePlan(feat_type="SIZE", interval=10.0)
    out = plan.extract(spark.createDataFrame(rows, "doc_id string, ts double, token int, "
                                                   "seq long"),
                       ("doc_id",), "ts", "token", ("seq",), carry_cols=())
    try:
        got = sorted((r.times[0], list(r.tokens), list(r.features))
                     for r in out.select("times", "tokens", "features").collect())
    finally:
        plan.release()
    assert [g[1] for g in got] == [[40, 41, 42, 43], [200, 100, 44, 45, 46]]
    want = _oracle_keyed(rows, "SIZE")
    assert set(want) == {("a", g[0]) for g in got}
    for t0, _, f in got:
        np.testing.assert_array_equal(f, want[("a", t0)])


@pytest.mark.parametrize("feat_type", ["IAT", "SAMP_NUM"])
def test_featureplan_zero_quantile_raises(spark, feat_type):
    """A derived split interval or SAMP rate of 0, with a session or flow
    that lasts longer than 0 s, would divide by zero in the reference
    (netml_ref.py:103, :205): extract raises ValueError naming the
    quantile. IAT: 19 of 20 sessions last 0 s, so the q_interval=0.9
    duration quantile is 0; SAMP_NUM at a 10 s interval: 4 of 10 flows
    last 0 s, so the 0.3 flow-duration quantile is 0."""
    if feat_type == "IAT":
        df = spark.createDataFrame(_zero_duration_rows(19, 1), _EVENTS)
        plan, match = FeaturePlan(feat_type="IAT"), "q_interval=0.9 quantile"
    else:
        df = spark.createDataFrame(_zero_duration_rows(4, 6), _EVENTS)
        plan, match = FeaturePlan(feat_type="SAMP_NUM", interval=10.0), "SAMP sampling rate"
    try:
        with pytest.raises(ValueError, match=match):
            plan.extract(df, ("doc_id",), "ts", "token", ("seq",), carry_cols=())
    finally:
        plan.release()


@pytest.mark.parametrize("feat_type,interval,rows,scalars", [
    ("IAT", 0.0, _zero_duration_rows(5, 0), (0.0, None)),
    ("SAMP_NUM", 10.0, _zero_duration_rows(5, 0), (10.0, 0.0)),
    ("IAT", np.inf, [("w", 20.0 * i, 7, i) for i in range(5)], (np.inf, None)),
], ids=["derived_interval_0", "samp_rate_0", "interval_inf"])
def test_featureplan_zero_or_inf_divisor_matches_the_oracle(spark, feat_type, interval, rows,
                                                            scalars):
    """The reference divides by the split interval and the SAMP rate only
    past a gap wider than them. Where every session lasts 0 s, the derived
    interval (or, at a 10 s interval, the SAMP rate) is 0 and splits
    nothing; an interval of inf never splits. Each output equals the
    reference lifecycle's."""
    plan = FeaturePlan(feat_type=feat_type, interval=interval)
    out = plan.extract(spark.createDataFrame(rows, _EVENTS), ("doc_id",), "ts", "token",
                       ("seq",), carry_cols=())
    try:
        got = out.select("doc_id", "times", "features").collect()
    finally:
        plan.release()
    assert (plan.split_interval, plan.sampling_rate) == scalars
    want = _oracle_keyed(rows, feat_type, interval=interval)
    assert len(got) == len(want) > 0
    for r in got:
        np.testing.assert_array_equal(r.features, want[(r.doc_id, r.times[0])])


def test_featureplan_carry_is_per_session(spark):
    """Carry columns are taken once per session (``first()`` over its
    events), before the interval split. A column constant per session,
    like the capture source, reaches each of its flows exactly; one that
    varies within a session gives all of its flows one of its values."""
    rows = [("a", float(t), 40, i, "s1", f"e{i % 3}")
            for i, t in enumerate([0, 1, 2, 3, 31, 32, 33, 61, 62])]
    rows += [("b", 1000.0 + i, 50, i, "s2", "x") for i in range(3)]
    df = spark.createDataFrame(rows, f"{_EVENTS}, source string, kind string")
    plan = FeaturePlan(feat_type="SIZE", interval=10.0)
    out = plan.extract(df, ("doc_id",), "ts", "token", ("seq",), carry_cols=("source", "kind"))
    try:
        got = out.select("doc_id", "subflow_id", "source", "kind").collect()
    finally:
        plan.release()
    assert sorted((r.doc_id, r.subflow_id, r.source) for r in got) == [
        ("a", 0, "s1"), ("a", 1, "s1"), ("b", 0, "s2")]
    kinds = {r.kind for r in got if r.doc_id == "a"}
    assert len(kinds) == 1 and kinds <= {"e0", "e1", "e2"}
