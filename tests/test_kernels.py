"""Parity: array kernels vs numpy oracle (reference parser.py:300-652)."""

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.util import PythonEvalType

from netml_spark.operators import kernels
from netml_spark.operators.sequences import events_to_sequences
from netml_spark.operators.stats import STATS_COLS
from netml_spark.oracle import netml_ref


def _seqs(spark, token_events_df):
    return events_to_sequences(
        token_events_df, ("doc_id",), "ts", "token", ("seq",), ("source",)
    )


def _oracle_by_doc(token_events_pdf):
    out = {}
    pdf = token_events_pdf.sort_values(["doc_id", "ts", "seq"], kind="stable")
    for doc_id, g in pdf.groupby("doc_id"):
        out[doc_id] = (
            g["ts"].to_numpy(np.float64),
            g["token"].to_numpy(np.float64),
        )
    return out


def test_iat_and_size_and_iat_size(spark, token_events_df, token_events_pdf):
    seqs = _seqs(spark, token_events_df)
    got = seqs.select(
        "doc_id",
        kernels.iat("times").alias("iat"),
        kernels.sizes_double("tokens").alias("size"),
        kernels.iat_size("times", "tokens").alias("iat_size"),
    ).collect()
    ora = _oracle_by_doc(token_events_pdf)
    assert len(got) == len(ora)
    for r in got:
        t, s = ora[r.doc_id]
        np.testing.assert_allclose(np.asarray(r.iat), netml_ref.get_IAT(t), rtol=0, atol=0)
        np.testing.assert_array_equal(np.asarray(r.size), netml_ref.get_SIZE(s))
        np.testing.assert_allclose(
            np.asarray(r.iat_size), netml_ref.get_IAT_SIZE(t, s), rtol=0, atol=0
        )


def test_pad_truncate(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"v": [[1.0, 2.0, 3.0], [1.0], []]})
    )
    got = df.select(kernels.pad_truncate("v", 2).alias("p")).collect()
    assert [list(r.p) for r in got] == [[1.0, 2.0], [1.0, 0.0], [0.0, 0.0]]
    got5 = df.select(kernels.pad_truncate("v", 5).alias("p")).collect()
    assert [list(r.p) for r in got5] == [
        [1.0, 2.0, 3.0, 0.0, 0.0], [1.0, 0.0, 0.0, 0.0, 0.0], [0.0] * 5
    ]


def test_samp_kernels(spark, token_events_df, token_events_pdf):
    seqs = _seqs(spark, token_events_df)
    rate = 1.0
    got = seqs.select(
        "doc_id",
        kernels.samp_udf("SAMP_NUM", rate)("times", "tokens").alias("sn"),
        kernels.samp_udf("SAMP_SIZE", rate)("times", "tokens").alias("ss"),
    ).collect()
    ora = _oracle_by_doc(token_events_pdf)
    for r in got:
        t, s = ora[r.doc_id]
        np.testing.assert_allclose(
            np.asarray(r.sn), netml_ref.get_SAMP(t, s, "SAMP_NUM", rate), rtol=0, atol=0
        )
        np.testing.assert_allclose(
            np.asarray(r.ss), netml_ref.get_SAMP(t, s, "SAMP_SIZE", rate), rtol=0, atol=0
        )


def test_samp_fast_path_exact_vs_loop(spark):
    """One Arrow batch mixing fast-path rows (clean off-grid times) with
    forced fallbacks (grid-boundary times, >500-bucket spans, huge-gap
    caps) — every row must equal the verbatim loop exactly."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(40):
        n = int(rng.integers(1, 50))
        t = np.sort(rng.uniform(0, 300, n)); t[0] = 0.0
        rows.append((i, t, rng.uniform(1, 1500, n)))
    rows.append((100, np.array([0.0, 1.0, 2.0, 5.0]), np.ones(4)))          # exact grid
    rows.append((101, np.array([0.0, 1000.0, 1001.0, 2000.0]), np.ones(4))) # caps
    rows.append((102, np.arange(0.0, 900.0, 1.5), np.ones(600)))            # >500 buckets
    pdf = pd.DataFrame({"doc_id": [r[0] for r in rows],
                        "times": [r[1] for r in rows],
                        "tokens": [r[2] for r in rows]})
    df = spark.createDataFrame(pdf)
    for feat in ("SAMP_NUM", "SAMP_SIZE"):
        got = df.select("doc_id", kernels.samp_udf(feat, 1.0)("times", "tokens").alias("f")).collect()
        byid = {r[0]: (r[1], r[2]) for r in rows}
        for r in got:
            t, s = byid[r.doc_id]
            exp = netml_ref.get_SAMP(t, s, feat, 1.0)
            np.testing.assert_allclose(np.asarray(r.f), exp, rtol=0, atol=0)


def test_samp_500_caps():
    # quirk pin (parser.py:535-542): wide gap zero-fill capped at 500 per
    # gap; whole feature truncated at 500
    t = np.array([0.0, 1000.0, 1001.0, 2000.0])
    s = np.ones(4)
    f = netml_ref.get_SAMP(t, s, "SAMP_NUM", 0.1)
    assert len(f) == 500
    # one emitted bucket then zeros
    assert f[0] == 1 and set(f[1:]) == {0.0}


def test_fft_kernel(spark, token_events_df, token_events_pdf):
    """Batched FFT equals the per-row np.fft.fft exactly (atol=0), on the
    fixture's IAT series and on rows longer than n, shorter and empty."""
    seqs = _seqs(spark, token_events_df)
    ora = _oracle_by_doc(token_events_pdf)
    rng = np.random.default_rng(5)
    for n in (8, 63):
        got = seqs.select(
            "doc_id", kernels.fft_udf(n)(kernels.iat("times")).alias("f")
        ).collect()
        for r in got:
            t, _ = ora[r.doc_id]
            exp = np.real(np.fft.fft(netml_ref.get_IAT(t), n))
            np.testing.assert_allclose(np.asarray(r.f), exp, rtol=0, atol=0)
        rows = [rng.uniform(0, 9, m).tolist() for m in (0, 1, n - 1, n, n + 1, 200)]
        df = spark.createDataFrame(list(enumerate(rows)), "i int, v array<double>")
        for r in df.select("i", kernels.fft_udf(n)("v").alias("f")).collect():
            exp = np.real(np.fft.fft(np.asarray(rows[r.i], np.float64), n))
            np.testing.assert_allclose(np.asarray(r.f), exp, rtol=0, atol=0)


def test_udfs_null_row_gives_null(spark):
    """A null row in any input of a UDF gives a null output row; an empty
    row gives an empty IAT, IAT_SIZE and SAMP, an all-zero FFT, eight zero
    flag counts for the header and a null STATS (no packet, no
    statistics); a one-value row gives [] for IAT, [size] for IAT_SIZE
    and the reference's STATS; a null flag string counts nothing."""
    df = spark.createDataFrame(
        [(0, [0.0, 0.4, 2.5], [3, 4, 5], ["SA", "SS", "S"], [6, 6, 17], [64, 63, 62]),
         (1, None, [1], ["S"], [6], None), (2, [0.0, 1.5], None, None, [6], [64]),
         (3, [], [], [], [], []), (4, [2.0], [9], [None], [6], [61])],
        "i int, times array<double>, tokens array<int>, flags array<string>, "
        "protos array<int>, ttls array<int>",
    )
    got = {r.i: r for r in df.select(
        "i", kernels.samp_udf("SAMP_SIZE", 1.0)("times", "tokens").alias("s"),
        kernels.fft_udf(4)("times").alias("f"),
        kernels.iat("times").alias("iat"),
        kernels.iat_size("times", "tokens").alias("iat_size"),
        kernels.stats("times", "tokens").alias("stats"),
        kernels.header("flags", "protos", "ttls").alias("h"),
    ).collect()}
    assert got[0].s == [7.0, 0.0, 5.0]
    assert got[0].iat == list(np.diff([0.0, 0.4, 2.5]))
    assert got[0].iat_size == list(netml_ref.get_IAT_SIZE([0.0, 0.4, 2.5], [3, 4, 5]))
    assert got[0].stats == list(netml_ref.get_STATS([0.0, 0.4, 2.5], [3, 4, 5]))
    assert got[0].h == list(netml_ref.get_header([6, 6, 17], [64, 63, 62],
                                                 ["SA", "SS", "S"]))
    assert (got[1].s, got[1].f, got[1].iat, got[1].iat_size) == (None,) * 4
    assert (got[1].stats, got[1].h) == (None, None)
    assert got[2].s is None and got[2].iat_size is None and got[2].stats is None
    assert got[2].f is not None and got[2].iat == [1.5] and got[2].h is None
    assert (got[3].s, got[3].f, got[3].iat, got[3].iat_size) == ([], [0.0] * 4, [], [])
    assert (got[3].stats, got[3].h) == (None, [0.0] * 8)
    assert (got[4].iat, got[4].iat_size) == ([], [9.0])
    assert got[4].stats == list(netml_ref.get_STATS([2.0], [9]))
    assert got[4].h == [0.0] * 8 + [61.0]


def test_udfs_are_arrow_scalar_udfs():
    """Every element-walking kernel stays Arrow-native: a pandas UDF would
    bring back the per-row pandas conversion at the Python boundary."""
    for udf in (kernels.samp_udf("SAMP_NUM", 1.0), kernels.fft_udf(8),
                kernels.iat, kernels.iat_size, kernels.stats, kernels.header):
        assert udf.evalType == PythonEvalType.SQL_SCALAR_ARROW_UDF


def test_signature_plans_are_arrow_scalar_udfs(spark):
    """The MinHash and SimHash signature plans run their kernels as Arrow
    scalar UDFs too: every ArrowEvalPython node of the executed plan ends
    in evalType 250 (SQL_SCALAR_ARROW_UDF), not 200 (a pandas UDF)."""
    from netml_spark.operators import dedup

    df = spark.createDataFrame([(1, "a b c d e"), (2, None)], "doc_id long, text string")
    for sigs in (dedup.minhash_signatures(df, n_hashes=8), dedup.simhash_signatures(df)):
        sigs.collect()
        nodes = [ln.strip() for ln in
                 sigs._jdf.queryExecution().executedPlan().toString().splitlines()
                 if "ArrowEvalPython" in ln]
        assert nodes and all(
            ln.endswith(f", {PythonEvalType.SQL_SCALAR_ARROW_UDF}") for ln in nodes), nodes


def _list_array(rows, value_type, pad=2):
    """A ListArray of ``rows`` sliced out of a longer one (non-zero offset)."""
    junk = [[7, 7]] * pad
    return pa.array(junk + list(rows) + junk, pa.list_(value_type)).slice(pad, len(rows))


@pytest.mark.parametrize("token_type", [pa.int32(), pa.float64()])
@pytest.mark.parametrize("feat", ["SAMP_NUM", "SAMP_SIZE"])
def test_samp_batch_pyarrow(feat, token_type):
    """The SAMP batch kernel on sliced ListArrays: fast-path rows, empty
    rows, zero-size trailing buckets and forced fallbacks all equal the
    verbatim loop exactly."""
    rng = np.random.default_rng(3)
    times = [np.sort(rng.uniform(0, 60, int(rng.integers(1, 30)))) for _ in range(25)]
    times += [np.array([]), np.array([0.0, 1.0, 2.0, 5.0]), np.array([0.0, 0.5])]
    sizes = [rng.integers(0, 1500, len(t)) for t in times]
    sizes[-1] = np.zeros(2, dtype=np.int64)  # trailing bucket sum 0 -> dropped
    ta = _list_array([t.tolist() for t in times], pa.float64())
    sa = _list_array([s.tolist() for s in sizes], token_type)
    assert ta.offset == sa.offset == 2
    got = kernels._samp_batch(ta, sa, feat, 1.0).to_pylist()
    for g, t, s in zip(got, times, sizes):
        exp = netml_ref.get_SAMP(t, s, feat, 1.0) if len(t) else np.array([])
        np.testing.assert_allclose(np.asarray(g, np.float64), exp, rtol=0, atol=0)


def test_samp_batch_all_fallback():
    """Every row ineligible for the closed form (grid-boundary times,
    >500 buckets, a capped gap): the loop results splice in by offset."""
    times = [np.array([0.0, 1.0, 2.0]), np.arange(0.0, 900.0, 1.5),
             np.array([0.0, 1000.0, 1001.0, 2000.0]), np.array([0.0, 3.0])]
    sizes = [np.arange(1, len(t) + 1) for t in times]
    ta = _list_array([t.tolist() for t in times], pa.float64())
    sa = _list_array([s.tolist() for s in sizes], pa.int32())
    got = kernels._samp_batch(ta, sa, "SAMP_SIZE", 1.0).to_pylist()
    for g, t, s in zip(got, times, sizes):
        np.testing.assert_allclose(
            np.asarray(g), netml_ref.get_SAMP(t, s, "SAMP_SIZE", 1.0), rtol=0, atol=0)


@pytest.mark.parametrize("rate", [0.0, np.inf])
def test_samp_batch_zero_or_inf_rate(rate):
    """The loop divides by the rate only at a packet more than the rate
    past its row's first. At a rate of inf, or of 0 over rows whose packets
    share one ts, each row is one bucket, as in the loop; at a rate of 0 a
    row with a later packet raises ValueError, where the loop would
    divide by zero."""
    times = [np.array([3.0, 3.0, 3.0]), np.array([5.0]), np.array([]), np.array([2.0, 2.0])]
    if rate == np.inf:
        times.append(np.array([0.0, 1.0, 700.0]))
    sizes = [np.arange(1, len(t) + 1) for t in times]
    ta = _list_array([t.tolist() for t in times], pa.float64())
    sa = _list_array([s.tolist() for s in sizes], pa.int32())
    for feat in ("SAMP_NUM", "SAMP_SIZE"):
        got = kernels._samp_batch(ta, sa, feat, rate).to_pylist()
        for g, t, s in zip(got, times, sizes):
            exp = netml_ref.get_SAMP(t, s, feat, rate) if len(t) else np.array([])
            np.testing.assert_array_equal(np.asarray(g, np.float64), exp)
    if rate == 0:
        ta = _list_array([[3.0, 3.0], [1.0, 2.0, 4.0]], pa.float64())
        sa = _list_array([[1, 2], [1, 2, 3]], pa.int32())
        with pytest.raises(ValueError, match="sampling rate"):
            kernels._samp_batch(ta, sa, "SAMP_NUM", rate)


def _iat_rows():
    """Row values for the IAT batch tests: random lengths, then the empty
    and one-value edge rows."""
    rng = np.random.default_rng(7)
    times = [np.sort(rng.uniform(0, 60, int(rng.integers(2, 30)))) for _ in range(12)]
    times[3:3] = [np.array([]), np.array([4.5])]
    times += [np.array([]), np.array([1.25])]
    return rng, times


def test_iat_batch_pyarrow():
    """The IAT batch kernel on a sliced ListArray equals np.diff per row
    exactly, across empty and one-value rows."""
    _, times = _iat_rows()
    ta = _list_array([t.tolist() for t in times], pa.float64())
    assert ta.offset == 2
    got = kernels._iat_batch(ta).to_pylist()
    assert len(got) == len(times)
    for g, t in zip(got, times):
        np.testing.assert_allclose(np.asarray(g, np.float64), netml_ref.get_IAT(t),
                                   rtol=0, atol=0)


@pytest.mark.parametrize("token_type", [pa.int32(), pa.float64()])
def test_iat_size_batch_pyarrow(token_type):
    """The IAT_SIZE batch kernel on sliced ListArrays equals the
    reference interleave exactly, across empty and one-value rows."""
    rng, times = _iat_rows()
    sizes = [rng.integers(0, 1500, len(t)) for t in times]
    ta = _list_array([t.tolist() for t in times], pa.float64())
    sa = _list_array([s.tolist() for s in sizes], token_type)
    assert ta.offset == sa.offset == 2
    got = kernels._iat_size_batch(ta, sa).to_pylist()
    assert len(got) == len(times)
    for g, t, s in zip(got, times, sizes):
        exp = netml_ref.get_IAT_SIZE(t, s) if len(t) else np.array([])
        np.testing.assert_allclose(np.asarray(g, np.float64), exp, rtol=0, atol=0)


def test_fft_batch_pyarrow():
    rows = [[1.0, 2.0, 3.0], [], None, list(np.linspace(0, 1, 20))]
    got = kernels._fft_batch(_list_array(rows, pa.float64()), 8).to_pylist()
    assert got[2] is None
    for g, v in zip(got, rows):
        if v is not None:
            exp = np.real(np.fft.fft(np.asarray(v, np.float64), 8))
            np.testing.assert_allclose(np.asarray(g), exp, rtol=0, atol=0)


def test_header_features(spark):
    """The header kernel over events_to_sequences' flag/proto/TTL series
    equals the reference: a repeated flag character counts every time
    ("SS" adds 2 to S), and a non-TCP packet adds its TTL but no flags."""
    pdf = pd.DataFrame(
        {
            "doc_id": ["h"] * 5,
            "source": ["s"] * 5,
            "ts": [0.0, 1.0, 2.0, 3.0, 4.0],
            "seq": np.arange(5, dtype=np.int32),
            "token": np.int32([10, 20, 30, 40, 50]),
            "proto": np.int32([6, 6, 17, 6, 6]),
            "ttl": np.int32([64, 63, 62, 61, 60]),
            "tcp_flags": ["SA", "A", "S", "FA", "SS"],
        }
    )
    df = spark.createDataFrame(pdf)
    seqs = events_to_sequences(
        df, ("doc_id",), "ts", "token", ("seq",), ("source",),
        extra_series=("tcp_flags", "proto", "ttl"),
    )
    got = seqs.select(
        kernels.header("tcp_flagss", "protos", "ttls").alias("h")
    ).collect()[0].h
    exp = netml_ref.get_header([6, 6, 17, 6, 6], [64, 63, 62, 61, 60],
                               ["SA", "A", "S", "FA", "SS"])
    assert exp[1] == 3.0  # S: "SA" + "SS"; the UDP "S" does not count
    np.testing.assert_array_equal(np.asarray(got), exp)


def test_header_batch_pyarrow():
    """The header batch kernel on sliced ListArrays equals the reference
    on random rows: repeated and non-flag characters, null flag strings,
    UDP packets and empty rows."""
    rng = np.random.default_rng(13)
    flags, protos, ttls = [], [], []
    for _ in range(300):
        n = int(rng.integers(0, 8))
        flags.append([None if rng.random() < 0.1 else
                      "".join(rng.choice(list("FSRPAUECXS"), int(rng.integers(0, 5))))
                      for _ in range(n)])
        protos.append(rng.choice([6, 17], n).tolist())
        ttls.append(rng.integers(1, 255, n).tolist())
    got = kernels._header_batch(_list_array(flags, pa.string(), pad=0),
                                _list_array(protos, pa.int32()),
                                _list_array(ttls, pa.int32())).to_pylist()
    for g, f, p, t in zip(got, flags, protos, ttls):
        np.testing.assert_array_equal(np.asarray(g), netml_ref.get_header(p, t, f))


@pytest.mark.parametrize("token_type", [pa.int32(), pa.float64()])
def test_stats_batch_pyarrow(token_type):
    """The STATS batch kernel on sliced ListArrays equals the reference
    exactly on every column but std (a sequential sum, within 1e-14
    relative of np.std's pairwise one), across one-value rows, zero
    durations and tied sizes."""
    rng, times = _iat_rows()
    times = [t for t in times if len(t)] + [np.full(4, 3.5)]
    sizes = [rng.integers(0, 1500, len(t)) for t in times]
    sizes[0][:] = 7
    ta = _list_array([t.tolist() for t in times], pa.float64())
    sa = _list_array([s.tolist() for s in sizes], token_type)
    got = np.array(kernels._stats_batch(ta, sa).to_pylist())
    exp = np.array([netml_ref.get_STATS(t, s) for t, s in zip(times, sizes)])
    std = STATS_COLS.index("size_std")
    np.testing.assert_array_equal(np.delete(got, std, 1), np.delete(exp, std, 1))
    np.testing.assert_allclose(got[:, std], exp[:, std], rtol=1e-14, atol=0)
