"""Unit tests of the benchmark's own helpers (no Spark needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

import numpy as np
import pandas as pd
import pytest

import checks
import corpus
from netml_spark.oracle import netml_ref
from statusstore import metric_total, parse_metric, spill_total

HEADER = "total (min, med, max (stageId: taskId))\n"


@pytest.mark.parametrize("text, value", [
    (HEADER + "32.5 s (7.9 s, 8.1 s, 8.3 s (stage 3.0: task 12))", 32.5),
    (HEADER + "80 ms (1 ms, 13 ms, 19 ms (stage 184.0: task 382))", 0.080),
    (HEADER + "1.1 m (16.0 s, 16.5 s, 17.0 s (stage 2.0: task 9))", 66.0),
    ("2.0 h", 7200.0),
    ("0 ms", 0.0),
    (HEADER + "37.5 MiB (607.5 KiB, 8.8 MiB, 8.8 MiB (stage 184.0: task 381))",
     37.5 * 2 ** 20),
    (HEADER + "607.5 KiB (1.0 KiB, 2.0 KiB, 3.0 KiB (stage 1.0: task 2))",
     607.5 * 1024),
    ("1.5 GiB", 1.5 * 2 ** 30),
    ("438.0 B", 438.0),
    ("0.0 B", 0.0),
    ("2,116,885", 2116885.0),
    ("8", 8.0),
    (None, 0.0),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["3 parsecs", "n/a", ""])
def test_parse_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_metric_totals_filter_by_node_and_metric():
    rows = [
        ("Exchange", "shuffle bytes written", HEADER + "1.0 MiB (1 B, 2 B, 3 B (x))"),
        ("Exchange", "shuffle bytes written", "512.0 KiB"),
        ("ArrowEvalPython", "time to run Python workers", "1.5 s"),
        ("MapInArrow", "time to run Python workers", "2.0 s"),
        ("Sort", "spill size", "1.0 KiB"),
        ("Window", "spill size", None),
        ("HashAggregate", "spill size", "2.0 KiB"),
    ]
    assert metric_total(rows, "shuffle bytes written") == 1.5 * 2 ** 20
    assert metric_total(rows, "time to run Python workers", "MapInArrow") == 2.0
    assert metric_total(rows, "time to run Python workers") == 3.5
    assert spill_total(rows) == 3 * 1024


def test_compare_checksums():
    ref = {"ints": {"n": 10, "bits": float.hex(0.1)}, "floats": {"s": 1e6}}
    assert checks.compare_checksums(ref, ref) == []
    close = {"ints": dict(ref["ints"]), "floats": {"s": 1e6 * (1 + 1e-12)}}
    assert checks.compare_checksums(close, ref) == []
    far = {"ints": dict(ref["ints"]), "floats": {"s": 1e6 * (1 + 1e-6)}}
    assert len(checks.compare_checksums(far, ref)) == 1
    # one ulp off in the split interval is a different integer checksum
    ulp = {"ints": {"n": 10, "bits": float.hex(np.nextafter(0.1, 1))},
           "floats": ref["floats"]}
    assert len(checks.compare_checksums(ulp, ref)) == 1
    missing = {"ints": {"n": 10}, "floats": {}}
    assert len(checks.compare_checksums(missing, ref)) == 2


def test_compare_arrays():
    assert checks.compare_arrays("a", [1.0, np.nan], [1.0 + 1e-12, np.nan]) == []
    assert checks.compare_arrays("a", [1.0, 2.0], [1.0]) != []
    assert "element 1" in checks.compare_arrays("a", [1.0, 2.0], [1.0, 2.5])[0]


def _entity(seed=3, n=400):
    rng = np.random.default_rng(seed)
    gaps = np.where(rng.random(n - 1) < 0.05, rng.uniform(601, 900, n - 1),
                    rng.uniform(0.01, 3.0, n - 1))
    times = 1.7e9 + np.concatenate([[0.0], np.cumsum(gaps)])
    return times, rng.integers(40, 1515, n)


def test_extract_iat_entity_check():
    times, tokens = _entity()
    interval, dim = 5.0, 9
    flows = checks.subflows(times, tokens, interval)
    assert len(flows) > 3
    rows = [(t, netml_ref.pad_truncate(netml_ref.get_IAT(t), dim)) for _, t, _ in flows]
    rows = rows[::-1]  # the engine's row order is not the oracle's
    assert checks.check_extract_iat_entity("d", times, tokens, rows, interval, dim) == []
    assert checks.check_extract_iat_entity("d", times, tokens, rows[1:], interval, dim)
    bad = [(t, f + (i == 0) * 1e-3) for i, (t, f) in enumerate(rows)]
    assert checks.check_extract_iat_entity("d", times, tokens, bad, interval, dim)
    # an entity whose every flow is dropped yields no rows on both sides
    assert checks.check_extract_iat_entity("d", times[:1], tokens[:1], [], interval, dim) == []


def test_extract_iat_expected_matches_per_entity_oracle():
    ents = [_entity(seed=s, n=50 + 30 * s) for s in range(6)]
    exp = checks.extract_iat_expected(iter(ents))
    flows = [f for t, s in ents for f in checks.subflows(t, s, exp["split_interval"])]
    assert exp["n_flows"] == len(flows)
    assert exp["sum_n_tok"] == sum(len(t) for _, t, _ in flows)
    assert exp["dim"] == int(np.floor(np.quantile([len(t) for _, t, _ in flows], 0.9))) - 1


def test_seq_kernels_oracle_shapes():
    times, tokens = _entity(n=30)
    out = checks.seq_kernels_oracle(times, tokens, dim=16, rate=30.0)
    assert {k: len(v) for k, v in out.items()} == {
        "iat": 15, "iat_size": 31, "samp": 15, "fft": 15}
    np.testing.assert_array_equal(out["iat"], np.diff(times)[:15])


def test_asof_window_oracle_by_hand():
    n = 25
    times = 100.0 + np.arange(n, dtype=float)
    tokens = np.arange(1, n + 1)
    out = checks.asof_window_oracle(times, tokens)
    assert (out["snap"][:20] == 1).all() and (out["snap"][20:] == 21).all()
    assert (out["asof_ts"][20:] == 120.0).all()
    assert np.isnan(out["gap"][0]) and (out["gap"][1:] == 1.0).all()
    assert np.isnan(out["tok_lag"][0]) and out["tok_lag"][5] == 5
    # rows -16..0 of tokens 1..n
    assert out["roll_sum"][3] == 1 + 2 + 3 + 4
    assert out["roll_sum"][20] == sum(range(5, 22))


def test_asof_entity_check():
    times, tokens = _entity(n=60)
    want = checks.asof_window_oracle(times, tokens)
    got = want[["seq", "ts", *checks.ASOF_COLS]].sample(frac=1.0, random_state=0)
    assert checks.check_asof_entity("d", times, tokens, got) == []
    wrong = got.copy()
    wrong.iloc[0, wrong.columns.get_loc("snap")] += 1
    assert checks.check_asof_entity("d", times, tokens, wrong)
    assert checks.check_asof_entity("d", times, tokens, got.iloc[1:])


def test_corpus_roundtrip(tmp_path):
    data = corpus.ensure(str(tmp_path), seed=5, n_seqs=200)
    assert data == corpus.ensure(str(tmp_path), seed=5, n_seqs=200)  # cached
    ids = corpus.sample_ids(5, 200, 12)
    assert ids == corpus.sample_ids(5, 200, 12) and len(set(ids)) == 12
    assert ids != corpus.sample_ids(6, 200, 12)
    ents = corpus.read_entities(data["sequences"], ids)
    assert sorted(ents) == ids
    all_ents = list(corpus.iter_entities(data["sequences"]))
    assert len(all_ents) == 200
    assert sum(len(t) for t, _ in all_ents) == data["n_events"]
    ev = pd.read_parquet(data["events"])
    d = ids[0]
    rows = ev[ev["doc_id"] == d].sort_values("seq")
    np.testing.assert_array_equal(rows["ts"], ents[d][0])
    np.testing.assert_array_equal(rows["token"], ents[d][1])
    assert list(rows["seq"]) == list(range(len(rows)))

