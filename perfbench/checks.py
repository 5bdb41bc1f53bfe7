"""Output checks behind ``ok_ratio``.

Every op is compared twice:

- against the run's warm-up op: integer checksums must be equal and float
  sums equal within ``FLOAT_RTOL`` (Spark may add partial sums in another
  order from one op to the next);
- on a few sampled entities, against an independent model of the same
  computation: ``netml_spark.oracle.netml_ref`` for the feature paths and
  pandas ``merge_asof`` plus shift/rolling for the as-of path.

Nothing here touches Spark, so the comparisons are unit-tested directly.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from netml_spark.oracle import netml_ref

FLOAT_RTOL = 1e-9
ARRAY_RTOL = 1e-9
ARRAY_ATOL = 1e-9

# the FeaturePlan defaults the extract_iat workload runs with
TIMEOUT = 600.0
FLOW_PKTS_THRES = 2
Q_INTERVAL = 0.9


def compare_checksums(got: dict, ref: dict) -> list[str]:
    """``got`` and ``ref`` hold ``ints`` (must be equal) and ``floats``
    (must agree within FLOAT_RTOL). Returns the problems found."""
    problems = []
    for k, want in ref["ints"].items():
        if got["ints"].get(k) != want:
            problems.append(f"{k}: {got['ints'].get(k)!r} != {want!r}")
    for k, want in ref["floats"].items():
        v = got["floats"].get(k)
        if v is None or not np.isclose(v, want, rtol=FLOAT_RTOL, atol=0.0):
            problems.append(f"{k}: {v!r} not within rtol {FLOAT_RTOL} of {want!r}")
    return problems


def compare_arrays(label: str, got, want) -> list[str]:
    got = np.asarray(got, dtype=np.float64)
    want = np.asarray(want, dtype=np.float64)
    if got.shape != want.shape:
        return [f"{label}: shape {got.shape} != {want.shape}"]
    if not np.allclose(got, want, rtol=ARRAY_RTOL, atol=ARRAY_ATOL, equal_nan=True):
        bad = int(np.argmax(~np.isclose(got, want, rtol=ARRAY_RTOL,
                                        atol=ARRAY_ATOL, equal_nan=True)))
        return [f"{label}: element {bad}: {got.flat[bad]!r} != {want.flat[bad]!r}"]
    return []


# -- extract_iat ------------------------------------------------------------


def subflows(times, tokens, interval: float) -> list:
    """The oracle's pcap2flows -> flows2subflows for one entity."""
    sess = netml_ref.pcap2flows([(0, times, tokens)], FLOW_PKTS_THRES, TIMEOUT)
    return netml_ref.flows2subflows(sess, interval, FLOW_PKTS_THRES)


def extract_iat_expected(entities) -> dict:
    """Corpus-wide oracle values of FeaturePlan(feat_type="IAT"):
    split interval, dim and the flow checksums. ``entities`` yields
    (times, tokens) per entity."""
    entities = list(entities)
    sess = netml_ref.pcap2flows(
        [(i, t, s) for i, (t, s) in enumerate(entities)], FLOW_PKTS_THRES, TIMEOUT)
    interval = netml_ref.split_interval(
        [netml_ref.flow_duration(t) for _, t, _ in sess], Q_INTERVAL)
    subs = netml_ref.flows2subflows(sess, interval, FLOW_PKTS_THRES)
    n = [len(t) for _, t, _ in subs]
    _, dim = netml_ref.feature_dim(n, Q_INTERVAL, "IAT")
    return {"split_interval": interval, "dim": dim, "n_flows": len(n),
            "sum_n_tok": int(sum(n))}


def check_extract_iat_entity(doc, times, tokens, rows, interval, dim) -> list[str]:
    """``rows`` are the engine's (times, features) output rows of entity
    ``doc``; compare them, ordered by first timestamp, with the oracle."""
    want = sorted(
        ((t, netml_ref.pad_truncate(netml_ref.get_IAT(t), dim))
         for _, t, _ in subflows(times, tokens, interval)),
        key=lambda r: r[0][0])
    got = sorted(rows, key=lambda r: r[0][0])
    if len(got) != len(want):
        return [f"{doc}: {len(got)} flows != oracle {len(want)}"]
    problems = []
    for i, ((gt, gf), (wt, wf)) in enumerate(zip(got, want)):
        problems += compare_arrays(f"{doc} flow {i} times", gt, wt)
        problems += compare_arrays(f"{doc} flow {i} features", gf, wf)
    return problems


# -- seq_kernels ------------------------------------------------------------


def seq_kernels_oracle(times, tokens, dim: int, rate: float) -> dict:
    """Per-sequence feature vectors of the seq_kernels op for one entity."""
    iat = netml_ref.get_IAT(times)
    return {
        "iat": netml_ref.pad_truncate(iat, dim - 1),
        "iat_size": netml_ref.pad_truncate(
            netml_ref.get_IAT_SIZE(times, tokens), 2 * dim - 1),
        "samp": netml_ref.pad_truncate(
            netml_ref.get_SAMP(times, tokens, "SAMP_SIZE", rate), dim - 1),
        "fft": netml_ref.get_FFT(iat, dim - 1),
    }


# -- as-of layer (timed in the extract_iat traced run) -------------------

SNAP_EVERY = 20  # right side of the as-of join: every 20th event
ROLL_ROWS = 17   # rolling window: current row and the 16 before it
ASOF_COLS = ("snap", "asof_ts", "gap", "tok_lag", "roll_sum")


def asof_window_oracle(times, tokens) -> pd.DataFrame:
    """One entity's as-of + window rows by pandas, ordered by (ts, seq)."""
    left = pd.DataFrame({"ts": np.asarray(times, np.float64),
                         "seq": np.arange(len(times)),
                         "token": np.asarray(tokens, np.int64)})
    left = left.sort_values(["ts", "seq"], kind="stable").reset_index(drop=True)
    right = left.loc[left["seq"] % SNAP_EVERY == 0, ["ts", "token"]].rename(
        columns={"token": "snap"})
    right["asof_ts"] = right["ts"]
    out = pd.merge_asof(left, right, on="ts", direction="backward",
                        allow_exact_matches=True)
    out["gap"] = out["ts"].diff()
    out["tok_lag"] = out["token"].shift(1)
    out["roll_sum"] = out["token"].rolling(ROLL_ROWS, min_periods=1).sum()
    return out


def check_asof_entity(doc, times, tokens, got: pd.DataFrame) -> list[str]:
    """``got`` holds the engine's rows of entity ``doc`` with columns seq, ts
    and ASOF_COLS."""
    want = asof_window_oracle(times, tokens)
    got = got.sort_values(["ts", "seq"], kind="stable").reset_index(drop=True)
    if len(got) != len(want):
        return [f"{doc}: {len(got)} rows != oracle {len(want)}"]
    problems = compare_arrays(f"{doc} seq", got["seq"], want["seq"])
    for c in ASOF_COLS:
        problems += compare_arrays(f"{doc} {c}", got[c].astype("float64"),
                                   want[c].astype("float64"))
    return problems
