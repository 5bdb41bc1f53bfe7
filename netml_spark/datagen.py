"""Deterministic synthetic fixtures (seed=42) per FIXTURES.md.

F1 ``sequences``  : (doc_id:string, tokens:array<int32>, n_tok:int32,
                     source:string)  — the BASELINE.json input_hint shape.
F2 ``token_events``: exploded event-level twin with timestamps — input to
                     sessionize/as-of/window passes.
F3 ``labels``     : CICIDS-2017-style label rows (duplicates, misses).

All generation is plain seeded numpy (no Spark) so the numpy oracle and the
Spark engine consume byte-identical inputs. Long-tailed n_tok (2..~2000),
Zipf-ish skewed ``source`` (heavy hitters for the skew path), gap mixture
including >600 s gaps (timeout splits + trailing-discard quirk), duplicate
timestamps, and zero-duration entities (rate-guard branch,
reference parser.py:454-459).
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_SOURCES = 20


def gen_token_events(
    n_docs: int = 300,
    seed: int = 42,
    base_ts: float = 1_700_000_000.0,
) -> pd.DataFrame:
    """Event-level fixture: one row per token occurrence.

    Columns: doc_id, source, ts (float64 epoch seconds), seq (int32 ordinal,
    tie-breaker), token (int32 in [40, 1514]), proto (6|17), ttl (int32),
    tcp_flags (string).
    """
    rng = np.random.default_rng(seed)
    # Zipf-skewed source assignment: source_0 is a heavy hitter.
    src_weights = 1.0 / np.arange(1, N_SOURCES + 1) ** 1.5
    src_weights /= src_weights.sum()
    rows = []
    for d in range(n_docs):
        doc_id = f"doc{d:06d}"
        source = f"src{rng.choice(N_SOURCES, p=src_weights)}"
        # long-tailed length: lognormal, clipped to [1, 2000]; keep some
        # single-token docs to exercise the min-packets filter.
        n = int(np.clip(rng.lognormal(2.5, 1.3), 1, 2000))
        # gap mixture: mostly sub-second, some multi-second, rare >600 s.
        kinds = rng.choice(3, size=max(n - 1, 0), p=[0.90, 0.08, 0.02])
        gaps = np.where(
            kinds == 0,
            rng.uniform(1e-4, 1.0, size=kinds.shape),
            np.where(
                kinds == 1,
                rng.uniform(1.0, 60.0, size=kinds.shape),
                rng.uniform(601.0, 3600.0, size=kinds.shape),
            ),
        )
        # duplicate timestamps: zero some gaps
        dup = rng.random(gaps.shape) < 0.03
        gaps = np.where(dup, 0.0, gaps)
        if d % 97 == 0 and n >= 2:
            gaps[:] = 0.0  # zero-duration entity
        t0 = base_ts + rng.uniform(0, 86_400)
        ts = np.concatenate([[t0], t0 + np.cumsum(gaps)]) if n > 1 else np.asarray([t0])
        tokens = rng.integers(40, 1515, size=n, dtype=np.int32)
        proto = int(rng.choice([6, 17], p=[0.7, 0.3]))
        ttls = rng.integers(32, 129, size=n, dtype=np.int32)
        flag_pool = ["S", "SA", "A", "PA", "FA", "R", ""]
        flags = rng.choice(flag_pool, size=n) if proto == 6 else np.full(n, "", dtype=object)
        for j in range(n):
            rows.append(
                (doc_id, source, float(ts[j]), j, int(tokens[j]), proto,
                 int(ttls[j]), str(flags[j]))
            )
    df = pd.DataFrame(
        rows,
        columns=["doc_id", "source", "ts", "seq", "token", "proto", "ttl", "tcp_flags"],
    )
    df["seq"] = df["seq"].astype(np.int32)
    df["token"] = df["token"].astype(np.int32)
    df["proto"] = df["proto"].astype(np.int32)
    df["ttl"] = df["ttl"].astype(np.int32)
    return df


def oracle_flows(events: pd.DataFrame):
    """token_events -> the oracle's [(fid, times, sizes)] input, fid=doc_id.

    Insertion order = order of first appearance in the event stream sorted
    by (ts, seq) globally — matching the reference's OrderedDict accumulation
    over the packet stream (parser.py:114-130)."""
    events = events.sort_values(["ts", "seq"], kind="stable")
    flows = []
    for doc_id, v in events.groupby("doc_id", sort=False):
        flows.append((doc_id, v["ts"].to_numpy(np.float64), v["token"].to_numpy(np.int64)))
    return flows


def gen_sequences_fast(
    n_docs: int = 50_000,
    seed: int = 42,
    base_ts: float = 1_700_000_000.0,
) -> pd.DataFrame:
    """Vectorized generator of the input_hint table at bench scale:
    (doc_id:string, tokens:array<int32>, n_tok:int32, source:string,
    ts0:double, times:array<double>). One numpy pass, no per-doc loop.
    Long-tailed lengths, Zipf-skewed sources (heavy hitters)."""
    rng = np.random.default_rng(seed)
    lens = np.clip(rng.lognormal(3.2, 1.1, size=n_docs), 2, 2000).astype(np.int64)
    total = int(lens.sum())
    tokens = rng.integers(40, 1515, size=total, dtype=np.int32)
    # gap mixture (mostly sub-second, rare >600 s), vectorized
    kinds = rng.random(total)
    gaps = np.where(
        kinds < 0.90,
        rng.uniform(1e-4, 1.0, size=total),
        np.where(kinds < 0.98, rng.uniform(1.0, 60.0, size=total),
                 rng.uniform(601.0, 3600.0, size=total)),
    )
    offsets = np.concatenate([[0], np.cumsum(lens)])
    # per-doc cumulative times starting at a random t0
    t0s = base_ts + rng.uniform(0, 86_400, size=n_docs)
    cum = np.cumsum(gaps)
    doc_of = np.repeat(np.arange(n_docs), lens)
    seg_base = cum[offsets[:-1]]  # subtract so each doc restarts
    times = cum - np.repeat(seg_base, lens) + np.repeat(t0s, lens)
    src_weights = 1.0 / np.arange(1, N_SOURCES + 1) ** 1.5
    src_weights /= src_weights.sum()
    sources = rng.choice(N_SOURCES, size=n_docs, p=src_weights)
    tok_split = np.split(tokens, offsets[1:-1])
    time_split = np.split(times, offsets[1:-1])
    return pd.DataFrame(
        {
            "doc_id": [f"doc{d:08d}" for d in range(n_docs)],
            "tokens": tok_split,
            "n_tok": lens.astype(np.int32),
            "source": [f"src{s}" for s in sources],
            "ts0": t0s,
            "times": time_split,
        }
    )


def gen_labels(doc_ids, seed: int = 42) -> pd.DataFrame:
    """F3 label fixture keyed on doc_id: ~80% of docs labeled, ~5% duplicate
    keys with conflicting labels (last-wins test), plus 10 phantom keys."""
    rng = np.random.default_rng(seed + 1)
    rows = []
    for d in doc_ids:
        if rng.random() < 0.8:
            lab = rng.choice(["BENIGN", "normal", "DDoS", "PortScan"], p=[0.5, 0.2, 0.2, 0.1])
            rows.append((d, str(lab)))
            if rng.random() < 0.05:
                rows.append((d, str(rng.choice(["BENIGN", "Bot"]))))
    for i in range(10):
        rows.append((f"phantom{i:03d}", "BENIGN"))
    return pd.DataFrame(rows, columns=["doc_id", "label_raw"])
