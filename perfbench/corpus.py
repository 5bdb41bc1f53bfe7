"""Seeded input corpus for the benchmark, written without Spark.

The sequences table comes from ``netml_spark.datagen.gen_sequences_fast``;
the event table is its exploded twin (one row per token, ``seq`` = position
in the sequence), the same shape ``bench.py``'s ``ensure_corpus`` writes.
Both are plain pyarrow parquet, generated before any timer starts and
cached on disk by (seed, size), so no run pays generation inside
``setup_s``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_FILES = 8


def _write_split(table: pa.Table, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for i in range(N_FILES):
        part = table.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(out_dir, f"part-{i:03d}.parquet"))


def _frames(n_seqs: int, seed: int):
    from netml_spark.datagen import gen_sequences_fast

    pdf = gen_sequences_fast(n_docs=n_seqs, seed=seed)
    lens = pdf["n_tok"].to_numpy(np.int64)
    times = np.concatenate(pdf["times"].to_list())
    tokens = np.concatenate(pdf["tokens"].to_list())
    offsets = np.concatenate([[0], np.cumsum(lens)]).astype(np.int32)
    seqs = pa.table({
        "doc_id": pa.array(pdf["doc_id"], pa.string()),
        "tokens": pa.ListArray.from_arrays(offsets, pa.array(tokens, pa.int32())),
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(pdf["source"], pa.string()),
        "ts0": pa.array(pdf["ts0"].to_numpy(np.float64)),
        "times": pa.ListArray.from_arrays(offsets, pa.array(times, pa.float64())),
    })
    idx = np.repeat(np.arange(n_seqs), lens)
    events = pa.table({
        "doc_id": pa.array(pdf["doc_id"].to_numpy(object)[idx], pa.string()),
        "source": pa.array(pdf["source"].to_numpy(object)[idx], pa.string()),
        "ts": pa.array(times, pa.float64()),
        "seq": pa.array(np.arange(len(idx)) - np.repeat(offsets[:-1], lens),
                        pa.int32()),
        "token": pa.array(tokens, pa.int32()),
    })
    return seqs, events


def ensure(work_dir: str, seed: int, n_seqs: int) -> dict:
    """Paths of the (sequences, events) parquet pair for (seed, n_seqs),
    generating them on first use. Returns a dict with ``root``,
    ``sequences``, ``events``, ``n_seqs`` and ``n_events``."""
    root = os.path.join(work_dir, "corpus", f"seed{seed}_n{n_seqs}")
    meta_path = os.path.join(root, "meta.json")
    if not os.path.exists(meta_path):
        seqs, events = _frames(n_seqs, seed)
        _write_split(seqs, os.path.join(root, "sequences"))
        _write_split(events, os.path.join(root, "events"))
        with open(meta_path + ".tmp", "w") as f:
            json.dump({"n_seqs": n_seqs, "n_events": events.num_rows}, f)
        os.replace(meta_path + ".tmp", meta_path)
    with open(meta_path) as f:
        meta = json.load(f)
    return {
        "root": root,
        "sequences": os.path.join(root, "sequences"),
        "events": os.path.join(root, "events"),
        **meta,
    }


def read_entities(path: str, doc_ids) -> dict:
    """{doc_id: (times, tokens)} for a few entities of a sequences table,
    read with pyarrow — the oracle's input, independent of Spark."""
    t = pq.read_table(path, columns=["doc_id", "times", "tokens"],
                      filters=[("doc_id", "in", list(doc_ids))])
    out = {}
    for d, ts, tok in zip(t["doc_id"].to_pylist(), t["times"].to_pylist(),
                          t["tokens"].to_pylist()):
        out[d] = (np.asarray(ts, np.float64), np.asarray(tok, np.int64))
    return out


def iter_entities(path: str):
    """(times, tokens) of every entity of a sequences table, in file order."""
    t = pq.read_table(path, columns=["times", "tokens"])
    for ts, tok in zip(t["times"].to_numpy(), t["tokens"].to_numpy()):
        yield np.asarray(ts, np.float64), np.asarray(tok, np.int64)


def sample_ids(seed: int, n_seqs: int, k: int) -> list[str]:
    """``k`` distinct doc_ids drawn from the seed."""
    picks = np.random.default_rng([seed, 7]).choice(n_seqs, size=k, replace=False)
    return [f"doc{d:08d}" for d in sorted(picks)]


def cached_json(data: dict, key: str, compute):
    """``compute()``, stored as JSON next to the corpus on first use."""
    path = os.path.join(data["root"], f"{key}.json")
    if not os.path.exists(path):
        with open(path + ".tmp", "w") as f:
            json.dump(compute(), f)
        os.replace(path + ".tmp", path)
    with open(path) as f:
        return json.load(f)
