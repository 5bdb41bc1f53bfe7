"""Product-path benchmark of the netml_spark engine.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload extract_iat --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): ``extract_iat`` and ``seq_kernels``; the
metric names and units come from ``BENCHMARK.json``. One driver process
issues one op at a time (closed loop, one client) on ``local[<cores>]``;
every run owns its own JVM.

A run

1. generates the seeded corpus, or reuses the copy cached under
   ``.perfbench_work/`` for the same (seed, size), before any timer starts;
2. sets up cold, timed as ``setup_s``: a new JVM and session, input
   registration and one warm-up op, which is what a one-shot job pays;
3. runs ``WARM_OPS`` more ops untimed, then clears the cache before each
   op and times one op after another for ``--seconds`` (at least
   ``MIN_OPS``), reporting the median;
4. checks every op's output against the warm-up op and an oracle.

With ``--trace 1`` it then runs traced ops and the per-layer
decomposition, and writes the spans to ``.perfbench_work/traces/``.
Per-layer metrics come from spans around the engine calls, from the
per-operator SQL metrics in Spark's status store (task time summed over
tasks) and from the JVM's management beans; a layer the workload does not
run reports 0. The as-of layer is measured in the extract_iat traced run.

The benchmark's own tests: ``python -m pytest perfbench/tests -q``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``).
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Corpus size (sequences) and untimed (but checked) ops between set-up and
# the timed window, per workload. Op times fall over the first ops of a new
# JVM while the JIT compiles the engine's hot paths: extract_iat's op runs
# many small queries and settles only after about seven ops (JIT compile
# time per op fell from 34 s to 2 s over ten ops), seq_kernels' after about
# four. The cold set-up dominates a run, and a full set of runs of both
# workloads must fit a fixed time budget, which bounds the sizes.
SIZES = {"extract_iat": 4_000, "seq_kernels": 64_000}
WARM_OPS = {"extract_iat": 6, "seq_kernels": 3}
MIN_OPS = 3
TRACED_OPS = 2
N_SAMPLES = 12

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
END_TO_END = {m["name"]: m["unit"] for m in _BENCH["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


class Counter:
    """Ops attempted and failed; an op fails on an exception or a check."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, label: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            log(f"{label}: check failed: {problems[:5]}")


def median(xs) -> float:
    return float(statistics.median(xs))


def timed_ops(wl, spark, ref, counter, seconds, n_warm, n_min) -> list[float]:
    """Run ``n_warm`` untimed ops, then time ops for ``seconds`` (at least
    ``n_min``). The cache is cleared before each op; each is checked."""
    import engine

    op_s = []
    deadline = None
    for i in itertools.count():
        if i == n_warm:
            deadline = time.perf_counter() + seconds
        if i >= n_warm + n_min and time.perf_counter() >= deadline:
            break
        engine.clear_cache(spark)
        try:
            t0 = time.perf_counter()
            raw = wl.op()
            t1 = time.perf_counter()
            problems = wl.check(wl.result(raw), ref)
        except Exception:  # a failed op is counted, the run goes on
            traceback.print_exc()
            counter.record(f"op {i}", ["raised"])
            continue
        counter.record(f"op {i}", problems)
        log(f"{'timed' if i >= n_warm else 'warm'} op: {t1 - t0:.3f} s")
        if i >= n_warm:
            op_s.append(t1 - t0)
    if not op_s:
        raise RuntimeError("every timed op failed")
    return op_s


def python_start_s(rows) -> float:
    """Task time spent starting and initialising Python workers."""
    from statusstore import metric_total

    return (metric_total(rows, "time to start Python workers")
            + metric_total(rows, "time to initialize Python workers"))


def trace_metrics(wl, spark, ref, counter, tracer, store, warm_rows) -> dict:
    """Per-layer metrics: TRACED_OPS traced ops alternating with untraced
    ones, then the workload's own decomposition. A layer the workload does
    not run reports 0."""
    import engine

    traced = []
    untraced = timed_ops(wl, spark, ref, counter, 0, 0, 1)
    for _ in range(TRACED_OPS):
        engine.clear_cache(spark)
        last = store.last_id()
        gc0 = engine.gc_seconds(spark)
        engine.reset_heap_peak(spark)
        with tracer.span("op") as span:
            raw = wl.op(tracer)
        gc1 = engine.gc_seconds(spark)
        ids = store.since(last)
        rows = store.rows(ids)
        traced.append({
            "trace.op_s": span["end"] - span["start"],
            "jvm.gc_s": gc1 - gc0,
            "jvm.heap_peak_mb": engine.heap_peak_mb(spark),
            "pipeline.sql_executions": len(ids),
            "pyworker.op_start_s": python_start_s(rows),
            **wl.op_metrics(rows),
        })
        counter.record("traced op", wl.check(wl.result(raw), ref))
        # the untraced leg alternates with the traced one, so both see the
        # same JIT state
        untraced += timed_ops(wl, spark, ref, counter, 0, 0, 1)
    op = {k: median(t[k] for t in traced) for k in traced[0]}
    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(op)
    m.update(wl.trace(tracer, store, op, counter.record))
    m["pyworker.start_s"] = python_start_s(warm_rows)
    m["trace.overhead_s"] = op["trace.op_s"] - median(untraced)
    return m


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import checks
    import corpus
    import engine
    from statusstore import StatusStore
    from workloads import WORKLOADS

    work = os.path.join(ROOT, ".perfbench_work")
    data = corpus.ensure(work, seed, SIZES[name])
    if name == "extract_iat":
        data["extract_iat_expected"] = corpus.cached_json(
            data, "extract_iat_expected",
            lambda: checks.extract_iat_expected(corpus.iter_entities(data["sequences"])))
    entities = corpus.read_entities(
        data["sequences"], corpus.sample_ids(seed, data["n_seqs"], N_SAMPLES))

    counter = Counter()
    tracer = engine.Tracer()
    t0 = time.perf_counter()
    spark = engine.start(work)
    try:
        start_s = time.perf_counter() - t0
        wl = WORKLOADS[name](spark, data, work, entities)
        if trace:
            store = StatusStore(spark)
            warm_last = store.last_id()
        raw = wl.op()
        setup_s = time.perf_counter() - t0
        if trace:
            warm_rows = store.rows(store.since(warm_last))
        ref = wl.result(raw)
        counter.record("warm-up op", wl.check(ref, ref))
        log(f"set-up: {setup_s:.2f} s (session {start_s:.2f} s)")

        op_s = timed_ops(wl, spark, ref, counter, seconds, WARM_OPS[name], MIN_OPS)
        jvm_mb, workers_mb = engine.peak_rss_mb()
        if trace:
            metrics = trace_metrics(wl, spark, ref, counter, tracer, store, warm_rows)
            metrics["session.start_s"] = start_s
            metrics["pyworker.peak_rss_mb"] = workers_mb
            os.makedirs(os.path.join(work, "traces"), exist_ok=True)
            with open(os.path.join(work, "traces", f"{name}-seed{seed}.json"), "w") as f:
                json.dump({"workload": name, "seed": seed, "timed_op_s": op_s,
                           "metrics": metrics, "spans": tracer.spans}, f, indent=1)
            units = PER_LAYER
        else:
            metrics = {
                "op_s": median(op_s),
                "rows_per_s": data[wl.rows] / median(op_s),
                "setup_s": setup_s,
                "ok_ratio": (counter.attempted - counter.failed) / counter.attempted,
                "peak_rss_mb": jvm_mb + workers_mb,
            }
            units = END_TO_END
    finally:
        engine.stop(spark)
    return {
        "correct": counter.failed == 0,
        "attempted": counter.attempted,
        "failed": counter.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.exists(os.path.join(ROOT, "netml_spark", "pipeline.py")):
        log(f"no netml_spark package under {ROOT}; run from a full checkout")
        return 2
    # the engine comes from this checkout, in the driver and in the Python
    # workers Spark forks; scratch files stay inside the checkout; the
    # engine's own defaults apply, not SPARK_GRAFT_* overrides
    tmp = os.path.join(ROOT, ".perfbench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    sys.path.insert(0, ROOT)

    out = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
