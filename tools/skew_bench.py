"""Skew-handling evidence: heavy-hitter entity, naive vs skew-aware plans.

The north rule requires skew handled EXPLICITLY; skew.py has parity tests
but (until round 4) no skewed-corpus measurement. This tool builds a
deterministic corpus where ONE entity owns 20% of all rows (the classic
heavy-hitter shape: one device/user/crawl-host dominating a day of data)
and times, steady-state:

  sessionize_naive    window-sort sessionize (sessionize_timeout): the hot
                      entity's whole history lands on ONE task's sort
  sessionize_bounded  bounded_sessionize: (entity, time-bucket) chunks the
                      hot entity across tasks; boundary splits ~gap/width
  agg_naive           plain groupBy.agg(count/sum/mean/min/max)
  agg_salted          salted_agg two-stage variant

Expected (and honest) reading: the window/sort class is where heavy
hitters actually hurt — Spark's hash aggregate already does map-side
partials, so for ALGEBRAIC aggregates the naive plan is skew-tolerant and
salted_agg roughly ties (its docstring says exactly when to reach for it:
final groups too big for one task, e.g. collect-class state). The bounded
sessionizer is the one that must win on this corpus.

Appends a table to BENCH/BASELINE.md and prints one JSON line.
Run: python tools/skew_bench.py   (SKEW_ROWS=4000000 SKEW_CPUS=16)
NEVER run while any other Spark job is active (CLAUDE.md).

SKEW_ISOLATE=1 runs each query in its OWN subprocess JVM (fences and
all), one application per leg. Motivation (2026-08-17, four runs
in a row): at 16M rows the post-leg fence spiked 40-204 s immediately
after whichever leg allocated heavily — GB-scale aggregation buffers
balloon the shared JVM heap to ~40 g and the NEXT minutes pay full-GC
and page-cache costs, so the second leg of every family read tainted.
That is self-induced, not host oscillation; a fresh JVM per leg removes
the cross-contamination (and matches how a real cluster runs competing
jobs: as separate applications).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime, timezone

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_ROWS = int(os.environ.get("SKEW_ROWS", "4000000"))
CPUS = int(os.environ.get("SKEW_CPUS", "16"))
# SKEW_HOT_FRAC picks the regime: 0.2 (default) puts the hot entity a
# bit over per-core average work — the honest "mild skew" shape where
# the remedies' extra exchange LOSES; 0.8 makes one entity dominate the
# corpus (hot rows >> total/cores) — the shape the remedies exist for.
# Measuring BOTH sides locates the crossover where a remedy starts to pay.
HOT_FRAC = float(os.environ.get("SKEW_HOT_FRAC", "0.20"))
N_COLD = 200_000
GAP = 30.0
BUCKET = 3600.0  # >> gap: ~gap/width = 0.8% of hot sessions split at bounds
_tag = f"{N_ROWS}" if HOT_FRAC == 0.20 else f"{N_ROWS}_hot{int(HOT_FRAC * 100)}"
PATH = os.path.join(REPO, "BENCH", f"skew_events_{_tag}")


def ensure_corpus(spark):
    if os.path.exists(os.path.join(PATH, "_SUCCESS")):
        return spark.read.parquet(PATH)
    rng = np.random.default_rng(42)
    n_hot = int(N_ROWS * HOT_FRAC)
    n_cold = N_ROWS - n_hot
    base = 1_700_000_000.0
    # hot entity: one long, dense history (mostly ~1 s gaps, occasional
    # session breaks) — the shape that serializes a window sort
    hot_gaps = np.where(rng.random(n_hot) < 0.995,
                        rng.uniform(0.1, 2.0, n_hot),
                        rng.uniform(GAP + 1, 600.0, n_hot))
    hot = pd.DataFrame({
        "doc_id": "HOT",
        "ts": base + np.cumsum(hot_gaps),
        "token": rng.integers(0, 1000, n_hot, dtype=np.int32),
    })
    cold_ids = rng.integers(0, N_COLD, n_cold)
    cold = pd.DataFrame({
        "doc_id": np.char.add("d", cold_ids.astype(str)),
        "ts": base + rng.uniform(0, 86_400.0, n_cold),
        "token": rng.integers(0, 1000, n_cold, dtype=np.int32),
    })
    pdf = pd.concat([hot, cold], ignore_index=True)
    spark.createDataFrame(pdf).repartition(64).write.mode("overwrite").parquet(PATH)
    return spark.read.parquet(PATH)


def main():
    from pyspark.sql import functions as F

    from netml_spark.operators.sequences import events_to_sequences
    from netml_spark.operators.sessionize import sessionize
    from netml_spark.operators.skew import (
        bounded_sequence_build, bounded_sessionize, salted_agg,
    )
    from netml_spark.session import get_spark

    spark = get_spark("skew-bench", master=f"local[{CPUS}]",
                      shuffle_partitions=64)
    ev = ensure_corpus(spark)

    def q_sessionize_naive():
        # clean gap sessionizer — the SAME semantics class as
        # bounded_sessionize (neither drops rows), so the comparison is
        # purely the partitioning strategy
        s = sessionize(ev, ("doc_id",), "ts", GAP)
        return s.groupBy("doc_id", "session_id").agg(
            F.count(F.lit(1)).alias("n")).agg(
            F.count(F.lit(1)).alias("sessions"), F.sum("n").alias("rows"))

    def q_sessionize_bounded():
        s = bounded_sessionize(ev, ("doc_id",), "ts", GAP, BUCKET)
        return s.groupBy("doc_id", "session_id").agg(
            F.count(F.lit(1)).alias("n")).agg(
            F.count(F.lit(1)).alias("sessions"), F.sum("n").alias("rows"))

    def q_agg_naive():
        return ev.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("count_token"),
            F.sum(F.col("token").cast("double")).alias("sum_token"),
            F.mean(F.col("token").cast("double")).alias("mean_token"),
            F.min(F.col("token").cast("double")).alias("min_token"),
            F.max(F.col("token").cast("double")).alias("max_token"),
        ).agg(F.count(F.lit(1)).alias("keys"), F.sum("sum_token").alias("chk"))

    def q_agg_salted():
        return salted_agg(ev, ("doc_id",), "token").agg(
            F.count(F.lit(1)).alias("keys"), F.sum("sum_token").alias("chk"))

    def q_seqbuild_naive():
        # ordered collect per entity: the hot entity's 800k-row history
        # concatenates AND sorts inside ONE task's aggregation buffer
        s = events_to_sequences(ev, ("doc_id",), "ts", "token",
                                order_cols=(), carry_cols=())
        return s.agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum("n_tok").alias("rows"),
            # exact, order-insensitive checksums: the two plans partition
            # their output differently, so a plain double SUM of ~1.7e9
            # magnitudes rounds differently per plan (observed at
            # hot_frac=0.8) — long/decimal addition is associative.
            F.sum(F.element_at("tokens", 1).cast("long")).alias("chk"),
            F.sum(F.element_at("times", -1).cast("decimal(18,6)")).alias("chk2"),
        )

    def q_seqbuild_bounded():
        s = bounded_sequence_build(ev, ("doc_id",), "ts", "token", BUCKET)
        return s.agg(
            F.count(F.lit(1)).alias("keys"),
            F.sum("n_tok").alias("rows"),
            # exact, order-insensitive checksums: the two plans partition
            # their output differently, so a plain double SUM of ~1.7e9
            # magnitudes rounds differently per plan (observed at
            # hot_frac=0.8) — long/decimal addition is associative.
            F.sum(F.element_at("tokens", 1).cast("long")).alias("chk"),
            F.sum(F.element_at("times", -1).cast("decimal(18,6)")).alias("chk2"),
        )

    qs = {
        "sessionize_naive": q_sessionize_naive,
        "sessionize_bounded": q_sessionize_bounded,
        "agg_naive": q_agg_naive,
        "agg_salted": q_agg_salted,
        "seqbuild_naive": q_seqbuild_naive,
        "seqbuild_bounded": q_seqbuild_bounded,
    }
    names = requested_names()
    qs = {k: v for k, v in qs.items() if k in names}
    # Regime certification (2026-08-17 lesson): both r5 skew runs landed
    # in a shuffle-path-degraded window and INVERTED every comparison —
    # the remedies pay one extra exchange, which a degraded shuffle path
    # prices 2-3x. Reuse bench.py's dual fences (map-only + narrow real
    # exchange over the fixed 480k corpus) so every row carries its own
    # in-window health annotation instead of an after-the-fact inference.
    import bench as benchmod

    control, shuffle_control = benchmod.make_control(spark)
    control().collect()
    shuffle_control().collect()

    def fences():
        # re-warm before timing: a heavy leg evicts the control corpus
        # from the OS page cache, and an unwarmed fence then measures our
        # own eviction (disk re-read), not the host regime it certifies.
        # bench.py's fences are implicitly warm (its queries share the
        # corpus); this makes the skew fences measure the same thing.
        control().collect()
        t0 = time.time()
        control().collect()
        c = round(time.time() - t0, 3)
        t0 = time.time()
        shuffle_control().collect()
        return c, round(time.time() - t0, 3)

    times, checks, controls = {}, {}, {}
    fence = fences()
    for name, fn in qs.items():
        pre = fence
        checks[name] = [r.asDict() for r in fn().collect()]  # warm + sanity
        best = None
        for _ in range(2):
            t0 = time.time()
            fn().collect()
            dt = time.time() - t0
            best = dt if best is None else min(best, dt)
        times[name] = round(best, 3)
        # Post-fence hygiene: a leg that builds GB-scale aggregation
        # buffers leaves the heap near Xmx, and the very next fence pays
        # that leg's full GC instead of measuring the host regime
        # (observed: 122.9 s map fence in a FRESH JVM right after the
        # 12.8M-row naive collect, while a separate JVM seconds later
        # read 2.2-3.0 s). Drain the leg's garbage before fencing; the
        # leg's own timed runs above still include all of their GC cost.
        spark.sparkContext._jvm.System.gc()
        time.sleep(2.0)
        fence = fences()
        controls[name] = [pre, fence]  # [(map,shuffle) before, after]
    spark.stop()
    finish(times, checks, controls, isolated=False)


QUERY_NAMES = (
    "sessionize_naive", "sessionize_bounded",
    "agg_naive", "agg_salted",
    "seqbuild_naive", "seqbuild_bounded",
)

FAMILIES = (
    ("sessionize", "sessionize_naive", "sessionize_bounded",
     "sessionize (window sort)", "bounded_sessionize"),
    ("agg", "agg_naive", "agg_salted",
     "algebraic agg", "salted_agg"),
    ("seqbuild", "seqbuild_naive", "seqbuild_bounded",
     "ordered collect (sequence build)", "bounded_sequence_build"),
)


def requested_names() -> list[str]:
    # SKEW_QUERIES=seqbuild (comma-separable prefixes) narrows the run to
    # one naive/remedy family — on an oscillating host a full-suite
    # certification window may never occur, but a 3-minute family window
    # does (observed: four families certified, then a 130 s spike landed
    # exactly on the fifth). An exact query name selects a single leg
    # (the unit SKEW_ISOLATE subprocesses use).
    fam = os.environ.get("SKEW_QUERIES")
    names = list(QUERY_NAMES)
    if fam:
        keep = tuple(f.strip() for f in fam.split(",") if f.strip())
        names = [n for n in names if n.startswith(keep)]
    return names


def finish(times: dict, checks: dict, controls: dict, isolated: bool) -> None:
    """Asserts, certification, JSON line, BASELINE.md append — shared by
    the in-process path and the SKEW_ISOLATE parent."""
    import bench as benchmod

    def fences_healthy(pairs):
        return all(
            c[0] <= benchmod.CONTROL_HEALTHY_SECS
            and c[1] <= benchmod.SHUFFLE_CONTROL_HEALTHY_SECS
            for c in pairs
        )

    controls_healthy = fences_healthy(
        [c for pair in controls.values() for c in pair])

    # sanity: both sessionizers cover every row; both aggs agree exactly;
    # the bounded sequence build is EXACTLY the unbounded one (guards are
    # per-key so a single-leg subprocess run can pass through)
    for name in ("sessionize_naive", "sessionize_bounded", "seqbuild_naive",
                 "seqbuild_bounded"):
        if name in checks:
            assert checks[name][0]["rows"] == N_ROWS, name
    if {"agg_naive", "agg_salted"} <= checks.keys():
        assert checks["agg_naive"][0]["keys"] == checks["agg_salted"][0]["keys"]
    if {"seqbuild_naive", "seqbuild_bounded"} <= checks.keys():
        assert checks["seqbuild_naive"] == checks["seqbuild_bounded"]

    # Per-FAMILY certification: each naive/remedy pair is bracketed by its
    # own fences (pre/post each leg; in-process runs share the middle
    # fence). A family's comparison is valid iff ITS OWN regime was
    # healthy for both legs.
    fam_cert = {}
    out = {
        "metric": "skewed-corpus wall time (20% of rows on one entity)",
        "rows": N_ROWS, "hot_frac": HOT_FRAC, "cpus": CPUS,
        "isolated": isolated,
        "queries": times,
        "checks": checks,
        "controls": controls,
        "controls_healthy": controls_healthy,
    }
    for famname, naive, remedy, _, _ in FAMILIES:
        if naive in times and remedy in times:
            out[f"{famname}_speedup"] = round(times[naive] / times[remedy], 2)
            fam_cert[famname] = fences_healthy(
                controls[naive] + controls[remedy])
    out["family_certified"] = fam_cert
    print(json.dumps(out, default=str))

    # evidence file only gets CERTIFIED families (degraded-regime numbers
    # invert the comparison and are recorded by the caller's JSON/log
    # instead); SKEW_APPEND_ALWAYS=1 overrides for forensics
    append_all = bool(os.environ.get("SKEW_APPEND_ALWAYS"))
    rows_md = ""
    for famname, naive, remedy, label, remedy_label in FAMILIES:
        if famname not in fam_cert:
            continue
        if not (fam_cert[famname] or append_all):
            continue
        cert = "yes" if fam_cert[famname] else "NO"
        rows_md += (
            f"| {label} | {times[naive]:.2f} | "
            f"{times[remedy]:.2f} ({remedy_label}) | "
            f"{out[famname + '_speedup']:.2f}x | {cert} |\n")
    if not rows_md:
        return

    stamp = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M UTC")
    md = os.path.join(REPO, "BENCH", "BASELINE.md")
    iso = ("one fresh JVM per leg (SKEW_ISOLATE)" if isolated
           else "single shared JVM")
    with open(md, "a") as f:
        f.write(
            f"\nSkew evidence ({stamp}): {N_ROWS} rows, {HOT_FRAC:.0%} on one "
            f"entity, local[{CPUS}], steady-state min-of-2, {iso}; "
            f"certification is per family (dual fences bracketing each "
            f"naive/remedy leg).\n\n"
            "| op class | naive (s) | skew-aware (s) | speedup | fences healthy |\n"
            "|---|---|---|---|---|\n"
            + rows_md
        )


def isolate_main() -> None:
    """One subprocess JVM per query leg; fences travel with the leg."""
    times, checks, controls = {}, {}, {}
    for name in requested_names():
        env = dict(os.environ)
        env.pop("SKEW_ISOLATE", None)
        env["SKEW_QUERIES"] = name
        r = subprocess.run(
            [sys.executable, os.path.abspath(__file__)],
            capture_output=True, text=True, cwd=REPO, timeout=1800, env=env,
        )
        rec = None
        for raw in reversed(r.stdout.strip().splitlines()):
            for piece in reversed(raw.split("\r")):
                piece = piece.strip()
                if piece.startswith("{"):
                    try:
                        rec = json.loads(piece)
                        break
                    except ValueError:
                        continue
            if rec is not None:
                break
        if r.returncode != 0 or rec is None:
            tail = "\n".join(r.stderr.strip().splitlines()[-10:])
            print(f"# leg {name} FAILED rc={r.returncode}:\n{tail}",
                  file=sys.stderr)
            sys.exit(1)
        times.update(rec["queries"])
        checks.update(rec["checks"])
        controls.update(rec["controls"])
    finish(times, checks, controls, isolated=True)


if __name__ == "__main__":
    if os.environ.get("SKEW_ISOLATE"):
        isolate_main()
    else:
        main()
