"""The benchmark workloads.

Each workload wraps one op a user of the engine runs, driven only through
public calls, plus the untimed read-out and check of its result and a
traced decomposition into the engine's layers:

- ``extract_iat``: ``FeaturePlan(feat_type="IAT").extract`` over the event
  table and the parquet write ``jobs/extract_features.py`` does after it;
  its traced run also times ``operators.asof`` (``AsofLayer``) over the
  same events;
- ``seq_kernels``: every per-sequence kernel of ``operators.kernels`` over
  the sequences table, with no shuffle before them.

``op()`` is the timed part. ``result(raw)`` reads the checksums and the
sampled entities (for extract_iat from the written parquet) and
``check(result, ref)`` lists what disagrees with the warm-up op ``ref`` or
with the oracle.
"""

from __future__ import annotations

import os
from collections import defaultdict

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import checks
import engine
from statusstore import metric_total, spill_total

TRACE_REPEATS = 2  # each traced decomposition runs twice; medians reported


def _sum_elements(col: str):
    return F.sum(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x))


def _sampled(ids, *cols):
    """collect_list of the given columns over the sampled entities only."""
    return F.collect_list(F.when(F.col("doc_id").isin(ids), F.struct(*cols)))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _python_metrics(rows, node: str) -> dict:
    return {
        "run_s": metric_total(rows, "time to run Python workers", node),
        "bytes_in": metric_total(rows, "data sent to Python workers", node),
        "bytes_out": metric_total(rows, "data returned from Python workers", node),
    }


class Workload:
    name = ""
    rows = ""  # corpus count that rows_per_s divides by

    def __init__(self, spark, data: dict, work_dir: str, entities: dict):
        """``entities`` maps the sampled doc_ids to their (times, tokens)."""
        self.spark = spark
        self.data = data
        self.work_dir = work_dir
        self.entities = entities
        self.sample_ids = sorted(entities)

    def op(self, tracer=engine.NO_TRACE):
        raise NotImplementedError

    def result(self, raw) -> dict:
        raise NotImplementedError

    def check(self, res: dict, ref: dict) -> list[str]:
        raise NotImplementedError

    def trace(self, tracer, store, op: dict, record) -> dict:
        """Per-layer metrics of this workload's own layers; ``op`` holds the
        medians of the traced ops (``trace.op_s`` and ``op_metrics``).
        Checks of extra queries go to ``record(label, problems)``."""
        raise NotImplementedError

    def op_metrics(self, rows) -> dict:
        """Per-layer metrics read from the status-store rows of one op."""
        return {}


class ExtractIat(Workload):
    name = "extract_iat"
    rows = "n_events"

    def __init__(self, spark, data, work_dir, entities):
        super().__init__(spark, data, work_dir, entities)
        self.events = spark.read.parquet(data["events"])
        self.out_dir = os.path.join(work_dir, "out", self.name)
        self.expected = data["extract_iat_expected"]

    def op(self, tracer=engine.NO_TRACE):
        from netml_spark.pipeline import FeaturePlan

        plan = FeaturePlan(feat_type="IAT")
        with tracer.span("pipeline.extract_call"):
            feats = plan.extract(self.events)
        with tracer.span("pipeline.write"):
            feats.write.mode("overwrite").parquet(self.out_dir)
        return plan.split_interval, plan.dim

    def result(self, raw) -> dict:
        """Checksums and sampled rows of the written parquet, read with
        pyarrow: no Spark job, so checking adds little to a run."""
        split_interval, dim = raw
        out = pq.read_table(self.out_dir, columns=["doc_id", "n_tok", "times", "features"])
        sample = out.filter(pc.is_in(out["doc_id"], pa.array(self.sample_ids)))
        samples = defaultdict(list)
        for d, t, f in zip(sample["doc_id"].to_pylist(), sample["times"].to_pylist(),
                           sample["features"].to_pylist()):
            samples[d].append((np.asarray(t), np.asarray(f)))
        return {
            "ints": {"n_flows": out.num_rows, "sum_n_tok": pc.sum(out["n_tok"]).as_py(),
                     "dim": dim, "split_interval_bits": float.hex(split_interval)},
            "floats": {"feature_sum": pc.sum(pc.list_flatten(out["features"])).as_py()},
            "split_interval": split_interval, "dim": dim, "samples": samples,
        }

    def check(self, res, ref):
        exp = self.expected
        problems = checks.compare_checksums(res, ref)
        for k in ("n_flows", "sum_n_tok", "dim"):
            if res["ints"][k] != exp[k]:
                problems.append(f"{k}: {res['ints'][k]} != oracle {exp[k]}")
        if not np.isclose(res["split_interval"], exp["split_interval"], rtol=1e-12, atol=0):
            problems.append(f"split_interval {res['split_interval']!r} != "
                            f"oracle {exp['split_interval']!r}")
        for doc, (t, s) in self.entities.items():
            problems += checks.check_extract_iat_entity(
                doc, t, s, res["samples"].get(doc, []), res["split_interval"], res["dim"])
        return problems

    def trace(self, tracer, store, op, record):
        """Materialise each lifecycle prefix of ``FeaturePlan.extract`` with
        the arguments ``extract`` passes: sessionize, then subflows (to the
        noop sink), then the cached sequences; and run both quantile
        barriers as ``extract`` does. A stage's self time is its prefix's
        time minus the previous prefix's. The barriers are timed whole: the
        split-interval barrier needs its own pass over the events. These
        self times plus the write should add up to op_s; the rest is
        reported as ``pipeline.unaccounted_s``. Then the as-of layer runs
        over the same events."""
        from netml_spark.operators.quantile import dim_from_counts, exact_quantile
        from netml_spark.operators.sequences import events_to_sequences
        from netml_spark.operators.sessionize import sessionize_timeout, subflows_interval

        keys = ["doc_id", "session_id"]
        m = {}
        for _ in range(TRACE_REPEATS):
            engine.clear_cache(self.spark)
            sess = sessionize_timeout(self.events, ("doc_id",), "ts", checks.TIMEOUT,
                                      checks.FLOW_PKTS_THRES, ("seq",),
                                      defer_seg_filter=True)
            with tracer.span("sessionize.timeout"):
                _noop(sess)
            durations = sess.groupBy(*keys).agg(
                (F.max("ts") - F.min("ts")).alias("duration"),
                F.count(F.lit(1)).alias("_n_seg"),
            ).filter(F.col("_n_seg") >= checks.FLOW_PKTS_THRES)
            with tracer.span("quantile.split_interval"):
                interval = exact_quantile(durations, "duration", checks.Q_INTERVAL)
            subs = subflows_interval(sess, interval, keys, "ts", checks.FLOW_PKTS_THRES,
                                     ("seq",), assume_partitioned=True)
            last = store.last_id()
            with tracer.span("sessionize.subflows"):
                _noop(subs)
            rows = store.rows(store.since(last))
            seqs = events_to_sequences(subs, keys + ["subflow_id"], "ts", "token",
                                       ("seq",), ("source",)).cache()
            with tracer.span("sequences.build"):
                seqs.count()
            m["sequences.cache_mb"] = engine.cached_bytes(self.spark) / 2 ** 20
            with tracer.span("quantile.dim"):
                dim_from_counts(seqs, "n_tok", checks.Q_INTERVAL)
        engine.clear_cache(self.spark)

        def med(name):
            return float(np.median(tracer.seconds(name)))

        py = _python_metrics(rows, "MapInArrow")
        m["sessionize.timeout_s"] = med("sessionize.timeout")
        m["sessionize.subflows_s"] = med("sessionize.subflows") - med("sessionize.timeout")
        m["sessionize.subflows_py_s"] = py["run_s"]
        m["sessionize.py_bytes_in"] = py["bytes_in"]
        m["sessionize.py_bytes_out"] = py["bytes_out"]
        m["sessionize.shuffle_bytes"] = metric_total(rows, "shuffle bytes written")
        m["sessionize.spill_bytes"] = spill_total(rows)
        m["sequences.build_s"] = med("sequences.build") - med("sessionize.subflows")
        m["quantile.barrier_s"] = med("quantile.split_interval") + med("quantile.dim")
        m["pipeline.extract_call_s"] = med("pipeline.extract_call")
        m["pipeline.write_s"] = med("pipeline.write")
        m["pipeline.unaccounted_s"] = op["trace.op_s"] - (
            med("sequences.build") + m["quantile.barrier_s"] + m["pipeline.write_s"])
        asof, problems = AsofLayer(self.spark, self.events, self.entities).trace(
            tracer, store, self.data["n_events"])
        record("as-of layer", problems)
        m.update(asof)
        return m


class SeqKernels(Workload):
    name = "seq_kernels"
    rows = "n_seqs"
    DIM = 64
    SAMP_RATE = 30.0
    FEATURES = ("iat", "iat_size", "samp", "fft")

    def __init__(self, spark, data, work_dir, entities):
        super().__init__(spark, data, work_dir, entities)
        self.seqs = spark.read.parquet(data["sequences"])

    def _query(self, names):
        from netml_spark.operators import kernels

        d = self.DIM
        cols = {
            "iat": lambda: kernels.pad_truncate(kernels.iat("times"), d - 1),
            "iat_size": lambda: kernels.pad_truncate(
                kernels.iat_size("times", "tokens"), 2 * d - 1),
            "samp": lambda: kernels.pad_truncate(
                kernels.samp_udf("SAMP_SIZE", self.SAMP_RATE)("times", "tokens"), d - 1),
            "fft": lambda: kernels.fft_udf(d - 1)(kernels.iat("times")),
        }
        feats = self.seqs.select("doc_id", "n_tok", *[cols[n]().alias(n) for n in names])
        return feats.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_tok").alias("sum_n_tok"),
            *[_sum_elements(n).alias(n) for n in names],
            _sampled(self.sample_ids, "doc_id", *names).alias("sample"),
        ).collect()[0]

    def op(self, tracer=engine.NO_TRACE):
        return self._query(self.FEATURES)

    def result(self, row) -> dict:
        return {
            "ints": {"n_rows": row["n_rows"], "sum_n_tok": row["sum_n_tok"]},
            "floats": {n: row[n] for n in self.FEATURES},
            "samples": {r["doc_id"]: r for r in row["sample"]},
        }

    def check(self, res, ref):
        problems = checks.compare_checksums(res, ref)
        if res["ints"]["n_rows"] != self.data["n_seqs"]:
            problems.append(f"n_rows {res['ints']['n_rows']} != {self.data['n_seqs']}")
        for doc, (t, s) in self.entities.items():
            got = res["samples"].get(doc)
            if got is None:
                problems.append(f"{doc}: missing from the output")
                continue
            want = checks.seq_kernels_oracle(t, s, self.DIM, self.SAMP_RATE)
            for n in self.FEATURES:
                problems += checks.compare_arrays(f"{doc} {n}", got[n], want[n])
        return problems

    def trace(self, tracer, store, op, record):
        """Each kernel family timed alone over the same table."""
        for _ in range(TRACE_REPEATS):
            for label, names in (("native", ("iat", "iat_size")), ("samp", ("samp",)),
                                 ("fft", ("fft",))):
                with tracer.span(f"kernels.{label}"):
                    self._query(names)
        return {f"kernels.{k}_s": float(np.median(tracer.seconds(f"kernels.{k}")))
                for k in ("native", "samp", "fft")}

    def op_metrics(self, rows) -> dict:
        py = _python_metrics(rows, "ArrowEvalPython")
        return {"kernels.py_run_s": py["run_s"], "kernels.py_bytes_in": py["bytes_in"],
                "kernels.py_bytes_out": py["bytes_out"]}


class AsofLayer:
    """``bench.py``'s north query, ``operators.asof.asof_join`` plus
    lag/rolling windows per entity, all in the JVM. It is timed as a layer
    in the extract_iat traced run, over the same event table."""

    def __init__(self, spark, events, entities: dict):
        self.spark = spark
        self.events = events
        self.entities = entities
        self.sample_ids = sorted(entities)

    def _join(self):
        from netml_spark.operators.asof import asof_join

        tev = self.events
        right = tev.filter(F.col("seq") % checks.SNAP_EVERY == 0).select(
            "doc_id", "ts", F.col("token").alias("snap"))
        return asof_join(tev, right, on=("doc_id",), value_cols=("snap",))

    def query(self):
        w = Window.partitionBy("doc_id").orderBy("ts", "seq")
        feat = (
            self._join()
            .withColumn("gap", F.col("ts") - F.lag("ts").over(w))
            .withColumn("tok_lag", F.lag("token").over(w))
            .withColumn("roll_sum", F.sum("token").over(
                w.rowsBetween(1 - checks.ROLL_ROWS, 0)))
        )
        return feat.agg(
            F.count(F.lit(1)).alias("n_rows"),
            _sampled(self.sample_ids, "doc_id", "seq", "ts",
                     *checks.ASOF_COLS).alias("sample"),
        ).collect()[0]

    def check(self, row, n_events: int) -> list[str]:
        problems = []
        if row["n_rows"] != n_events:
            problems.append(f"asof n_rows {row['n_rows']} != {n_events}")
        sample = pd.DataFrame([r.asDict() for r in row["sample"]],
                              columns=["doc_id", "seq", "ts", *checks.ASOF_COLS])
        got = dict(tuple(sample.groupby("doc_id")))
        for doc, (t, s) in self.entities.items():
            if doc not in got:
                problems.append(f"{doc}: missing from the as-of output")
                continue
            problems += checks.check_asof_entity(doc, t, s, got[doc])
        return problems

    def trace(self, tracer, store, n_events: int) -> tuple[dict, list[str]]:
        """The whole query, then the join alone reduced to sums over the
        columns the windows read (so it prunes like the query does); the
        windows' self time is the rest. One untimed query first: the JVM
        has not run this plan before."""
        problems = self.check(self.query(), n_events)
        for _ in range(TRACE_REPEATS):
            last = store.last_id()
            with tracer.span("asof.query"):
                row = self.query()
            rows = store.rows(store.since(last))
            problems += self.check(row, n_events)
            j = self._join()
            with tracer.span("asof.join"):
                j.agg(*[F.sum(c) for c in ("seq", "ts", "token", "snap")]).collect()
        query_s = float(np.median(tracer.seconds("asof.query")))
        join_s = float(np.median(tracer.seconds("asof.join")))
        return {"asof.join_s": join_s, "asof.window_s": query_s - join_s,
                "asof.sort_s": metric_total(rows, "sort time", "Sort"),
                "asof.shuffle_bytes": metric_total(rows, "shuffle bytes written"),
                "asof.spill_bytes": spill_total(rows)}, problems


WORKLOADS = {w.name: w for w in (ExtractIat, SeqKernels)}
