"""spark-submit job: the reference's `netml classify` flow (cli.py:187-239)
re-expressed on the engine — extract features from an event table, load a
trained model (jobs/learn.py --output-model), predict per flow, and print
the per-flow report with the reference's verbosity filter.

    spark-submit --py-files dist/netml_spark.zip jobs/classify.py \
        --input <events parquet> --model /tmp/model.pkl \
        [--report-all | --verbosity 2] [--output <parquet dir>]

Report semantics transcribed from cli.py:202-239:
- NORMAL flows are skipped unless --report-all or --verbosity > 1
  (cli.py:204-210)
- each reported line: [date] [t0 – t1] <flow key> CLASS (cli.py:225-239);
  the flow key here is the entity/session/subflow tuple, the timestamps
  are the first/last packet times of the flow.
"""

from __future__ import annotations

import argparse
import datetime
import os
import sys

import pyarrow as pa

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--model", required=True,
                    help="pickle from jobs/learn.py --output-model")
    ap.add_argument("--report-all", action="store_true",
                    help="report NORMAL flows too (cli.py:206)")
    ap.add_argument("--verbosity", type=int, default=1)
    ap.add_argument("--output", default=None,
                    help="optionally write (flow key, prediction) parquet")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F
    from pyspark.sql.types import IntegerType

    from netml_spark import ndm
    from netml_spark.pipeline import FeaturePlan
    from netml_spark.session import get_spark

    model = ndm.Model.load(args.model)
    ex = model.history.get("report", {}).get("extract", {})
    feat_type = ex.get("feat_type", "IAT")
    entity_cols = tuple(ex.get("entity_cols", "doc_id").split(","))
    order_cols = tuple(c for c in ex.get("order_cols", "seq").split(",") if c)

    spark = get_spark("netml-classify")
    ev = spark.read.parquet(args.input)
    plan = FeaturePlan(feat_type=feat_type,
                       q_interval=float(ex.get("q_interval", 0.9)))
    carry = ("source",) if "source" in ev.columns else ()
    # empty input (zero rows surviving the session/subflow thresholds) is a
    # VALUE here, not an exception: FeaturePlan.extract returns an empty,
    # correctly-schemaed frame and the report below prints flows=0.
    feats = plan.extract(ev, entity_cols, ex.get("ts_col", "ts"),
                         ex.get("token_col", "token"), order_cols,
                         carry_cols=carry)

    key_cols = [*entity_cols, "session_id", "subflow_id"]

    # Distributed scoring: the broadcast numpy model predicts per Arrow
    # batch on the executors (ndm.predict_batch), so the flow table never
    # collects to the driver (a driver-side predict, as the reference's
    # in-memory matrix at cli.py:202, OOMs on a 10^12-sequence corpus).
    bc = spark.sparkContext.broadcast(model)

    @F.arrow_udf(IntegerType())
    def score(features: pa.Array) -> pa.Array:
        return ndm.predict_batch(bc.value, features)

    scored = feats.select(
        *key_cols,
        F.element_at("times", 1).alias("ts_first"),
        F.element_at("times", -1).alias("ts_last"),
        score(F.col("features")).alias("prediction"),
    )
    # one distributed pass regardless of --output: without the persist the
    # totals aggregation AND the report scan would each re-run the full
    # feature-extraction + Arrow UDF scoring pipeline (correct since
    # predict is deterministic, but double the work).
    scored = scored.persist()
    try:
        if args.output:
            scored.write.mode("overwrite").parquet(args.output)
        totals = scored.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum("prediction"), F.lit(0)).alias("anom"),
        ).collect()[0]
    finally:
        # scored is materialized: the sequences cache is not read again
        plan.release()

    # Report tail on the driver: at default verbosity only anomalies are
    # printed (cli.py:204-210); --report-all / -v>1 asks for every line.
    # Streamed via toLocalIterator — one partition in driver memory at a
    # time, never the whole flow table (a 10^12-sequence corpus under
    # --report-all would OOM a toPandas()).
    report = scored
    if not args.report_all and args.verbosity <= 1:
        report = report.filter(F.col("prediction") != 0)
    for row in report.orderBy("ts_first", *key_cols).toLocalIterator():
        tag = "NORMAL" if row.prediction == 0 else "ANOMALY"
        d0 = datetime.datetime.fromtimestamp(float(row.ts_first), datetime.timezone.utc)
        d1 = datetime.datetime.fromtimestamp(float(row.ts_last), datetime.timezone.utc)
        key = ":".join(str(row[c]) for c in key_cols)
        print(f"[{d0.date()}] [{d0.time()} – {d1.time()}] {key} {tag}")
    print(f"# flows={int(totals.n)} anomalies={int(totals.anom)}")
    scored.unpersist()

    if args.output:
        print(f"wrote {args.output}")


if __name__ == "__main__":
    main()
