"""spark-submit job: tokenized events -> netml feature vectors.

Usage (cluster):
    python tools/package.py   # builds dist/netml_spark.zip
    spark-submit --driver-memory 48g \
        --py-files dist/netml_spark.zip jobs/extract_features.py \
        --input s3://bucket/token_events --output s3://bucket/features \
        --feat-type IAT --q-interval 0.9 --entity-cols doc_id

    # resumable backfill: features land under the checkpoint root, in
    # s3://bucket/ckpt/features_IAT/source=<v>/ (--output is not written)
    spark-submit ... jobs/extract_features.py \
        --input s3://bucket/token_events --output unused \
        --feat-type IAT --checkpoint s3://bucket/ckpt --partition-col source

NOTE: under spark-submit the JVM starts before session.py's conf applies,
so spark.driver.memory MUST be passed on the command line (local mode
shares one heap across all task threads; the 1g default OOMs).

Locally the same file runs under plain ``python`` (it builds its own
session). With --checkpoint, extraction runs per partition value through
the CheckpointManifest, so a killed backfill resumes idempotently; each
partition lands in ``<checkpoint>/features_<TYPE>/<partition-col>=<v>/``
and ``--output`` (still required) is never written.

Scope of the data-dependent scalars (split interval, dim): the plain path
treats the whole input as one capture, so they are quantiles over all of
it. --checkpoint treats each partition value as one capture, as the
reference extracts one pcap at a time (cli.py:72-96): each partition's
output equals the plain path run over that value's events alone. Every
partition is stamped with a hash of the input's file list, so a re-run
after the input gained or lost a file recomputes every partition.

The partition column, when the input has it, rides to the output as a
carry column, taken once per session (FeaturePlan's ``first()``). On the
plain path it should be constant per entity, like the capture source: a
column that varies within a session gives all of that session's flows one
of its values. With --checkpoint it is constant within each partition.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True,
                    help="parquet output dir; not written under --checkpoint, "
                         "whose partitions land under the checkpoint root")
    ap.add_argument("--feat-type", default="IAT",
                    choices=["IAT", "SIZE", "IAT_SIZE", "STATS", "SAMP_NUM",
                             "SAMP_SIZE"])
    ap.add_argument("--fft", action="store_true")
    ap.add_argument("--header", action="store_true")
    ap.add_argument("--q-interval", type=float, default=0.9)
    ap.add_argument("--interval", type=float, default=0.0)
    ap.add_argument("--timeout", type=float, default=600.0)
    ap.add_argument("--entity-cols", default="doc_id")
    ap.add_argument("--ts-col", default="ts")
    ap.add_argument("--token-col", default="token")
    ap.add_argument("--order-cols", default="seq")
    ap.add_argument("--checkpoint", default=None,
                    help="manifest root for idempotent per-partition resume; "
                         "features land in <checkpoint>/features_<TYPE>/"
                         "<partition-col>=<v>/ instead of --output")
    ap.add_argument("--partition-col", default="source")
    ap.add_argument("--approx-quantiles", action="store_true",
                    help="percentile_approx for the two-pass scalars (pinned "
                         "accuracy instead of exact percentiles)")
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from netml_spark.pipeline import FeaturePlan
    from netml_spark.session import get_spark

    spark = get_spark("netml-extract-features")
    events = spark.read.parquet(args.input)
    entity_cols = tuple(args.entity_cols.split(","))
    order_cols = tuple(c for c in args.order_cols.split(",") if c)

    def new_plan():
        return FeaturePlan(
            feat_type=args.feat_type, fft=args.fft, header=args.header,
            q_interval=args.q_interval, interval=args.interval,
            timeout=args.timeout, approx_quantiles=args.approx_quantiles,
        )

    def extract(plan, df):
        carry = (args.partition_col,) if args.partition_col in df.columns else ()
        return plan.extract(
            df, entity_cols, args.ts_col, args.token_col, order_cols,
            carry_cols=carry,
        )

    if args.checkpoint:
        from netml_spark.manifest import CheckpointManifest

        parts = sorted(  # a null value sorts first
            (r[0] for r in events.select(args.partition_col).distinct().collect()),
            key=lambda v: (v is not None, v),
        )
        plans = {}  # partition value -> the plan holding its sequences cache

        def build(p):
            plans[p] = plan = new_plan()
            return extract(plan, events.filter(F.col(args.partition_col).eqNullSafe(p)))

        # the partition column is a plain column, so every partition reads
        # every input file: one stamp fits all (the listing is the file
        # index's, no Spark job runs)
        fp = hashlib.sha256("\n".join(sorted(events.inputFiles())).encode()).hexdigest()
        man = CheckpointManifest(spark, args.checkpoint)
        results = man.run_stage(
            f"features_{args.feat_type}", parts, build, args.partition_col,
            input_fp=lambda p: fp, release=lambda p: plans.pop(p).release(),
        )
        done = sum(1 for v in results.values() if v[0] == "ok")
        skipped = sum(1 for v in results.values() if v[0] == "skipped")
        errors = {p: v[1] for p, v in results.items() if v[0] == "error"}
        print(f"partitions done={done} skipped={skipped} errors={len(errors)} "
              f"-> {args.checkpoint}")
        for p, msg in errors.items():
            print(f"  error partition={p}: {msg.splitlines()[0][:160]}")
    else:
        plan = new_plan()
        try:
            extract(plan, events).write.mode("overwrite").parquet(args.output)
        finally:
            plan.release()
        print(f"wrote {args.output}")


if __name__ == "__main__":
    main()
