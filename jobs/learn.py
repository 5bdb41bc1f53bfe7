"""spark-submit job: the reference's `netml learn` flow (cli.py:371-583)
re-expressed on the engine — extract features from one or more event
tables, label them, train an anomaly detector, report AUC.

    spark-submit --py-files dist/netml_spark.zip jobs/learn.py \
        --inputs <events parquet> [<events parquet> ...] \
        --labels <labels parquet with (doc_id, label_raw[, src_order])> \
        --feat-type IAT --model pca --output-model /tmp/model.json

Input labeling mirrors the reference CLI surface exactly
(cli.py:256-306 argument group, cli.py:384-404 dynamic checks,
tests/cli_tests/test_learn.py:32-77, 191-229, 337-357):

  --inputs           unlabeled OR file-labeled event tables (-p/--pcap twin)
  --labels           one label table per --inputs entry, paired by position
                     (repeated -l/--label twin; count must match --inputs,
                     else exit 2 "number of files ... must match")
  --input-normal     event tables whose flows are all labeled 0
                     (--pcap-normal twin, LABEL_NORMAL)
  --input-abnormal   event tables whose flows are all labeled 1
                     (--pcap-abnormal twin, LABEL_ABNORMAL)

Mixing unlabeled --inputs with flag-labeled inputs is rejected (exit 2,
"may not specify ... without also specifying --labels") and at least one
input of any kind is required — both checks run before any Spark session
is built, as in the reference (parser.error → exit code 2 on stderr).

Differences from the reference, by design (SURVEY.md §2.12): models are
numpy-only (no sklearn/torch here) — PCA reconstruction error, spherical
GMM, isolation forest, gaussian KDE, RBF one-class SVM, or an MLP
autoencoder; train/test split is a deterministic hash split (no sklearn
train_test_split), test fraction 0.33 as in cli.py:511-519.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("-p", "--inputs", nargs="+", action="extend", default=None,
                    help="unlabeled or file-labeled event tables (-p/--pcap)")
    ap.add_argument("-l", "--labels", nargs="+", action="extend", default=None,
                    help="label tables, one per --inputs entry (paired by "
                         "position, like the reference's repeated -l/--label)")
    ap.add_argument("--input-normal", nargs="+", action="extend", default=None,
                    help="event tables labeled 0 wholesale (--pcap-normal)")
    ap.add_argument("--input-abnormal", nargs="+", action="extend", default=None,
                    help="event tables labeled 1 wholesale (--pcap-abnormal)")
    ap.add_argument("--feat-type", default="IAT")
    ap.add_argument("--q-interval", type=float, default=0.9)
    ap.add_argument("--model",
                    choices=["pca", "gmm", "iforest", "kde", "ocsvm", "ae"],
                    default="pca")
    ap.add_argument("--n-components", type=int, default=2)
    ap.add_argument("--contamination", type=float, default=0.1)
    ap.add_argument("--test-frac", type=float, default=0.33)
    ap.add_argument("--entity-cols", default="doc_id")
    ap.add_argument("--ts-col", default="ts")
    ap.add_argument("--token-col", default="token")
    ap.add_argument("--order-cols", default="seq")
    # required, as in the reference: `netml learn` refuses to train into
    # the void (tests/cli_tests/test_learn.py:63-77 — exit 2, "arguments
    # are required .+: -o/--output/-m/--model")
    ap.add_argument("-m", "--output-model", required=True)
    args = ap.parse_args(argv)

    # Dynamic argument checks, transcribed from the reference
    # (cli.py:384-404): each is a parser.error → stderr + exit code 2,
    # and all of them run before any Spark session exists.
    if not args.inputs and not args.input_normal and not args.input_abnormal:
        ap.error("at least one of the following arguments are required: "
                 "-p/--inputs, --input-normal or --input-abnormal")
    if args.labels and len(args.labels) != len(args.inputs or ()):
        ap.error("the number of files optionally specified by -l/--labels "
                 "must match those specified by -p/--inputs")
    if args.inputs and not args.labels and (args.input_normal
                                            or args.input_abnormal):
        ap.error("may not specify --inputs and --input-normal/"
                 "--input-abnormal without also specifying --labels "
                 "(both labeled and unlabeled inputs)")

    import numpy as np
    from pyspark.sql import functions as F

    from netml_spark import ndm
    from netml_spark.operators.labels import label_join
    from netml_spark.pipeline import FeaturePlan
    from netml_spark.session import get_spark

    spark = get_spark("netml-learn")
    entity_cols = tuple(args.entity_cols.split(","))
    order_cols = tuple(c for c in args.order_cols.split(",") if c)

    plans = []  # released once the feature matrix is collected

    def extract_one(path):
        ev = spark.read.parquet(path)
        plan = FeaturePlan(feat_type=args.feat_type, q_interval=args.q_interval)
        plans.append(plan)
        carry = ("source",) if "source" in ev.columns else ()
        return plan.extract(ev, entity_cols, args.ts_col, args.token_col,
                            order_cols, carry_cols=carry)

    # extract per input, union — the reference chains
    # zip(pcaps, label_files) ++ zip(pcaps_normal, LABEL_NORMAL) ++
    # zip(pcaps_abnormal, LABEL_ABNORMAL) (cli.py:430-448); here each leg
    # is a DataFrame branch and the concat is unionByName.
    labeled = bool(args.labels or args.input_normal or args.input_abnormal)
    parts = []
    try:
        for i, path in enumerate(args.inputs or ()):
            f = extract_one(path)
            if args.labels:
                lab = spark.read.parquet(args.labels[i])
                order_col = "src_order" if "src_order" in lab.columns else None
                f = label_join(f, lab, (entity_cols[0],), order_col=order_col)
            parts.append(f)
        for flag_inputs, flag_label in ((args.input_normal, 0),
                                        (args.input_abnormal, 1)):
            for path in flag_inputs or ():
                parts.append(extract_one(path)
                             .withColumn("label", F.lit(flag_label).cast("int")))
        feats = parts[0]
        for f in parts[1:]:
            # allowMissingColumns: inputs may disagree on the optional
            # 'source' carry column (per-input carry detection) — the
            # reference's pandas concat tolerates heterogeneous inputs, so
            # the multi-leg union must too (ADVICE r5)
            feats = feats.unionByName(f, allowMissingColumns=True)
        label_col = "label" if labeled else None

        X, y = ndm.collect_matrix(feats, "features", label_col)
    finally:
        for plan in plans:
            plan.release()
    counts = None if y is None else {
        int(k): int(v) for k, v in zip(*np.unique(y, return_counts=True))
    }
    print(f"feature matrix: {X.shape}, labels: {counts}")

    # deterministic hash split (reference: train_test_split 0.33)
    h = (np.arange(len(X)) * 2654435761 % 2**32) / 2**32
    test = h < args.test_frac
    if args.model in ("pca", "gmm"):
        det = ndm.DETECTORS[args.model](args.n_components)
    else:
        det = ndm.DETECTORS[args.model]()
    model = ndm.Model(det, contamination=args.contamination)
    model.train(X[~test])
    report = {"model": args.model, "n_train": int((~test).sum()),
              "n_test": int(test.sum()), "feat_type": args.feat_type}
    if y is not None and len(set(y[test])) == 2:
        report["auc"] = round(model.test(X[test], y[test]), 4)
    report["extract"] = {
        "feat_type": args.feat_type, "q_interval": args.q_interval,
        "entity_cols": args.entity_cols, "ts_col": args.ts_col,
        "token_col": args.token_col, "order_cols": args.order_cols,
    }
    model.history["report"] = report
    print(json.dumps(report))
    if args.output_model:
        model.save(args.output_model)
        print(f"wrote {args.output_model}")


if __name__ == "__main__":
    main()
