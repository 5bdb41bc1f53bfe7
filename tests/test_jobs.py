"""jobs/ lifecycle under pytest: learn -> classify with DISTRIBUTED
scoring (broadcast-model Arrow UDF) must reproduce the driver-side
model.predict exactly, and the printed report must match the sink."""

import re

import numpy as np
import pytest

EVENTS = "/root/testdata/sf0.001/events.parquet"


@pytest.fixture(scope="module")
def model_path(tmp_path_factory):
    import jobs.learn as learn

    p = str(tmp_path_factory.mktemp("model") / "model.pkl")
    learn.main([
        "--inputs", EVENTS, "--feat-type", "STATS", "--model", "pca",
        "--entity-cols", "user_id", "--token-col", "value",
        "--order-cols", "event_id", "--output-model", p,
    ])
    return p


def test_cli_argument_validation_surface(capsys):
    """The reference CLI's argument-validation contract
    (/root/reference/tests/cli_tests/test_learn.py:32-77): a missing
    required argument exits code 2 with an 'arguments are required'
    stderr naming the flag. No Spark session is ever built for a bad
    invocation."""
    import jobs.classify as classify
    import jobs.extract_features as ef
    import jobs.learn as learn

    cases = [
        # extract requires an input (reference: -p/--pcap) and an output
        # (reference: -f/--feature)
        (ef.main, ["--output", "/tmp/x"], r"arguments are required.*--input"),
        (ef.main, ["--input", "/tmp/x"], r"arguments are required.*--output"),
        # train requires a model output (reference: -o/--output/-m/--model)
        (learn.main, ["--inputs", "/tmp/x"],
         r"arguments are required.*-m/--output-model"),
        # classify requires the trained model
        (classify.main, ["--input", "/tmp/x"],
         r"arguments are required.*--model"),
        # dynamic checks transcribed from cli.py:384-404
        # (test_learn.py:191-229: label/input counts must match, both ways)
        (learn.main, ["--inputs", "/tmp/x", "--labels", "/tmp/a", "/tmp/b",
                      "--output-model", "/tmp/m"],
         r"number of files .+ must match"),
        (learn.main, ["--inputs", "/tmp/x", "/tmp/y", "--labels", "/tmp/a",
                      "--output-model", "/tmp/m"],
         r"number of files .+ must match"),
        # test_learn.py:337-357: unlabeled + flag-labeled inputs may not mix
        (learn.main, ["--inputs", "/tmp/x", "--input-normal", "/tmp/n",
                      "--output-model", "/tmp/m"],
         r"may not specify --inputs and --input-normal/--input-abnormal "
         r"without also specifying --labels"),
        # cli.py:384-388: at least one input of any kind is required
        (learn.main, ["--output-model", "/tmp/m"],
         r"at least one of the following arguments are required"),
    ]
    for fn, argv, pattern in cases:
        with pytest.raises(SystemExit) as exc:
            fn(argv)
        assert exc.value.code == 2, (fn.__module__, argv)
        err = capsys.readouterr().err
        assert re.search(pattern, err), (fn.__module__, argv, err)


def test_learn_paired_file_labels(spark, tmp_path, capsys):
    """Per-input label pairing is positional, like the reference's
    zip(pcaps, label_files) (cli.py:434-436, test_learn.py:170-189): the
    same events table read twice, paired with an all-BENIGN and an
    all-attack label table, must yield equal 0/1 label counts."""
    import pandas as pd

    import jobs.learn as learn

    users = pd.read_parquet(EVENTS, columns=["user_id"])["user_id"].unique()
    lab0 = str(tmp_path / "lab0.parquet")
    lab1 = str(tmp_path / "lab1.parquet")
    pd.DataFrame({"user_id": users, "label_raw": "BENIGN"}).to_parquet(lab0)
    pd.DataFrame({"user_id": users, "label_raw": "portscan"}).to_parquet(lab1)
    p = str(tmp_path / "model.pkl")
    learn.main([
        "--inputs", EVENTS, EVENTS, "--labels", lab0, lab1,
        "--feat-type", "STATS", "--model", "pca",
        "--entity-cols", "user_id", "--token-col", "value",
        "--order-cols", "event_id", "--output-model", p,
    ])
    out = capsys.readouterr().out
    m = re.search(r"labels: \{0: (\d+), 1: (\d+)\}", out)
    assert m, out
    assert int(m.group(1)) == int(m.group(2)) > 0


def test_learn_flag_labeled_inputs(spark, tmp_path, capsys):
    """--input-normal/--input-abnormal label whole inputs 0/1 wholesale
    (reference --pcap-normal/--pcap-abnormal, test_learn.py:232-278)."""
    import jobs.learn as learn

    p = str(tmp_path / "model.pkl")
    learn.main([
        "--input-normal", EVENTS, "--input-abnormal", EVENTS,
        "--feat-type", "STATS", "--model", "pca",
        "--entity-cols", "user_id", "--token-col", "value",
        "--order-cols", "event_id", "--output-model", p,
    ])
    out = capsys.readouterr().out
    m = re.search(r"labels: \{0: (\d+), 1: (\d+)\}", out)
    assert m, out
    assert int(m.group(1)) == int(m.group(2)) > 0
    from netml_spark import ndm

    assert hasattr(ndm.Model.load(p), "predict")


def test_classify_distributed_scoring_parity(spark, tmp_path, capsys, model_path):
    import jobs.classify as classify

    out_dir = str(tmp_path / "scored")
    classify.main(["--input", EVENTS, "--model", model_path,
                   "--output", out_dir])
    report = capsys.readouterr().out
    m = re.search(r"# flows=(\d+) anomalies=(\d+)", report)
    assert m, report

    scored = spark.read.parquet(out_dir).toPandas()
    assert int(m.group(1)) == len(scored)
    assert int(m.group(2)) == int(scored.prediction.sum())
    # every anomaly line in the report names a flow the sink scored 1
    n_lines = sum(1 for ln in report.splitlines() if ln.endswith("ANOMALY"))
    assert n_lines == int(scored.prediction.sum())

    # parity: executor-side Arrow UDF predictions == driver-side
    # model.predict on the same re-extracted feature matrix
    from netml_spark import ndm
    from netml_spark.pipeline import FeaturePlan

    model = ndm.Model.load(model_path)
    ex = model.history["report"]["extract"]
    plan = FeaturePlan(feat_type=ex["feat_type"],
                       q_interval=float(ex["q_interval"]))
    feats = plan.extract(spark.read.parquet(EVENTS), ("user_id",), "ts",
                         "value", ("event_id",), carry_cols=())
    pdf = feats.select("user_id", "session_id", "subflow_id",
                       "features").toPandas()
    X = np.stack(pdf["features"].map(lambda v: np.asarray(v, np.float64)))
    pdf["expected"] = model.predict(X)
    key = ["user_id", "session_id", "subflow_id"]
    merged = scored.merge(pdf.drop(columns=["features"]), on=key)
    assert len(merged) == len(scored) == len(pdf)
    np.testing.assert_array_equal(merged["prediction"], merged["expected"])


def test_classify_empty_input_zero_report(spark, tmp_path, capsys, model_path):
    import pandas as pd

    import jobs.classify as classify

    empty = str(tmp_path / "empty.parquet")
    spark.createDataFrame(pd.DataFrame({
        "user_id": pd.Series([], dtype="int64"),
        "ts": pd.Series([], dtype="float64"),
        "value": pd.Series([], dtype="float64"),
        "event_id": pd.Series([], dtype="int64"),
    }), schema="user_id long, ts double, value double, event_id long",
    ).write.mode("overwrite").parquet(empty)
    classify.main(["--input", empty, "--model", model_path])
    assert "# flows=0 anomalies=0" in capsys.readouterr().out


def test_extract_features_checkpoint_in_iceberg_session(spark, tmp_path, capsys):
    """The job passes no ``iceberg_table``, so partitions land as parquet
    dirs whatever catalogs the session has: the manifest writes to Iceberg
    only when given an identifier and no longer probes the session for an
    Iceberg catalog (a probe once raised ValueError here). This session has
    no Iceberg runtime, so the test pins the parquet run and its all-skipped
    re-run, the path an Iceberg session takes too."""
    import jobs.extract_features as ef

    ckpt = tmp_path / "ckpt"
    argv = [
        "--input", EVENTS, "--output", str(tmp_path / "features"),
        "--feat-type", "STATS", "--entity-cols", "user_id",
        "--token-col", "value", "--order-cols", "event_id",
        "--checkpoint", str(ckpt), "--partition-col", "event_type",
    ]
    ef.main(argv)
    assert "partitions done=5 skipped=0 errors=0" in capsys.readouterr().out
    assert len(list((ckpt / "features_STATS").glob("event_type=*"))) == 5
    ef.main(argv)
    assert "partitions done=0 skipped=5 errors=0" in capsys.readouterr().out


@pytest.mark.parametrize("extra", [[], ["--checkpoint", "ckpt",
                                        "--partition-col", "event_type"],
                                   "learn+classify"])
def test_extract_features_releases_caches(spark, tmp_path, extra):
    """extract_features adds no persisted RDD: the plain path releases the
    plan's sequences cache after its write, the checkpoint path after each
    partition's manifest record. The "learn+classify" case runs learn over
    two inputs (two plans, released once the matrix is collected), then
    classify (released once its scored table is materialized). (Earlier
    tests in this session may hold caches; a release can drop one of them
    when Spark shares the entry between equal plans, so the check is
    "nothing new", not "equal".)"""
    import jobs.classify as classify
    import jobs.extract_features as ef
    import jobs.learn as learn

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    if extra == "learn+classify":
        model = str(tmp_path / "model.pkl")
        learn.main([
            "--input-normal", EVENTS, "--input-abnormal", EVENTS,
            "--feat-type", "IAT", "--q-interval", "0.85", "--model", "pca",
            "--entity-cols", "user_id", "--token-col", "value",
            "--order-cols", "event_id", "--output-model", model,
        ])  # q-interval 0.85: a plan no other test has cached
        assert persisted() <= before
        classify.main(["--input", EVENTS, "--model", model])
    else:
        extra = [str(tmp_path / a) if a == "ckpt" else a for a in extra]
        ef.main([
            "--input", EVENTS, "--output", str(tmp_path / "features"),
            "--feat-type", "SAMP_NUM", "--fft", "--entity-cols", "user_id",
            "--token-col", "value", "--order-cols", "event_id",
            "--timeout", "300", *extra,  # a plan no other test has cached
        ])
    assert persisted() <= before



def test_extract_features_checkpoint_null_partition(spark, tmp_path, capsys):
    """--checkpoint over a partition column with nulls: the null value is
    a partition of its own, built from its rows (``eqNullSafe``), landed
    under Spark's ``__HIVE_DEFAULT_PARTITION__`` directory (it reads back
    as null) and skipped on a re-run. With a timeout and an interval no
    gap reaches, every (user, event type) group is one flow, so every
    input row lands in its partition's output."""
    from pyspark.sql import functions as F

    import jobs.extract_features as ef

    src = str(tmp_path / "events")
    (spark.read.parquet(EVENTS)
     .withColumn("event_type", F.when(F.col("user_id") % 5 != 0, F.col("event_type")))
     .write.parquet(src))
    ckpt = tmp_path / "ckpt"
    argv = [
        "--input", src, "--output", str(tmp_path / "features"),
        "--feat-type", "STATS", "--entity-cols", "user_id",
        "--token-col", "value", "--order-cols", "event_id",
        "--timeout", "1e12", "--interval", "1e12",
        "--checkpoint", str(ckpt), "--partition-col", "event_type",
    ]
    ef.main(argv)
    assert "partitions done=6 skipped=0 errors=0" in capsys.readouterr().out
    assert (ckpt / "features_STATS" / "event_type=__HIVE_DEFAULT_PARTITION__").is_dir()

    def per_partition(df, n):
        return {r[0]: r[1] for r in df.groupBy("event_type").agg(n).collect()}

    rows_in = per_partition(spark.read.parquet(src), F.count(F.lit(1)))
    rows_out = per_partition(spark.read.parquet(str(ckpt / "features_STATS")),
                             F.sum("n_tok"))
    assert None in rows_in and rows_out == rows_in
    ef.main(argv)
    assert "partitions done=0 skipped=6 errors=0" in capsys.readouterr().out


def test_extract_features_checkpoint_recomputes_changed_input(spark, tmp_path,
                                                             capsys):
    """--checkpoint stamps every partition with a hash of the input's file
    list: after a new file lands, a re-run recomputes every partition (the
    partition column is a plain column, so each one reads every file) and
    records the changed partition's new row count; an unchanged re-run
    skips them all. The new file holds the 201 ``error`` events re-keyed
    to a new user, which with a timeout and an interval no gap reaches is
    exactly one more ``error`` flow."""
    from pyspark.sql import functions as F

    import jobs.extract_features as ef
    from netml_spark.manifest import CheckpointManifest

    src = str(tmp_path / "events")
    spark.read.parquet(EVENTS).write.parquet(src)
    ckpt = str(tmp_path / "ckpt")
    argv = [
        "--input", src, "--output", str(tmp_path / "features"),
        "--feat-type", "STATS", "--entity-cols", "user_id",
        "--token-col", "value", "--order-cols", "event_id",
        "--timeout", "1e12", "--interval", "1e12",
        "--checkpoint", ckpt, "--partition-col", "event_type",
    ]

    def error_row_counts():
        return [r.row_count for r in CheckpointManifest(spark, ckpt).read()
                .filter(F.col("partition") == "error").orderBy("finished_at")
                .collect()]

    ef.main(argv)
    assert "partitions done=5 skipped=0 errors=0" in capsys.readouterr().out
    (spark.read.parquet(EVENTS).filter(F.col("event_type") == "error")
     .withColumn("user_id", F.lit(1000).cast("long"))
     .write.mode("append").parquet(src))
    ef.main(argv)
    assert "partitions done=5 skipped=0 errors=0" in capsys.readouterr().out
    before, after = error_row_counts()
    assert after == before + 1
    assert after == spark.read.parquet(f"{ckpt}/features_STATS/event_type=error").count()
    ef.main(argv)
    assert "partitions done=0 skipped=5 errors=0" in capsys.readouterr().out


def test_extract_features_checkpoint_scope_is_one_partition_value(spark, tmp_path,
                                                                  capsys):
    """--checkpoint treats each partition value as one capture, as the
    reference extracts one pcap at a time: a partition's output equals the
    plain job over that value's events alone, with its own split interval
    and dim (IAT with the default quantile scalars)."""
    from pyspark.sql import functions as F

    import jobs.extract_features as ef

    common = ["--feat-type", "IAT", "--entity-cols", "user_id",
              "--token-col", "value", "--order-cols", "event_id",
              "--timeout", "86400"]
    ckpt = tmp_path / "ckpt"
    ef.main(["--input", EVENTS, "--output", str(tmp_path / "unused"), *common,
             "--checkpoint", str(ckpt), "--partition-col", "event_type"])
    assert "errors=0" in capsys.readouterr().out
    src = str(tmp_path / "purchase")
    spark.read.parquet(EVENTS).filter(F.col("event_type") == "purchase").write.parquet(src)
    plain = str(tmp_path / "plain")
    ef.main(["--input", src, "--output", plain, *common])

    def rows(path):
        return sorted((r.user_id, r.session_id, r.subflow_id, r.n_tok, list(r.features))
                      for r in spark.read.parquet(path).collect())

    got = rows(str(ckpt / "features_IAT" / "event_type=purchase"))
    assert got and got == rows(plain)
