"""Skew tools: salted agg equals plain agg; bounded sessionize contains
exactly the unchunked sessions away from bucket boundaries; bounded
sequence build is EXACTLY the unbounded ordered collect."""

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from netml_spark.operators import sessionize
from netml_spark.operators.skew import (
    bounded_sequence_build, bounded_sessionize, salted_agg,
)


def test_salted_agg_matches_plain(spark):
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame(
        {
            # one heavy key (80%) + tail
            "k": np.where(rng.random(20_000) < 0.8, "heavy",
                          rng.integers(0, 50, 20_000).astype(str)),
            "v": np.round(rng.normal(100, 15, 20_000), 4),
        }
    )
    df = spark.createDataFrame(pdf)
    # default sum_type: DECIMAL(18,4) accumulator (v has 4 decimals) must
    # be BIT-IDENTICAL to a one-pass decimal SUM — that is the property
    # the two-stage split must not break
    got = salted_agg(df, ("k",), "v", n_salts=16,
                     sum_type="decimal(18,4)").toPandas().set_index("k").sort_index()
    exp = (
        df.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("count_v"),
            F.sum(F.col("v").cast("decimal(18,4)")).cast("double").alias("sum_v"),
            (F.sum(F.col("v").cast("decimal(18,4)")).cast("double")
             / F.count(F.lit(1))).alias("mean_v"),
            F.min(F.col("v").cast("double")).alias("min_v"),
            F.max(F.col("v").cast("double")).alias("max_v"),
        )
        .toPandas().set_index("k").sort_index()
    )
    assert (got["count_v"] == exp["count_v"]).all()
    np.testing.assert_array_equal(got["sum_v"], exp["sum_v"])  # exact
    np.testing.assert_array_equal(got["mean_v"], exp["mean_v"])
    np.testing.assert_array_equal(got["min_v"], exp["min_v"])
    np.testing.assert_array_equal(got["max_v"], exp["max_v"])
    # sum_type="double" keeps full float precision (reordered partials ->
    # tolerance, not equality)
    got_d = salted_agg(df, ("k",), "v", n_salts=16,
                       sum_type="double").toPandas().set_index("k").sort_index()
    exp_d = (
        df.groupBy("k").agg(F.sum(F.col("v").cast("double")).alias("sum_v"))
        .toPandas().set_index("k").sort_index()
    )
    np.testing.assert_allclose(got_d["sum_v"], exp_d["sum_v"], rtol=1e-9)


def test_bounded_sessionize_away_from_boundaries(spark):
    rng = np.random.default_rng(9)
    # sessions well inside buckets: bucket 10_000s, gap 600s, sessions ~100s
    rows = []
    for d in range(30):
        t = d * 100_000.0 + 1000.0
        for s in range(3):
            n = int(rng.integers(2, 10))
            for _ in range(n):
                rows.append(("e%d" % d, t))
                t += float(rng.uniform(0.1, 50))
            t += 700.0  # new session, still far from any 10k boundary? ensure below
    pdf = pd.DataFrame(rows, columns=["ent", "ts"])
    df = spark.createDataFrame(pdf)
    plain = sessionize(df, ("ent",), "ts", 600.0).toPandas()
    chunked = bounded_sessionize(df, ("ent",), "ts", 600.0, 10_000.0).toPandas()
    # same number of distinct sessions per entity when no session straddles
    # a bucket boundary
    p = plain.groupby("ent")["session_id"].nunique()
    c = chunked.groupby("ent")["session_id"].nunique()
    # sessions that straddle a 10k boundary may split; allow only those
    assert (c >= p).all()
    assert (c - p).sum() <= 3  # rare boundary splits at most
    # an input session_id is replaced, not duplicated
    again = bounded_sessionize(df.withColumn("session_id", F.lit(7)), ("ent",), "ts",
                               600.0, 10_000.0).toPandas()
    assert list(again.columns) == list(chunked.columns)
    key = ["ent", "ts"]
    pd.testing.assert_frame_equal(again.sort_values(key, ignore_index=True),
                                  chunked.sort_values(key, ignore_index=True))


def test_bounded_sequence_build_exact(spark):
    """bounded_sequence_build == events_to_sequences EXACTLY — ordered
    collects merge by disjoint time buckets, no approximation. The corpus
    stresses the edges: a heavy entity spanning many buckets, timestamps
    exactly ON bucket boundaries, and duplicate timestamps (ties must
    resolve identically in both variants)."""
    from netml_spark.operators.sequences import events_to_sequences

    rng = np.random.default_rng(21)
    width = 100.0
    rows = []
    # heavy entity: 3000 events across ~30 buckets, with boundary hits
    t = 1000.0
    for i in range(3000):
        t += float(rng.uniform(0.1, 2.0))
        if rng.random() < 0.02:
            t = float(np.ceil(t / width) * width)  # exactly on a boundary
        rows.append(("HOT", t, int(rng.integers(0, 1000)), i))
    # duplicate timestamps on the hot entity (tie order via token struct)
    rows += [("HOT", 1500.0, 7, 9001), ("HOT", 1500.0, 3, 9002)]
    for d in range(25):
        t = float(rng.uniform(0, 3000))
        for i in range(int(rng.integers(1, 40))):
            t += float(rng.uniform(0.1, 5.0))
            rows.append((f"d{d}", t, int(rng.integers(0, 1000)), i))
    pdf = pd.DataFrame(rows, columns=["doc_id", "ts", "token", "seq"])
    df = spark.createDataFrame(pdf)

    plain = (events_to_sequences(df, ("doc_id",), "ts", "token",
                                 order_cols=(), carry_cols=())
             .toPandas().set_index("doc_id").sort_index())
    bounded = (bounded_sequence_build(df, ("doc_id",), "ts", "token", width)
               .toPandas().set_index("doc_id").sort_index())
    assert list(plain.columns) == list(bounded.columns)
    assert (plain["n_tok"] == bounded["n_tok"]).all()
    for k in plain.index:
        np.testing.assert_array_equal(
            np.asarray(plain.loc[k, "times"]),
            np.asarray(bounded.loc[k, "times"]), err_msg=k)
        np.testing.assert_array_equal(
            np.asarray(plain.loc[k, "tokens"]),
            np.asarray(bounded.loc[k, "tokens"]), err_msg=k)

    # with an explicit order column the tie order follows it in both
    plain_o = (events_to_sequences(df, ("doc_id",), "ts", "token",
                                   order_cols=("seq",), carry_cols=())
               .toPandas().set_index("doc_id"))
    bounded_o = (bounded_sequence_build(df, ("doc_id",), "ts", "token",
                                        width, order_cols=("seq",))
                 .toPandas().set_index("doc_id"))
    np.testing.assert_array_equal(
        np.asarray(plain_o.loc["HOT", "tokens"]),
        np.asarray(bounded_o.loc["HOT", "tokens"]))
