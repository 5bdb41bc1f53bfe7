"""Bucketed layout: co-bucketed joins and bucket-key aggregations must
run with ZERO exchange (the persistent-partitioning property that makes
the layout worth it at 10^12 rows)."""

import re

import pandas as pd
import pytest
from pyspark.sql import functions as F

from netml_spark.bucketing import write_bucketed


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _n_exchanges(df) -> int:
    return len(re.findall(r"\(\d+\) Exchange", _plan(df)))


@pytest.fixture(scope="module")
def bucketed_tables(spark):
    ev = pd.DataFrame({
        "doc_id": [f"d{i % 40}" for i in range(2000)],
        "ts": [float(i) for i in range(2000)],
        "token": [i % 1500 for i in range(2000)],
    })
    snaps = pd.DataFrame({
        "doc_id": [f"d{i}" for i in range(40)],
        "snap": list(range(40)),
    })
    write_bucketed(spark.createDataFrame(ev), "ev_bucketed", ("doc_id",),
                   n_buckets=8, sort_cols=("doc_id", "ts"))
    write_bucketed(spark.createDataFrame(snaps), "snap_bucketed", ("doc_id",),
                   n_buckets=8)
    yield "ev_bucketed", "snap_bucketed"
    spark.sql("DROP TABLE IF EXISTS ev_bucketed")
    spark.sql("DROP TABLE IF EXISTS snap_bucketed")


def test_cobucketed_join_has_no_exchange(spark, bucketed_tables):
    lt, rt = bucketed_tables
    # disable broadcast so the join would otherwise shuffle both sides
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table(lt).join(spark.table(rt), "doc_id")
        assert _n_exchanges(j) == 0, _plan(j)
        assert j.count() == 2000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))


def test_bucket_key_aggregation_has_no_exchange(spark, bucketed_tables):
    lt, _ = bucketed_tables
    agg = spark.table(lt).groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("token").alias("s"),
    )
    assert _n_exchanges(agg) == 0, _plan(agg)
    out = agg.toPandas()
    assert len(out) == 40 and out.n.sum() == 2000


def test_unbucketed_join_does_exchange(spark, bucketed_tables):
    """Control: the same join from plain DataFrames shuffles — the zero
    in the tests above comes from the bucket layout, not the optimizer."""
    lt, _ = bucketed_tables
    plain = spark.table(lt).select("doc_id", "ts", "token").repartition(7)
    snaps = spark.createDataFrame(
        pd.DataFrame({"doc_id": [f"d{i}" for i in range(40)], "snap": range(40)})
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = plain.join(snaps, "doc_id")
        assert _n_exchanges(j) >= 1
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
