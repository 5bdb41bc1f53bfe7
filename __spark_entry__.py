"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps operator names from SURVEY.md §2 to (spark, sf_dir) ->
DataFrame callables built on the netml_spark engine; ``oracle_sql()`` gives
the DuckDB-equivalent ANSI SQL. Column names/aliases match exactly on both
sides; float aggregates that can drift with summation order are either
computed on DECIMAL (exact) or rounded identically on both sides.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DEFAULT = "/root/testdata/sf0.001"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# Temporal core over `events` (entity=user_id, ts, value) — SURVEY.md §2.3/2.4
# ---------------------------------------------------------------------------


def q_sessionize_count(spark, sf_dir):
    """Clean gap sessionization (600 s) -> sessions per user. §2.3."""
    from netml_spark.operators import sessionize

    df = sessionize(_events(spark, sf_dir), ("user_id",), "ts", 600.0, ("event_id",))
    return (
        df.groupBy("user_id")
        .agg(
            (F.max("session_id") + 1).cast("long").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


SQL_SESSIONIZE_COUNT = """
WITH g AS (
  SELECT user_id, ts, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 600
              THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT user_id,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id,
       CAST(MAX(session_id) + 1 AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM s GROUP BY user_id ORDER BY user_id
"""


def q_netml_sessionize(spark, sf_dir):
    """Reference-faithful timeout sessionize (trailing-discard + min-count
    quirks, parser.py:80-206) -> per-session row/byte counts. §2.3."""
    from netml_spark.operators import sessionize_timeout

    df = sessionize_timeout(
        _events(spark, sf_dir), ("user_id",), "ts", 600.0, 2, ("event_id",),
        defer_seg_filter=True,
    )
    return (
        df.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2).alias("sum_value"),
        )
        .filter(F.col("n_events") >= 2)  # deferred min-segment filter
        .orderBy("user_id", "session_id")
        .select("user_id", F.col("session_id").cast("long").alias("session_id"),
                "n_events", "sum_value")
    )


SQL_NETML_SESSIONIZE = """
WITH pre AS (
  SELECT user_id, ts, event_id, value,
         COUNT(*) OVER (PARTITION BY user_id) AS n_entity
  FROM events
), g AS (
  SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 600
                 THEN 1 ELSE 0 END AS brk
  FROM pre WHERE n_entity >= 2
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
), t AS (
  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS max_sid FROM s
), kept AS (
  SELECT * FROM t WHERE max_sid = 0 OR session_id < max_sid
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY user_id, session_id) AS n_seg FROM kept
)
SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
FROM sized WHERE n_seg >= 2
GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def q_session_stats(spark, sf_dir):
    """netml STATS 12-vector per session (parser.py:430-469), native agg. §2.5."""
    from netml_spark.operators import sessionize_timeout
    from netml_spark.operators.stats import stats_features

    sess = sessionize_timeout(
        _events(spark, sf_dir), ("user_id",), "ts", 600.0, 2, ("event_id",),
        defer_seg_filter=True,
    )
    s = stats_features(sess, ("user_id", "session_id"), "ts", "value")
    s = s.filter(F.col("num_pkts") >= 2)  # deferred min-segment filter
    return s.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.round("duration", 6).alias("duration"),
        F.round("pkts_rate", 6).alias("pkts_rate"),
        F.round("bytes_rate", 6).alias("bytes_rate"),
        F.round("size_mean", 6).alias("size_mean"),
        F.round("size_std", 6).alias("size_std"),
        F.round("size_q1", 6).alias("size_q1"),
        F.round("size_q2", 6).alias("size_q2"),
        F.round("size_q3", 6).alias("size_q3"),
        F.round("size_min", 6).alias("size_min"),
        F.round("size_max", 6).alias("size_max"),
        "num_pkts",
        F.round("num_bytes", 6).alias("num_bytes"),
    ).orderBy("user_id", "session_id")


SQL_SESSION_STATS = """
WITH pre AS (
  SELECT user_id, ts, event_id, value,
         COUNT(*) OVER (PARTITION BY user_id) AS n_entity
  FROM events
), g AS (
  SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 600
                 THEN 1 ELSE 0 END AS brk
  FROM pre WHERE n_entity >= 2
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
), t AS (
  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS max_sid FROM s
), kept AS (
  SELECT * FROM t WHERE max_sid = 0 OR session_id < max_sid
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY user_id, session_id) AS n_seg FROM kept
), agg AS (
  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         MAX(epoch(ts)) - MIN(epoch(ts)) AS duration,
         CAST(COUNT(*) AS DOUBLE) AS num_pkts,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS num_bytes,
         AVG(value) AS size_mean,
         COALESCE(stddev_pop(value), 0.0) AS size_std,
         quantile_cont(value, 0.25) AS size_q1,
         quantile_cont(value, 0.50) AS size_q2,
         quantile_cont(value, 0.75) AS size_q3,
         MIN(value) AS size_min,
         MAX(value) AS size_max
  FROM sized WHERE n_seg >= 2
  GROUP BY user_id, session_id
)
SELECT user_id, session_id,
       ROUND(duration, 6) AS duration,
       ROUND(CASE WHEN duration = 0 THEN 0.0 ELSE num_pkts / duration END, 6) AS pkts_rate,
       ROUND(CASE WHEN duration = 0 THEN 0.0 ELSE num_bytes / duration END, 6) AS bytes_rate,
       ROUND(size_mean, 6) AS size_mean,
       ROUND(size_std, 6) AS size_std,
       ROUND(size_q1, 6) AS size_q1,
       ROUND(size_q2, 6) AS size_q2,
       ROUND(size_q3, 6) AS size_q3,
       ROUND(size_min, 6) AS size_min,
       ROUND(size_max, 6) AS size_max,
       num_pkts,
       ROUND(num_bytes, 6) AS num_bytes
FROM agg ORDER BY user_id, session_id
"""


def q_gap_lag_lead(spark, sf_dir):
    """Per-event inter-arrival gap + lag/lead of value. §2.3 (IAT relational twin)."""
    df = _events(spark, sf_dir)
    from netml_spark.util import ts_seconds

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tsd = ts_seconds(df, "ts")
    return df.select(
        "event_id",
        "user_id",
        F.round(tsd - F.lag(tsd).over(w), 6).alias("gap_s"),
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    ).orderBy("event_id")


SQL_GAP_LAG_LEAD = """
SELECT event_id, user_id,
       ROUND(epoch(ts) - lag(epoch(ts)) OVER w, 6) AS gap_s,
       lag(value) OVER w AS prev_value,
       lead(value) OVER w AS next_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
ORDER BY event_id
"""


def q_backfill(spark, sf_dir):
    """Forward-fill (backfill op): last purchase value per user at each event. §2.3."""
    from netml_spark.operators.asof import backfill

    df = _events(spark, sf_dir).withColumn(
        "last_purchase_value",
        F.when(F.col("event_type") == "purchase", F.col("value")),
    )
    out = backfill(df, ["last_purchase_value"], ("user_id",), "ts", ("event_id",))
    return out.select("event_id", "user_id", "last_purchase_value").orderBy("event_id")


SQL_BACKFILL = """
SELECT event_id, user_id,
       last_value(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_purchase_value
FROM events ORDER BY event_id
"""


def q_asof_join(spark, sf_dir):
    """Sort-merge as-of join: most recent purchase (value,ts) per event. §2.4."""
    from netml_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir)
    # dedupe right side to one row per (user_id, ts): max value wins, so the
    # as-of result is well-defined on both engines
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    out = asof_join(
        ev.select("event_id", "user_id", "ts"),
        right,
        on=("user_id",),
        left_ts="ts",
        right_ts="ts",
        value_cols=("purchase_value",),
    )
    return out.select(
        "event_id", "user_id",
        F.round("asof_ts", 6).alias("asof_ts"),
        "purchase_value",
    ).orderBy("event_id")


SQL_ASOF_JOIN = """
WITH r AS (
  SELECT user_id, ts, MAX(value) AS purchase_value
  FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id,
       ROUND(epoch(r.ts), 6) AS asof_ts,
       r.purchase_value
FROM events l ASOF LEFT JOIN r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


def q_sliding_window(spark, sf_dir):
    """Sliding 1 h window per user: trailing event count + value sum. §2.3."""
    from netml_spark.util import ts_seconds

    df = _events(spark, sf_dir)
    tsd = ts_seconds(df, "ts")
    w = (
        Window.partitionBy("user_id")
        .orderBy(tsd)
        .rangeBetween(-3600, 0)
    )
    return df.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double"), 2).alias("sum_1h"),
    ).orderBy("event_id")


SQL_SLIDING_WINDOW = """
SELECT event_id, user_id,
       COUNT(*) OVER w AS n_1h,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE), 2) AS sum_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


def q_json_props(spark, sf_dir):
    """JSON scalar extraction from the props column (§2.8 scalar fns)."""
    df = _events(spark, sf_dir)
    return (
        df.select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k"),
        )
        .orderBy("event_id")
    )


SQL_JSON_PROPS = """
SELECT event_id, CAST(props->>'$.k' AS INT) AS k FROM events ORDER BY event_id
"""


def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregate over lineitem (exact DECIMAL sums). §2.5."""
    l = _lineitem(spark, sf_dir)
    d = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    one = F.lit(1).cast("decimal(18,2)")
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2001-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(d("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(d("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(d("l_extendedprice") * (one - d("l_discount"))).cast("double").alias("sum_disc_price"),
            F.sum(d("l_extendedprice") * (one - d("l_discount")) * (one + d("l_tax"))).cast("double").alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '2001-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""



# ---------------------------------------------------------------------------
# Sequence/kernel queries (SURVEY.md §2.6) over `events`
# ---------------------------------------------------------------------------


def q_iat_arrays(spark, sf_dir):
    """Per-user IAT array (np.diff twin, parser.py:354-375) — native kernel
    over the collected sequence (§2.6). The array is serialized to a
    comma-joined %.6f string so the driver canonicalizer (pandas
    sort_values over raw columns) can hash it — list cells are unsortable."""
    from netml_spark.operators import kernels
    from netml_spark.operators.sequences import events_to_sequences

    seqs = events_to_sequences(
        _events(spark, sf_dir), ("user_id",), "ts", "event_id", ("event_id",),
        carry_cols=(),
    )
    return seqs.select(
        "user_id",
        F.concat_ws(
            ",",
            F.transform(kernels.iat("times"),
                        lambda x: F.format_string("%.6f", F.round(x, 6))),
        ).alias("iat"),
    ).orderBy("user_id")


SQL_IAT_ARRAYS = """
WITH g AS (
  SELECT user_id, ts, event_id,
         round(epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id), 6) AS gap
  FROM events
), s AS (
  SELECT user_id,
         array_agg(gap ORDER BY ts, event_id) FILTER (WHERE gap IS NOT NULL) AS iat
  FROM g GROUP BY user_id
)
SELECT user_id,
       array_to_string(list_transform(COALESCE(iat, []), x -> printf('%.6f', x)), ',') AS iat
FROM s ORDER BY user_id
"""


def q_pad_truncate(spark, sf_dir):
    """Fixed-dimension pad/truncate (parser.py:818) of per-user value series."""
    from netml_spark.operators import kernels
    from netml_spark.operators.sequences import events_to_sequences

    seqs = events_to_sequences(
        _events(spark, sf_dir), ("user_id",), "ts", "event_id", ("event_id",),
        carry_cols=(),
    )
    # tokens here = event_id series (ints -> no float drift); serialized to a
    # comma-joined string for the driver canonicalizer (lists are unsortable)
    return seqs.select(
        "user_id",
        F.concat_ws(
            ",",
            F.transform(kernels.pad_truncate(F.transform("tokens", lambda x: x.cast("double")), 8),
                        lambda x: x.cast("long").cast("string")),
        ).alias("padded"),
    ).orderBy("user_id")


SQL_PAD_TRUNCATE = """
WITH s AS (
  SELECT user_id, array_agg(event_id ORDER BY ts, event_id) AS toks
  FROM events GROUP BY user_id
)
SELECT user_id,
       array_to_string([CASE WHEN i <= len(toks) THEN toks[i] ELSE 0 END FOR i IN range(1, 9)], ',') AS padded
FROM s ORDER BY user_id
"""


def q_sequences_build(spark, sf_dir):
    """events -> input_hint sequence shape (doc_id, tokens, n_tok) (§1.1)."""
    from netml_spark.operators.sequences import events_to_sequences

    seqs = events_to_sequences(
        _events(spark, sf_dir), ("user_id",), "ts", "event_id", ("event_id",),
        carry_cols=(),
    )
    return seqs.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string"))).alias("tokens"),
        "n_tok",
    ).orderBy("doc_id")


SQL_SEQUENCES_BUILD = """
SELECT CAST(user_id AS VARCHAR) AS doc_id,
       array_to_string(array_agg(CAST(event_id AS INT) ORDER BY ts, event_id), ',') AS tokens,
       CAST(COUNT(*) AS INT) AS n_tok
FROM events GROUP BY user_id ORDER BY doc_id
"""


def q_bounded_seqbuild(spark, sf_dir):
    """Skew-aware ordered collect (skew.py bounded_sequence_build): two
    stages on (entity, time-bucket) then an order-preserving flatten —
    EXACTLY equal to events_to_sequences (disjoint buckets, monotone
    floor, ties share a bucket), so it shares the unbounded build's
    oracle. The hot entity's history never sorts in one task."""
    from netml_spark.operators.skew import bounded_sequence_build

    seqs = bounded_sequence_build(
        _events(spark, sf_dir), ("user_id",), "ts", "event_id",
        bucket_width=3600.0, order_cols=("event_id",),
    )
    return seqs.select(
        F.col("user_id").cast("string").alias("doc_id"),
        F.concat_ws(",", F.transform("tokens", lambda x: x.cast("string"))).alias("tokens"),
        "n_tok",
    ).orderBy("doc_id")


def q_samp_clean(spark, sf_dir):
    """Clean-grid SAMP_NUM (engine variant of parser.py:472-559): per user,
    count events in floor((ts-ts0)/rate) buckets, rate=3600 s."""
    df = _events(spark, sf_dir)
    from netml_spark.util import ts_seconds

    tsd = ts_seconds(df, "ts")
    w = Window.partitionBy("user_id")
    out = (
        df.withColumn("_t0", F.min(tsd).over(w))
        .withColumn("bucket", F.floor((tsd - F.col("_t0")) / 3600).cast("long"))
        .groupBy("user_id", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("user_id", "bucket")
    )
    return out


SQL_SAMP_CLEAN = """
WITH b AS (
  SELECT user_id,
         CAST(floor((epoch(ts) - min(epoch(ts)) OVER (PARTITION BY user_id)) / 3600) AS BIGINT) AS bucket
  FROM events
)
SELECT user_id, bucket, COUNT(*) AS n
FROM b GROUP BY user_id, bucket ORDER BY user_id, bucket
"""


def q_union_multi_source(spark, sf_dir):
    """unionByName multi-source concat (cli.py:475-480 twin, §2.1)."""
    e = _events(spark, sf_dir)
    u = e.unionByName(e.withColumn("event_id", F.col("event_id") + 1_000_000))
    return u.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).orderBy("event_type")


SQL_UNION_MULTI_SOURCE = """
WITH u AS (
  SELECT event_type FROM events
  UNION ALL
  SELECT event_type FROM events
)
SELECT event_type, COUNT(*) AS n FROM u GROUP BY event_type ORDER BY event_type
"""


def q_top_orders(spark, sf_dir):
    """Join pipeline with broadcast dims (label-join analogue §2.4):
    revenue per order for BUILDING-segment customers, top 10."""
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    l = _lineitem(spark, sf_dir)
    d = lambda col: F.col(col).cast("decimal(18,2)")  # noqa: E731
    one = F.lit(1).cast("decimal(18,2)")
    rev = (
        l.join(F.broadcast(o), l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey")
        .agg(F.sum(d("l_extendedprice") * (one - d("l_discount"))).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )
    return rev


SQL_TOP_ORDERS = """
SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
GROUP BY l_orderkey
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# Training-data ops over `documents` / `embeddings`
# ---------------------------------------------------------------------------


def q_dedup_exact(spark, sf_dir):
    """Exact dedup by content digest (md5), min-id winner."""
    from netml_spark.operators.dedup import exact_dedup

    return exact_dedup(_documents(spark, sf_dir)).orderBy("digest")


SQL_DEDUP_EXACT = """
SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS digest,
       MIN(doc_id) AS winner_id,
       COUNT(*) AS n_dups
FROM documents GROUP BY 1 ORDER BY digest
"""


def q_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard pairs >= 0.2 via shingle join."""
    from netml_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(
        _documents(spark, sf_dir), threshold=0.2, n=3
    ).orderBy("id_a", "id_b")


SQL_NGRAM_JACCARD = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws
  FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, greatest(len(ws)-2, 0) + 1)]) AS shingles
  FROM w
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS inter, ANY_VALUE(a.n_sh) AS na, ANY_VALUE(b.n_sh) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       ROUND(inter / (na + nb - inter), 6) AS jaccard
FROM pairs WHERE inter / (na + nb - inter) >= 0.2
ORDER BY id_a, id_b
"""


def q_text_quality(spark, sf_dir):
    """Quality-signal columns over documents."""
    from netml_spark.operators.text import text_quality

    return text_quality(_documents(spark, sf_dir)).select(
        "doc_id", "q_n_chars", "q_n_words", "q_mean_word_len",
        "q_punct_ratio", "q_stopword_ratio", "q_digit_ratio",
    ).orderBy("doc_id")


SQL_TEXT_QUALITY = """
WITH base AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(string_split_regex(lower(trim(text)), '\s+')) AS n_words,
         length(text) - length(regexp_replace(text, '[^\w\s]', '', 'g')) AS n_punct,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS n_digit,
         len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
             w -> list_contains(['the','and','of','to','a','in','is','that','it','for','on','with','as','was','at','by','an','be','this','are'], w))) AS stop_hits
  FROM documents
)
SELECT doc_id,
       n_chars AS q_n_chars,
       n_words AS q_n_words,
       ROUND(n_chars / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS q_mean_word_len,
       ROUND(n_punct / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS q_punct_ratio,
       ROUND(stop_hits / CAST(greatest(n_words, 1) AS DOUBLE), 6) AS q_stopword_ratio,
       ROUND(n_digit / CAST(greatest(n_chars, 1) AS DOUBLE), 6) AS q_digit_ratio
FROM base ORDER BY doc_id
"""


def q_token_counts(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts."""
    from netml_spark.operators.text import token_counts

    return token_counts(_documents(spark, sf_dir)).select(
        "doc_id", "tok_ws", "tok_bpe"
    ).orderBy("doc_id")


SQL_TOKEN_COUNTS = """
SELECT doc_id,
       len(string_split_regex(trim(text), '\s+')) AS tok_ws,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS tok_bpe
FROM documents ORDER BY doc_id
"""


def q_fingerprint(spark, sf_dir):
    """Portable polynomial document fingerprint (rolling hash)."""
    from netml_spark.operators.text import fingerprint

    return fingerprint(_documents(spark, sf_dir)).select("doc_id", "fp").orderBy("doc_id")


SQL_FINGERPRINT = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents
), wh AS (
  SELECT doc_id,
         [list_reduce(list_prepend(CAST(0 AS BIGINT), [CAST(unicode(c) AS BIGINT) FOR c IN string_split(wd, '')]),
                      (acc, ch) -> (acc * 131 + ch) % 9007199254740881) FOR wd IN ws] AS whs
  FROM w
)
SELECT doc_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT), whs),
                   (acc, h) -> (acc * 31 + h) % 9007199254740881) AS fp
FROM wh ORDER BY doc_id
"""


def q_knn_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for the first 10 vectors."""
    from netml_spark.operators.similarity import brute_force_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    out = brute_force_topk(emb, queries, k=5, query_id_col="query_id")
    # rank by rounded cosine (stable across engines), tie-break vec_id
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        out.withColumn("rank", F.row_number().over(w))
        .select("query_id", "vec_id", "cosine", "rank")
        .orderBy("query_id", "rank")
    )


SQL_KNN_TOPK = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), scored AS (
  SELECT q.query_id, e.vec_id,
         ROUND(
           list_reduce(list_prepend(CAST(0 AS DOUBLE), [CAST(qv[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE) FOR i IN range(1, len(qv)+1)]), (a,b) -> a+b)
           / ( sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), [CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN qv]), (a,b) -> a+b))
             * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE), [CAST(x AS DOUBLE)*CAST(x AS DOUBLE) FOR x IN e.embedding]), (a,b) -> a+b)) )
         , 6) AS cosine
  FROM embeddings e CROSS JOIN q
), ranked AS (
  SELECT query_id, vec_id, cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_lang_id(spark, sf_dir):
    """Stopword-marker language ID over documents."""
    from netml_spark.operators.text import lang_id

    return lang_id(_documents(spark, sf_dir)).select("doc_id", "lang_pred").orderBy("doc_id")


def _sql_lang_id():
    from netml_spark.operators.text import LANG_MARKERS

    score_cols = []
    for lg, mk in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in mk)
        score_cols.append(
            f"len(list_filter(ws, w -> list_contains([{lst}], w))) AS s_{lg}"
        )
    langs = list(LANG_MARKERS)
    best = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case = "CASE WHEN " + " <= 0 THEN 'und' ".join([best]) 
    whens = [f"WHEN {best} <= 0 THEN 'und'"]
    for lg in langs:
        whens.append(f"WHEN s_{lg} = {best} THEN '{lg}'")
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS ws FROM documents
), s AS (
  SELECT doc_id, {', '.join(score_cols)} FROM w
)
SELECT doc_id, CASE {' '.join(whens)} END AS lang_pred
FROM s ORDER BY doc_id
"""


# LSH/ANN queries — every hash is the portable P31 polynomial family, so
# the DuckDB oracle reproduces signatures, buckets, and pairs EXACTLY
# (builders below generate the SQL from the same seeded parameters).
def q_minhash_pairs(spark, sf_dir):
    from netml_spark.operators.dedup import minhash_lsh_pairs, minhash_signatures

    sigs = minhash_signatures(_documents(spark, sf_dir), n_hashes=64)
    return minhash_lsh_pairs(
        sigs, n_hashes=64, bands=16, threshold=0.5
    ).orderBy("id_a", "id_b")


def q_simhash_pairs(spark, sf_dir):
    from netml_spark.operators.dedup import simhash_pairs, simhash_signatures

    sigs = simhash_signatures(_documents(spark, sf_dir))
    return simhash_pairs(sigs, max_hamming=3).orderBy("id_a", "id_b")


def q_embedding_neardup(spark, sf_dir):
    from netml_spark.operators.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(
        _embeddings(spark, sf_dir), threshold=0.45, n_planes=4, n_tables=8,
        dim=64,
    ).orderBy("id_a", "id_b")


def q_ivf_ann(spark, sf_dir):
    from netml_spark.operators.similarity import ivf_topk

    emb = _embeddings(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10).withColumnRenamed("vec_id", "query_id")
    return ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3, dim=64,
                    query_id_col="query_id").orderBy("query_id", "rank")


_P31 = 2147483647


def _sql_poly(expr: str, mult: int) -> str:
    """DuckDB twin of dedup.poly_hash: char-code polynomial mod P31."""
    return ("list_reduce(list_prepend(CAST(0 AS BIGINT), "
            f"[CAST(unicode(c) AS BIGINT) FOR c IN string_split({expr}, '')]), "
            f"(acc, ch) -> (acc * {mult} + ch) % {_P31})")


_SQL_SHINGLES = """
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(ws)-2, 0) + 1)]) AS shingles
  FROM w
)"""


def _sql_minhash_pairs() -> str:
    """Brute-force DuckDB twin of minhash_signatures + minhash_lsh_pairs:
    same shingles, same affine permutations, same band hashes — a pair is
    emitted iff >=1 band hash matches AND est_jaccard >= 0.5."""
    from netml_spark.operators.dedup import minhash_params

    a, b = minhash_params(64, 42)
    sig_elems = ", ".join(
        f"list_min([({int(ai)} * x + {int(bi)}) % {_P31} FOR x IN xs])"
        for ai, bi in zip(a, b)
    )
    sentinel = ", ".join([str(_P31)] * 64)
    return f"""{_SQL_SHINGLES}, hx AS (
  SELECT doc_id, [{_sql_poly('s', 131)} FOR s IN shingles] AS xs FROM sh
), sig AS (
  SELECT doc_id,
         CASE WHEN len(xs) = 0 THEN [{sentinel}] ELSE [{sig_elems}] END AS sig
  FROM hx
), banded AS (
  SELECT doc_id, sig,
         [list_reduce(list_prepend(CAST(0 AS BIGINT), list_slice(sig, i*4+1, i*4+4)),
                      (acc, x) -> (acc * 131 + x) % {_P31})
          FOR i IN range(0, 16)] AS bh
  FROM sig
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         len([1 FOR i IN range(1, 65) IF a.sig[i] = b.sig[i]]) / 64.0 AS est
  FROM banded a JOIN banded b
    ON a.doc_id < b.doc_id
   AND len([1 FOR i IN range(1, 17) IF a.bh[i] = b.bh[i]]) > 0
)
SELECT id_a, id_b, ROUND(est, 6) AS est_jaccard
FROM pairs WHERE est >= 0.5
ORDER BY id_a, id_b
"""


def _sql_simhash_pairs() -> str:
    """Brute-force DuckDB twin of simhash_signatures + simhash_pairs.
    Bit-band bucketing with 4 bands is pigeonhole-EXACT for hamming <= 3,
    so the engine's LSH output equals the brute-force hamming filter."""
    return f"""
WITH w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
), wh AS (
  SELECT doc_id,
         [{_sql_poly('wd', 131)} + {_sql_poly('wd', 137)} * 2147483648 FOR wd IN ws] AS whs
  FROM w
), sig AS (
  SELECT doc_id,
         CASE WHEN len(whs) = 0 THEN CAST(0 AS BIGINT) ELSE
           list_reduce(list_prepend(CAST(0 AS BIGINT),
             [CASE WHEN 2 * len([1 FOR h IN whs IF ((h >> b) & 1) = 1]) > len(whs)
                   THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END
              FOR b IN range(0, 62)]),
             (acc, x) -> acc + x) END AS simhash
  FROM wh
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sig a JOIN sig b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
"""


def _sql_dot(vexpr: str, coefs) -> str:
    """Left-fold dot product against literal coefficients — identical
    float-addition order to dedup.dot_literal's aggregate fold."""
    terms = " + ".join(f"{vexpr}[{i + 1}] * {float(c)!r}" for i, c in enumerate(coefs))
    return f"(0.0 + {terms})"


_SQL_COS = """(
  list_reduce(list_prepend(CAST(0 AS DOUBLE),
    [CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE) FOR i IN range(1, len({a})+1)]),
    (x, y) -> x + y)
  / ( sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN {a}]), (x, y) -> x + y))
    * sqrt(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        [CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN {b}]), (x, y) -> x + y)) )
)"""


def _sql_embedding_neardup() -> str:
    """DuckDB twin of embedding_neardup_pairs (n_planes=4, n_tables=8,
    dim=64, seed=42): identical literal hyperplanes, identical fold-order
    sign tests, identical cosine verify."""
    from netml_spark.operators.dedup import hyperplanes

    planes = hyperplanes(8, 4, 64, 42)

    def bucket(t: int) -> str:
        parts = [
            f"CASE WHEN {_sql_dot('embedding', planes[t][p])} > 0 THEN {1 << p} ELSE 0 END"
            for p in range(4)
        ]
        return "(" + " + ".join(parts) + ")"

    arms = "\n  UNION ALL ".join(
        f"SELECT vec_id, embedding AS v, {t} AS tbl, {bucket(t)} AS bucket FROM embeddings"
        for t in range(8)
    )
    cos = _SQL_COS.format(a="va", b="vb")
    return f"""
WITH b AS (
  {arms}
), cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b2.vec_id AS id_b, a.v AS va, b2.v AS vb
  FROM b a JOIN b b2
    ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
)
SELECT id_a, id_b, ROUND({cos}, 6) AS cosine
FROM cand WHERE {cos} >= 0.45
ORDER BY id_a, id_b
"""


def _sql_ivf_ann() -> str:
    """DuckDB twin of ivf_topk with the seeded random unit centroids
    (n_cells=8, n_probe=3, dim=64, k=5): identical literal centroids,
    fold-order dots, first-max cell assignment, (dot desc, cell) probe
    order, (cosine desc, vec_id) re-rank."""
    from netml_spark.operators.similarity import ivf_random_centroids

    C = ivf_random_centroids(8, 64, 42)
    dots = "[" + ", ".join(_sql_dot("embedding", c) for c in C) + "]"
    qarms = "\n  UNION ALL ".join(
        f"SELECT query_id, qv, {j} AS cell, {_sql_dot('qv', C[j])} AS d FROM q"
        for j in range(8)
    )
    cos = _SQL_COS.format(a="qv", b="embedding")
    return f"""
WITH c AS (
  SELECT vec_id, embedding,
         CAST(list_position({dots}, list_aggregate({dots}, 'max')) - 1 AS INT) AS cell
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 10
), qd AS (
  {qarms}
), qp AS (
  SELECT query_id, qv, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d DESC, cell) AS rn
    FROM qd
  ) WHERE rn <= 3
), scored AS (
  SELECT qp.query_id, c.vec_id, {cos} AS rawcos
  FROM c JOIN qp ON c.cell = qp.cell
), ranked AS (
  SELECT query_id, vec_id, ROUND(rawcos, 6) AS cosine,
         row_number() OVER (PARTITION BY query_id ORDER BY rawcos DESC, vec_id) AS rank
  FROM scored
)
SELECT query_id, vec_id, cosine, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def _sql_netml_subflows() -> str:
    """DuckDB twin of sessionize_timeout + subflows_interval (interval
    300 s). The grid re-split is a per-row sequential recurrence
    (parser.py:209-299: anchor += floor((t - anchor)/interval)*interval on
    each split, gap tested against the grid-anchored synthetic time) —
    expressed as a RECURSIVE CTE stepping one row per iteration with the
    same double arithmetic as the numpy loop."""
    return """
WITH RECURSIVE pre AS (
  SELECT user_id, ts, event_id, COUNT(*) OVER (PARTITION BY user_id) AS n_entity
  FROM events
), g AS (
  SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) > 600
                 THEN 1 ELSE 0 END AS brk
  FROM pre WHERE n_entity >= 2
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
), t AS (
  SELECT *, MAX(session_id) OVER (PARTITION BY user_id) AS max_sid FROM s
), kept AS (
  SELECT * FROM t WHERE max_sid = 0 OR session_id < max_sid
), sized AS (
  SELECT *, COUNT(*) OVER (PARTITION BY user_id, session_id) AS n_seg FROM kept
), rows_ AS (
  SELECT user_id, session_id, epoch(ts) AS t,
         row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS rn
  FROM sized WHERE n_seg >= 2
), r AS (
  SELECT user_id, session_id, rn, t AS start, t AS rec, 0 AS cur
  FROM rows_ WHERE rn = 1
  UNION ALL
  SELECT x.user_id, x.session_id, x.rn,
         CASE WHEN x.t - r.rec > 300.0
              THEN r.start + floor((x.t - r.start) / 300.0) * 300.0
              ELSE r.start END,
         CASE WHEN x.t - r.rec > 300.0
              THEN r.start + floor((x.t - r.start) / 300.0) * 300.0
              ELSE x.t END,
         CASE WHEN x.t - r.rec > 300.0 THEN r.cur + 1 ELSE r.cur END
  FROM r JOIN rows_ x
    ON x.user_id = r.user_id AND x.session_id = r.session_id AND x.rn = r.rn + 1
), m AS (
  SELECT user_id, session_id, MAX(cur) AS maxc FROM r GROUP BY 1, 2
), kept2 AS (
  SELECT r.user_id, r.session_id, r.cur
  FROM r JOIN m ON r.user_id = m.user_id AND r.session_id = m.session_id
  WHERE m.maxc = 0 OR r.cur < m.maxc
)
SELECT user_id, CAST(session_id AS INT) AS session_id,
       CAST(cur AS INT) AS subflow_id, COUNT(*) AS n_events
FROM kept2
GROUP BY user_id, session_id, cur
HAVING COUNT(*) >= 2
ORDER BY user_id, session_id, subflow_id
"""


def _sql_dedup_clusters() -> str:
    """DuckDB twin of dedup_clusters over the jaccard>=0.2 pair graph:
    cluster_id = min reachable id (transitive closure by recursive CTE;
    the engine's min-label propagation converges to the same fixpoint)."""
    return f"""
WITH RECURSIVE w AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS ws FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct([array_to_string(ws[i:i+2], ' ')
                        FOR i IN range(1, greatest(len(ws)-2, 0) + 1)]) AS shingles
  FROM w
), ex AS (
  SELECT doc_id, len(shingles) AS n_sh, unnest(shingles) AS shingle FROM sh
), jp AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS inter, ANY_VALUE(a.n_sh) AS na, ANY_VALUE(b.n_sh) AS nb
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT id_a, id_b FROM jp WHERE inter / (na + nb - inter) >= 0.2
), edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION SELECT id_b, id_a FROM pairs
  UNION SELECT id_a, id_a FROM pairs
  UNION SELECT id_b, id_b FROM pairs
), reach AS (
  SELECT src AS id, dst AS r FROM edges
  UNION
  SELECT reach.id, edges.dst FROM reach JOIN edges ON reach.r = edges.src
)
SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id ORDER BY id
"""


def q_netml_subflows(spark, sf_dir):
    """Grid-aligned interval re-split (parser.py:209-299). The sequential
    anchor recurrence is oracled by a recursive CTE stepping one row per
    iteration (see _sql_netml_subflows)."""
    from netml_spark.operators import sessionize_timeout, subflows_interval

    sess = sessionize_timeout(
        _events(spark, sf_dir), ("user_id",), "ts", 600.0, 2, ("event_id",),
        defer_seg_filter=True,
    )
    # defer: the subflow min-size filter subsumes the deferred session-size
    # filter (exact — the DuckDB recursive-CTE oracle pins it). The
    # subflows window decides the exchange: sess is already hash-partitioned
    # by user_id, which meets its distribution, so the whole chain runs on
    # ONE exchange.
    subs = subflows_interval(sess, 300.0, ("user_id", "session_id"), "ts", 2,
                             ("event_id",))
    return (
        subs.groupBy("user_id", "session_id", "subflow_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id", "subflow_id")
    )


# ---------------------------------------------------------------------------
# Contract surface
# ---------------------------------------------------------------------------


def q_salted_agg(spark, sf_dir):
    """Two-stage salted aggregation for heavy-hitter keys (SURVEY.md §4.2)
    — result identical to a plain groupBy."""
    from netml_spark.operators.skew import salted_agg

    # opt into the exact DECIMAL(18,2) accumulator: the events.value column
    # is 2-decimal by construction, and decimal partials are associative, so
    # the two-stage sum is bit-identical to DuckDB's one-pass decimal SUM
    # (the engine default is now full-precision double — ADVICE r2 fix)
    out = salted_agg(_events(spark, sf_dir), ("user_id",), "value", n_salts=16,
                     sum_type="decimal(18,2)")
    return out.select(
        "user_id", "count_value",
        F.round("sum_value", 4).alias("sum_value"),
        F.round("mean_value", 6).alias("mean_value"),
        "min_value", "max_value",
    ).orderBy("user_id")


SQL_SALTED_AGG = """
SELECT user_id,
       COUNT(*) AS count_value,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 4) AS sum_value,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS mean_value,
       MIN(CAST(value AS DOUBLE)) AS min_value,
       MAX(CAST(value AS DOUBLE)) AS max_value
FROM events GROUP BY user_id ORDER BY user_id
"""


def q_stream_session_stats(spark, sf_dir):
    """session_window streaming twin evaluated in batch mode (§2.10) —
    equivalent to clean cumsum sessionization."""
    from netml_spark.streaming.session_stream import streaming_session_stats

    out = streaming_session_stats(
        _events(spark, sf_dir), ("user_id",), "ts", "value", gap="600 seconds"
    )
    return out.select(
        "user_id",
        F.round(F.col("session_start").cast("timestamp").cast("double"), 6).alias("session_start"),
        "num_pkts",
        F.round("num_bytes", 4).alias("num_bytes"),
        F.round("duration", 6).alias("duration"),
    ).orderBy("user_id", "session_start")


SQL_STREAM_SESSION_STATS = """
WITH g AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) >= 600
              THEN 1 ELSE 0 END AS brk
  FROM events
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id,
       ROUND(MIN(epoch(ts)), 6) AS session_start,
       CAST(COUNT(*) AS DOUBLE) AS num_pkts,
       ROUND(SUM(CAST(value AS DOUBLE)), 4) AS num_bytes,
       ROUND(MAX(epoch(ts)) - MIN(epoch(ts)), 6) AS duration
FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
"""


def q_bounded_sessionize(spark, sf_dir):
    """Chunked sessionization for oversized entities (skew path):
    bucket-local cumsum sessions."""
    from netml_spark.operators.skew import bounded_sessionize

    out = bounded_sessionize(
        _events(spark, sf_dir), ("user_id",), "ts", 600.0, 86_400.0, ("event_id",)
    )
    return (
        out.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id")
    )


SQL_BOUNDED_SESSIONIZE = """
WITH b AS (
  SELECT user_id, ts, event_id,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS bucket
  FROM events
), g AS (
  SELECT *, CASE WHEN epoch(ts) - lag(epoch(ts)) OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id) > 600
                 THEN 1 ELSE 0 END AS brk
  FROM b
), s AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id, bucket ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
  FROM g
)
SELECT user_id, bucket || '_' || sid AS session_id, COUNT(*) AS n_events
FROM s GROUP BY user_id, bucket, sid ORDER BY user_id, session_id
"""


def q_label_join(spark, sf_dir):
    """CICIDS-style label join (parser.py:858-924): last-wins dedupe,
    BENIGN/NORMAL -> 0, inner semantics. Label rows synthesized
    deterministically from doc ids."""
    from netml_spark.operators.labels import label_join

    docs = _documents(spark, sf_dir).select("doc_id")
    base = docs.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit("BENIGN"))
        .when(F.col("doc_id") % 7 == 0, F.lit("Bot"))
        .otherwise(F.lit("normal")).alias("label_raw"),
        F.lit(0).alias("src_order"),
    )
    dups = docs.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.lit("DDoS").alias("label_raw"), F.lit(1).alias("src_order")
    )
    labels = base.unionByName(dups)
    out = label_join(docs, labels, ("doc_id",), order_col="src_order")
    return out.select("doc_id", "label").orderBy("doc_id")


SQL_LABEL_JOIN = """
WITH labels AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'BENIGN'
              WHEN doc_id % 7 = 0 THEN 'Bot' ELSE 'normal' END AS label_raw,
         0 AS src_order
  FROM documents WHERE doc_id % 2 = 0
  UNION ALL
  SELECT doc_id, 'DDoS', 1 FROM documents WHERE doc_id % 10 = 0
), dedup AS (
  SELECT doc_id, label_raw,
         row_number() OVER (PARTITION BY doc_id ORDER BY src_order DESC) AS rn
  FROM labels
), final AS (
  SELECT doc_id,
         CASE WHEN upper(trim(label_raw)) IN ('BENIGN','NORMAL') THEN 0 ELSE 1 END AS label
  FROM dedup WHERE rn = 1
)
SELECT d.doc_id, CAST(f.label AS INT) AS label
FROM documents d JOIN final f ON d.doc_id = f.doc_id
ORDER BY d.doc_id
"""


def q_dedup_clusters(spark, sf_dir):
    """Connected-component cluster ids over jaccard-similar pairs
    (min-label propagation run to its fixpoint)."""
    from netml_spark.operators.dedup import dedup_clusters, ngram_jaccard_pairs

    pairs = ngram_jaccard_pairs(_documents(spark, sf_dir), threshold=0.2, n=3)
    return dedup_clusters(pairs).orderBy("id")


def q_ip_mac_scalars(spark, sf_dir):
    """§2.8 scalar fns: IPv4/MAC string -> int (parser.py:1062-1072) —
    strings synthesized deterministically from event ids, identical in the
    SQL oracle, then converted with the engine's native expressions."""
    from netml_spark.operators.scalars import ip_to_int, mac_to_int

    e = F.col("event_id")
    ip = F.concat_ws(".", (e % 224).cast("string"), ((e * 7) % 256).cast("string"),
                     ((e * 13) % 256).cast("string"), ((e * 29) % 256).cast("string"))
    mac = F.lower(F.concat_ws(":", F.lpad(F.hex(e % 256), 2, "0"),
                              F.lpad(F.hex((e * 3) % 256), 2, "0"),
                              F.lpad(F.hex((e * 5) % 256), 2, "0"),
                              F.lpad(F.hex((e * 7) % 256), 2, "0"),
                              F.lpad(F.hex((e * 11) % 256), 2, "0"),
                              F.lpad(F.hex((e * 13) % 256), 2, "0")))
    df = _events(spark, sf_dir).select("event_id", ip.alias("ip"), mac.alias("mac"))
    return df.select(
        "event_id",
        ip_to_int("ip").alias("ip_int"),
        mac_to_int("mac").alias("mac_int"),
    ).orderBy("event_id")


SQL_IP_MAC_SCALARS = """
WITH syn AS (
  SELECT event_id,
         (event_id % 224) || '.' || ((event_id*7) % 256) || '.' ||
         ((event_id*13) % 256) || '.' || ((event_id*29) % 256) AS ip,
         ((event_id % 256) * 1099511627776 + ((event_id*3) % 256) * 4294967296 +
          ((event_id*5) % 256) * 16777216 + ((event_id*7) % 256) * 65536 +
          ((event_id*11) % 256) * 256 + ((event_id*13) % 256)) AS mac_int_direct
  FROM events
)
SELECT event_id,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                   [CAST(x AS BIGINT) FOR x IN string_split(ip, '.')]),
                   (acc, o) -> acc * 256 + o) AS ip_int,
       mac_int_direct AS mac_int
FROM syn ORDER BY event_id
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: reference-faithful sessionize + STATS features at sf0.001."""
    return q_session_stats(spark, SF_DEFAULT)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "sessionize_count": q_sessionize_count,
        "netml_sessionize": q_netml_sessionize,
        "session_stats": q_session_stats,
        "gap_lag_lead": q_gap_lag_lead,
        "backfill": q_backfill,
        "asof_join": q_asof_join,
        "sliding_window": q_sliding_window,
        "json_props": q_json_props,
        "pricing_summary": q_pricing_summary,
        "iat_arrays": q_iat_arrays,
        "pad_truncate": q_pad_truncate,
        "sequences_build": q_sequences_build,
        "bounded_seqbuild": q_bounded_seqbuild,
        "samp_clean": q_samp_clean,
        "union_multi_source": q_union_multi_source,
        "top_orders": q_top_orders,
        "dedup_exact": q_dedup_exact,
        "ngram_jaccard": q_ngram_jaccard,
        "text_quality": q_text_quality,
        "token_counts": q_token_counts,
        "fingerprint": q_fingerprint,
        "lang_id": q_lang_id,
        "knn_topk": q_knn_topk,
        "minhash_pairs": q_minhash_pairs,
        "simhash_pairs": q_simhash_pairs,
        "embedding_neardup": q_embedding_neardup,
        "ivf_ann": q_ivf_ann,
        "netml_subflows": q_netml_subflows,
        "salted_agg": q_salted_agg,
        "stream_session_stats": q_stream_session_stats,
        "bounded_sessionize": q_bounded_sessionize,
        "label_join": q_label_join,
        "dedup_clusters": q_dedup_clusters,
        "ip_mac_scalars": q_ip_mac_scalars,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "sessionize_count": SQL_SESSIONIZE_COUNT,
        "netml_sessionize": SQL_NETML_SESSIONIZE,
        "session_stats": SQL_SESSION_STATS,
        "gap_lag_lead": SQL_GAP_LAG_LEAD,
        "backfill": SQL_BACKFILL,
        "asof_join": SQL_ASOF_JOIN,
        "sliding_window": SQL_SLIDING_WINDOW,
        "json_props": SQL_JSON_PROPS,
        "pricing_summary": SQL_PRICING_SUMMARY,
        "iat_arrays": SQL_IAT_ARRAYS,
        "pad_truncate": SQL_PAD_TRUNCATE,
        "sequences_build": SQL_SEQUENCES_BUILD,
        "bounded_seqbuild": SQL_SEQUENCES_BUILD,
        "samp_clean": SQL_SAMP_CLEAN,
        "union_multi_source": SQL_UNION_MULTI_SOURCE,
        "top_orders": SQL_TOP_ORDERS,
        "dedup_exact": SQL_DEDUP_EXACT,
        "ngram_jaccard": SQL_NGRAM_JACCARD,
        "text_quality": SQL_TEXT_QUALITY,
        "token_counts": SQL_TOKEN_COUNTS,
        "fingerprint": SQL_FINGERPRINT,
        "lang_id": _sql_lang_id(),
        "knn_topk": SQL_KNN_TOPK,
        "salted_agg": SQL_SALTED_AGG,
        "stream_session_stats": SQL_STREAM_SESSION_STATS,
        "bounded_sessionize": SQL_BOUNDED_SESSIONIZE,
        "label_join": SQL_LABEL_JOIN,
        "ip_mac_scalars": SQL_IP_MAC_SCALARS,
        "minhash_pairs": _sql_minhash_pairs(),
        "simhash_pairs": _sql_simhash_pairs(),
        "embedding_neardup": _sql_embedding_neardup(),
        "ivf_ann": _sql_ivf_ann(),
        "dedup_clusters": _sql_dedup_clusters(),
        "netml_subflows": _sql_netml_subflows(),
    }
