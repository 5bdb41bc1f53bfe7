"""FeaturePlan — the engine's query surface, replicating the reference's
``pcap2flows -> flows2subflows -> flow2features`` lifecycle
(parser.py:691-834) as one declarative DataFrame program.

Lifecycle (SURVEY.md §3):

  events --drop null/NaN ts and null tokens------- [one Filter]
         --sessionize_timeout--> sessions          [1 shuffle on entity]
         --events_to_sequences--> one row/session  [no shuffle; CACHED]
         --(interval<=0: duration quantile)------- [pass-1 agg -> scalar]
         --subflow_spans + explode + slice-------> one row per flow
                                                   [Arrow UDF over times;
                                                    CACHED]
         --(dim quantile)------------------------- [pass-2 agg -> scalar;
                                                    session cache released]
         --kernel dispatch + fft/pad + header----> features:array<double>
                                                   [Arrow UDFs over the cache]

The two quantiles are the only driver round-trips (a third job checks a
0); the chain plans one exchange, and only ``times`` crosses into Python
to split, once per session. Carry columns are ``first()`` per session:
one not constant per session gives all its flows one of the session's
values. Feature dims per type follow parser.py:787-812 (IAT: dim-1,
SIZE: dim, IAT_SIZE: 2*dim-1, STATS: 12, SAMP_*: dim-1 with rate =
duration-quantile at q=0.3).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from netml_spark.operators import kernels
from netml_spark.operators.quantile import (
    EmptyInputError, dim_from_counts, exact_quantile,
)
from netml_spark.operators.sequences import events_to_sequences
from netml_spark.operators.sessionize import sessionize_timeout, subflow_spans
from netml_spark.util import drop_null_ts

FEAT_TYPES = ("IAT", "SIZE", "IAT_SIZE", "STATS", "SAMP_NUM", "SAMP_SIZE")


def _duration():
    """A session's or flow's duration from its sorted ``times``."""
    return F.element_at("times", -1) - F.element_at("times", 1)


def _divisor(df: DataFrame, value: float, what: str) -> float:
    """A derived split interval or SAMP rate; ValueError if it is 0 and a
    row of ``df`` lasts > 0 s, where the reference divides by it."""
    if value == 0 and df.agg(F.max(_duration())).first()[0] > 0:
        raise ValueError(f"{what} is 0, and the reference would divide by it")
    return value


@dataclass
class FeaturePlan:
    """Declarative twin of PCAP(...).pcap2flows(...).flow2features(...)."""

    feat_type: str = "IAT"
    fft: bool = False
    header: bool = False
    q_interval: float = 0.9
    interval: float = 0.0  # <=0: derive from duration quantile (parser.py:729)
    timeout: float = 600.0  # tcp_timeout == udp_timeout default (parser.py:80)
    flow_pkts_thres: int = 2
    approx_quantiles: bool = False  # percentile_approx (extract_features --approx-quantiles)
    # filled by extract():
    dim: int | None = field(default=None, init=False)
    split_interval: float | None = field(default=None, init=False)
    sampling_rate: float | None = field(default=None, init=False)
    empty_input: bool = field(default=False, init=False)  # placeholders used
    # the LAST extract()'s caches: the flows, and the sessions if a barrier
    # raised first (r4 verdict item 5; a repeated extract() releases them)
    _caches: list = field(default_factory=list, init=False, repr=False)

    def release(self) -> None:
        """Unpersist every cache held from the last extract()."""
        for df in self._caches:
            df.unpersist()
        self._caches = []

    def extract(
        self,
        events: DataFrame,
        entity_cols: Sequence[str] = ("doc_id",),
        ts_col: str = "ts",
        token_col: str = "token",
        order_cols: Sequence[str] = ("seq",),
        carry_cols: Sequence[str] = ("source",),
        header_cols: tuple[str, str, str] = ("tcp_flags", "proto", "ttl"),
    ) -> DataFrame:
        base = self.feat_type.replace("FFT-", "")
        if base not in FEAT_TYPES:
            raise ValueError(f"feat_type {self.feat_type!r} not in {FEAT_TYPES}")
        entity_cols = list(entity_cols)
        # Empty input is a VALUE, not an exception (r3 verdict item 6): when
        # no rows survive the thresholds, placeholder scalars flow through,
        # the same plan evaluates to zero rows of the right schema, and
        # self.empty_input flags the placeholders in dim/split_interval.
        self.empty_input = False

        events = drop_null_ts(events, ts_col, token_col)

        # stage 1: timeout sessionize (parser.py:80-206), then one row per
        # session with its (ts, order..., token)-sorted series; the session
        # min-size filter is deferred to those rows (one Window pass fewer),
        # and the grouping rides sessionize's entity exchange.
        sess = sessionize_timeout(events, entity_cols, ts_col, self.timeout,
                                  self.flow_pkts_thres, order_cols, defer_seg_filter=True)
        sess_keys = entity_cols + ["session_id"]
        extra = list(header_cols) if self.header else []
        self.release()  # repeated extracts must not accumulate caches
        sessions = events_to_sequences(sess, sess_keys, ts_col, token_col, order_cols,
                                       carry_cols, extra_series=extra)
        sessions = sessions.filter(F.col("n_tok") >= self.flow_pkts_thres).cache()
        self._caches = [sessions]

        # stage 2: split interval (pass-1 quantile barrier, parser.py:726-729)
        if self.interval > 0:
            self.split_interval = float(self.interval)
        else:
            try:
                self.split_interval = exact_quantile(sessions, _duration(), self.q_interval,
                                                     approx=self.approx_quantiles)
            except EmptyInputError:  # placeholder, zero rows flow on
                self.empty_input = True
                self.split_interval = 1.0
            _divisor(sessions, self.split_interval, f"the split interval (the "
                     f"q_interval={self.q_interval} quantile of session durations)")

        # stage 3: grid-aligned interval re-split (parser.py:209-299) of each
        # session's times; each kept span explodes to a flow of native slices.
        series = ["times", "tokens"] + [f"{c}s" for c in extra]
        spans = subflow_spans(self.split_interval, self.flow_pkts_thres)("times")
        span = F.explode(spans).alias("_s")
        seqs = sessions.select(*sess_keys, *carry_cols, *series, span).select(
            *sess_keys, F.col("_s.sub").alias("subflow_id"),
            *[F.slice(c, F.col("_s.start"), F.col("_s.len")).alias(c) for c in series],
            F.col("_s.len").alias("n_tok"), *carry_cols,
        ).cache()
        self._caches.append(seqs)
        flow_keys = sess_keys + ["subflow_id"]

        # stage 4: dim (pass-2 quantile barrier, parser.py:783-785)
        try:
            dim = dim_from_counts(seqs, "n_tok", self.q_interval, approx=self.approx_quantiles)
        except EmptyInputError:
            # empty input surfaces here when interval>0 skipped stage 2; dim=2
            # keeps every slice/pad length positive (only the schema matters)
            self.empty_input = True
            dim = 2
        sessions.unpersist()  # the barrier materialized seqs
        self._caches = [seqs]

        # stage 5: kernel dispatch (parser.py:787-812)
        if base == "IAT":
            self.dim = dim - 1
            feats = seqs.withColumn("features", kernels.iat("times"))
        elif base == "SIZE":
            self.dim = dim
            feats = seqs.withColumn("features", kernels.sizes_double("tokens"))
        elif base == "IAT_SIZE":
            self.dim = 2 * dim - 1
            feats = seqs.withColumn("features", kernels.iat_size("times", "tokens"))
        elif base == "STATS":
            self.dim = 12
            feats = seqs.withColumn("features", kernels.stats("times", "tokens"))
        else:  # SAMP_NUM / SAMP_SIZE (rate = duration quantile q=0.3, :801-808)
            self.dim = dim - 1
            if self.empty_input:
                self.sampling_rate = 1.0
            else:
                self.sampling_rate = _divisor(
                    seqs, exact_quantile(seqs, _duration(), 0.3, approx=self.approx_quantiles),
                    "the SAMP sampling rate (the 0.3 quantile of flow durations)")
            feats = seqs.withColumn(
                "features", kernels.samp_udf(base, self.sampling_rate)("times", "tokens")
            )

        # stage 6: fft or pad/truncate (parser.py:814-818)
        if self.fft:
            feats = feats.withColumn("features", kernels.fft_udf(self.dim)("features"))
        else:
            feats = feats.withColumn("features", kernels.pad_truncate("features", self.dim))

        # stage 7: header concat (parser.py:820-829)
        if self.header:
            h_dim = 8 + self.dim
            fl, pr, tt = (f"{header_cols[0]}s", f"{header_cols[1]}s", f"{header_cols[2]}s")
            hcol = kernels.header(fl, pr, tt)
            if self.fft:
                feats = feats.withColumn("_h", kernels.fft_udf(h_dim)(hcol))
            else:
                feats = feats.withColumn("_h", kernels.pad_truncate(hcol, h_dim))
            feats = feats.withColumn("features", F.concat("_h", "features")).drop("_h")
            feats = feats.drop(fl, pr, tt)

        return feats.select(*flow_keys, *carry_cols, "n_tok", "tokens", "times", "features")
