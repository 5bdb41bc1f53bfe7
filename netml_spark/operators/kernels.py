"""Per-sequence feature kernels (reference parser.py:354-652).

Operate on array columns of the sequences shape (times:array<double>,
tokens:array<int>). Wherever semantics allow, the kernel is a *native array
expression* (JVM-side, whole-stage codegen, zero Python): IAT, SIZE,
IAT_SIZE, pad/truncate, header flag counts. The genuinely sequential or
numpy-only kernels (SAMP's dual 500-cap loop, FFT) are Arrow scalar UDFs:
each reads a batch's flat value buffer plus row lengths and returns one
ListArray, with no pandas conversion and no per-row Python on the fast path.

Each kernel cites the reference lines whose output it reproduces; parity is
pinned by tests vs the numpy oracle (netml_spark.oracle.netml_ref).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from netml_spark.oracle import netml_ref

# ---------------------------------------------------------------------------
# Native array-expression kernels
# ---------------------------------------------------------------------------


def iat(times: Column | str) -> Column:
    """Inter-arrival gaps: np.diff twin (parser.py:354-375). Native:
    zip_with of the array against its own tail — no shuffle, no Python."""
    t = F.col(times) if isinstance(times, str) else times
    n = F.size(t)
    return F.when(
        n >= 2,
        F.zip_with(
            F.slice(t, 2, n - 1), F.slice(t, 1, n - 1), lambda a, b: a - b
        ),
    ).otherwise(F.array().cast("array<double>"))


def sizes_double(tokens: Column | str) -> Column:
    """SIZE feature: the token/size series as array<double> (parser.py:378-398)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return F.transform(t, lambda x: x.cast("double"))


def iat_size(times: Column | str, tokens: Column | str) -> Column:
    """Interleave [iat_0, size_0, ..., iat_{n-2}, size_{n-2}, size_{n-1}]
    (parser.py:401-427; size_j pairs with iat_j, last size appended).
    Native: flatten(zip_with(iats, sizes[:n-1], (a,b)->array(a,b))) ++ [last]."""
    t = F.col(times) if isinstance(times, str) else times
    s = sizes_double(tokens)
    n = F.size(t)
    gaps = iat(t)
    pairs = F.flatten(
        F.zip_with(gaps, F.slice(s, 1, n - 1), lambda a, b: F.array(a, b))
    )
    return F.when(n >= 2, F.concat(pairs, F.slice(s, -1, 1))).otherwise(
        F.when(n == 1, F.slice(s, -1, 1)).otherwise(F.array().cast("array<double>"))
    )


def pad_truncate(v: Column | str, dim: int) -> Column:
    """v[:dim] else v ++ zeros (parser.py:818). Native slice+concat."""
    c = F.col(v) if isinstance(v, str) else v
    padded = F.concat(c, F.array_repeat(F.lit(0.0), int(dim)))
    return F.slice(padded, 1, int(dim))


TCP_FLAG_ORDER = "FSRPAUEC"


def header_flag_counts(flags_arr: Column | str, protos_arr: Column | str) -> Column:
    """8 TCP-flag counts over a per-sequence array of flag strings
    (parser.py:311-343): each char counted once per packet, only proto==6
    packets contribute. Native: per-flag aggregate over the zipped arrays."""
    fl = F.col(flags_arr) if isinstance(flags_arr, str) else flags_arr
    pr = F.col(protos_arr) if isinstance(protos_arr, str) else protos_arr
    zipped = F.zip_with(fl, pr, lambda f, p: F.struct(f.alias("f"), p.alias("p")))

    def count_flag(ch: str) -> Column:
        return F.aggregate(
            zipped,
            F.lit(0.0),
            lambda acc, x: acc
            + F.when((x["p"] == 6) & x["f"].contains(ch), 1.0).otherwise(0.0),
        )

    return F.array(*[count_flag(ch) for ch in TCP_FLAG_ORDER])


def header_features(flags_arr, protos_arr, ttls_arr) -> Column:
    """flag counts ++ per-packet TTLs (parser.py:300-349)."""
    ttl = F.col(ttls_arr) if isinstance(ttls_arr, str) else ttls_arr
    return F.concat(
        header_flag_counts(flags_arr, protos_arr),
        F.transform(ttl, lambda x: x.cast("double")),
    )


# ---------------------------------------------------------------------------
# Arrow-native UDF kernels (sequential or numpy-only semantics)
# ---------------------------------------------------------------------------


def _flat(arr: pa.ListArray):
    """(flat float64 values, int64 row lengths) of a possibly sliced
    ListArray; a null row has length 0 (``list_flatten`` skips it)."""
    vals = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(arr).fill_null(0).to_numpy(zero_copy_only=False)
    return vals.astype(np.float64, copy=False), lens.astype(np.int64)


def _lists(lens: np.ndarray, values: np.ndarray, null: pa.Array) -> pa.ListArray:
    """One array<double> ListArray from row lengths + concatenated values."""
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, pa.float64()),
                                    mask=null)


def _samp_batch(times: pa.ListArray, tokens: pa.ListArray, feat: str, rate: float):
    """SAMP over one Arrow batch (parser.py:472-559).

    When no 500-cap triggers, the reference loop emits exactly the grid
    buckets 0..K with k_i = floor((t_i - t_0)/rate) and a trailing bucket
    dropped iff its sum <= 0 — computable for ALL rows of the batch with
    ONE global np.bincount over offset bucket ids.

    A row is eligible only when the closed-form result is PROVABLY equal
    to the loop's (which accumulates ``current`` by repeated float adds):
      - no (t_i - t_0)/rate with q >= 0.5 lies within ``margin`` of an
        integer (grid-boundary packets are path-dependent in the loop,
        and accumulated-rounding drift could flip their comparisons)
      - total buckets K+1 <= 500 (whole-feature truncation never fires)
      - no consecutive-bucket gap > 501 (per-gap zero-fill cap never fires)
    Ineligible rows run the verbatim loop on slices of the flat buffers
    and are spliced in by offset. margin bounds ~1000 accumulated ulps,
    far above any drift. A null row in either input gives a null row."""
    null = pc.or_(times.is_null(), tokens.is_null())
    valid = ~null.to_numpy(zero_copy_only=False)
    if not valid.all():  # keep the two flat buffers row-aligned
        times, tokens = times.filter(pa.array(valid)), tokens.filter(pa.array(valid))
    t, lens = _flat(times)
    s, _ = _flat(tokens)
    n = len(lens)
    ends = np.cumsum(lens)
    starts = ends - lens
    row_id = np.repeat(np.arange(n), lens)
    q = (t - t[starts[row_id]]) / rate
    k = np.maximum(np.floor(q).astype(np.int64), 0)  # guard q=-0.0 edge

    margin = 4096.0 * np.spacing(np.abs(t).max(initial=0.0) + rate) / rate
    near_boundary = (q >= 0.5) & (np.abs(q - np.round(q)) <= margin)
    nz = lens > 0
    K = np.full(n, -1, dtype=np.int64)
    K[nz] = k[ends[nz] - 1]  # times sorted -> k nondecreasing per row
    # per-gap zero-fill cap fires iff bucket gap - 1 > 500 within a row
    wide = (np.diff(k) > 501) & (row_id[1:] == row_id[:-1])
    bad = (np.bincount(row_id, weights=near_boundary, minlength=n) > 0) | (K + 1 > 500)
    bad |= np.bincount(row_id[1:], weights=wide, minlength=n) > 0

    nb = np.where(bad, 0, K + 1)  # buckets per fast-path row
    boff = np.cumsum(nb) - nb
    good_flat = ~bad[row_id]
    gidx = (k + boff[row_id])[good_flat]
    w = None if feat == "SAMP_NUM" else s[good_flat]
    # bincount accumulates weights in input order, so the bucket sums are
    # float-identical to the loop's sequential samp_sub
    B = np.bincount(gidx, weights=w, minlength=int(nb.sum()))
    # trailing bucket emitted iff its sum > 0 (parser.py:549-550)
    tail = nb > 0
    last = (boff + nb - 1)[tail]
    keep = np.ones(len(B), dtype=bool)
    keep[last] = B[last] > 0
    out_lens = nb.copy()
    out_lens[tail] -= ~keep[last]

    slow = [netml_ref.get_SAMP(t[starts[i]:ends[i]], s[starts[i]:ends[i]],
                               sampling_feature=feat, sampling_rate=rate)
            for i in np.flatnonzero(bad)]
    out_lens[bad] = [len(r) for r in slow]
    values = np.empty(int(out_lens.sum()), dtype=np.float64)
    fast = np.repeat(~bad, out_lens)
    values[fast] = B[keep]
    values[~fast] = np.concatenate(slow) if slow else []
    full = np.zeros(len(valid), dtype=np.int64)
    full[valid] = out_lens
    return _lists(full, values, null)


def samp_udf(sampling_feature: str, sampling_rate: float):
    """SAMP_NUM / SAMP_SIZE with the reference's dual 500-caps
    (parser.py:472-559) as an Arrow scalar UDF over flat value buffers
    (see _samp_batch). Parity vs the loop is pinned exact (atol=0) by
    tests/test_kernels.py and the hypothesis properties."""
    feat, rate = sampling_feature, float(sampling_rate)

    @arrow_udf("array<double>")
    def _samp(times: pa.Array, tokens: pa.Array) -> pa.Array:
        return _samp_batch(times, tokens, feat, rate)

    return _samp


def _fft_batch(v: pa.ListArray, n: int) -> pa.ListArray:
    """Real part of np.fft.fft(row, n) for every row of one Arrow batch:
    each row's first min(len, n) values are scattered into a zero
    (rows, n) matrix and transformed in one call. A null row stays null."""
    vals, lens = _flat(v)
    m = np.minimum(lens, n)
    row = np.repeat(np.arange(len(lens)), m)
    col = np.arange(len(row)) - np.repeat(np.cumsum(m) - m, m)
    M = np.zeros((len(lens), n), dtype=np.float64)
    M[row, col] = vals[(np.cumsum(lens) - lens)[row] + col]
    out = np.ascontiguousarray(np.fft.fft(M, axis=1).real).ravel()
    return _lists(np.full(len(lens), n), out, v.is_null())


def fft_udf(fft_bin: int):
    """Real part of np.fft.fft(v, n=fft_bin) (parser.py:624-652) as an
    Arrow scalar UDF: one batched FFT per Arrow batch (see _fft_batch)."""
    nbin = int(fft_bin)

    @arrow_udf("array<double>")
    def _fft(v: pa.Array) -> pa.Array:
        return _fft_batch(v, nbin)

    return _fft
