"""Per-sequence feature kernels (reference parser.py:300-652).

Operate on array columns of the sequences shape (times:array<double>,
tokens:array<int>, plus the header's per-packet flag/proto/TTL series).
Two kernels are plain array expressions and stay native: SIZE (one cast)
and pad/truncate. Every other kernel (IAT, IAT_SIZE, STATS, SAMP, FFT,
header) is an Arrow scalar UDF of ONE shape: it reads a batch's flat
value buffers plus row lengths and returns one ListArray, with no pandas
conversion and no per-row Python on the fast path. Spark's higher-order
array lambdas are no faster: they are ``CodegenFallback`` and box every
element (about 300 ns each), while all Arrow UDFs of one select share ONE
ArrowEvalPython node, where ``times``/``tokens`` cross the boundary once
and chained calls such as ``fft_udf(n)(iat("times"))`` run inside the
Python worker.

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
from pyspark.sql.types import ArrayType, DoubleType

from netml_spark.oracle import netml_ref

# A typed return type: a DDL string would need an active session to parse
# when the module-level UDFs below are defined.
_DOUBLES = ArrayType(DoubleType())

# ---------------------------------------------------------------------------
# Native array-expression kernels
# ---------------------------------------------------------------------------


def sizes_double(tokens: Column | str) -> Column:
    """SIZE feature: the token/size series as array<double> (parser.py:378-398)."""
    t = F.col(tokens) if isinstance(tokens, str) else tokens
    return t.cast("array<double>")


def pad_truncate(v: Column | str, dim: int) -> Column:
    """v[:dim] else v ++ zeros (parser.py:818). Native slice+concat."""
    c = F.col(v) if isinstance(v, str) else v
    padded = F.concat(c, F.array_repeat(F.lit(0.0), int(dim)))
    return F.slice(padded, 1, int(dim))


# ---------------------------------------------------------------------------
# Arrow-native UDF kernels
# ---------------------------------------------------------------------------


def _flat(arr: pa.ListArray, dtype=np.float64):
    """(flat values as ``dtype``, int64 row lengths) of a possibly sliced
    ListArray; a null row has length 0 (``list_flatten`` skips it)."""
    vals = pc.list_flatten(arr).to_numpy(zero_copy_only=False)
    lens = pc.list_value_length(arr).fill_null(0).to_numpy(zero_copy_only=False)
    return vals.astype(dtype, copy=False), lens.astype(np.int64)


def _valid_rows(*cols: pa.ListArray):
    """(valid, cols): the rows non-null in EVERY input, and the inputs
    filtered to them, so that their flat buffers stay row-aligned."""
    null = cols[0].is_null()
    for c in cols[1:]:
        null = pc.or_(null, c.is_null())
    valid = ~null.to_numpy(zero_copy_only=False)
    if not valid.all():
        cols = tuple(c.filter(pa.array(valid)) for c in cols)
    return valid, cols


def _lists(lens: np.ndarray, values: np.ndarray, valid: np.ndarray) -> pa.ListArray:
    """One array<double> ListArray from the valid rows' lengths plus their
    concatenated values; every other row is null."""
    full = np.zeros(len(valid), dtype=np.int64)
    full[valid] = lens
    offsets = np.concatenate(([0], np.cumsum(full))).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values, pa.float64()),
                                    mask=pa.array(~valid))


def _row_ends(lens: np.ndarray) -> np.ndarray:
    """Flat index of each non-empty row's last value."""
    return np.cumsum(lens)[lens > 0] - 1


def _iat_batch(times: pa.ListArray) -> pa.ListArray:
    """np.diff of every row of one Arrow batch (parser.py:354-375): one
    diff over the flat buffer, minus the gaps that straddle two rows. A
    row of fewer than two values gives []; a null row stays null."""
    valid, (times,) = _valid_rows(times)
    t, lens = _flat(times)
    keep = np.ones(len(t), dtype=bool)
    keep[_row_ends(lens)] = False
    return _lists(np.maximum(lens - 1, 0), np.diff(t)[keep[:-1]], valid)


def _iat_size_batch(times: pa.ListArray, tokens: pa.ListArray) -> pa.ListArray:
    """[iat_0, size_0, ..., iat_{n-2}, size_{n-2}, size_{n-1}] for every
    row of one Arrow batch (parser.py:401-427): gaps and sizes interleave
    over the flat buffers, each row's last slot holding its last size, and
    the size after that slot is dropped. A null row in either input gives
    a null row."""
    valid, (times, tokens) = _valid_rows(times, tokens)
    t, lens = _flat(times)
    s, _ = _flat(tokens)
    last = _row_ends(lens)
    gap = np.empty_like(t)
    gap[:-1] = np.diff(t)
    gap[last] = s[last]
    pairs = np.empty(2 * len(t), dtype=np.float64)
    pairs[0::2], pairs[1::2] = gap, s
    keep = np.ones(len(pairs), dtype=bool)
    keep[2 * last + 1] = False
    return _lists(np.maximum(2 * lens - 1, 0), pairs[keep], valid)


@arrow_udf(_DOUBLES)
def iat(times: pa.Array) -> pa.Array:
    """Inter-arrival gaps, the np.diff twin (parser.py:354-375), as an
    Arrow scalar UDF over a times column (see _iat_batch)."""
    return _iat_batch(times)


@arrow_udf(_DOUBLES)
def iat_size(times: pa.Array, tokens: pa.Array) -> pa.Array:
    """IAT and SIZE interleaved (parser.py:401-427; size_j pairs with
    iat_j, the last size appended) as an Arrow scalar UDF over the times
    and tokens columns (see _iat_size_batch)."""
    return _iat_size_batch(times, tokens)


def _stats_batch(times: pa.ListArray, tokens: pa.ListArray) -> pa.ListArray:
    """The STATS 12-vector of every row of one Arrow batch, in STATS_COLS
    order (parser.py:430-469): duration from the row ends (times are in
    order), sums by one np.bincount, population std, and min/max/quartiles
    from one lexsort with np.quantile's linear lerp; rates are 0 when the
    duration is 0. A null row in either input, or an empty row (no packet,
    no statistics), gives a null row."""
    valid, (times, tokens) = _valid_rows(times, tokens)
    t, lens = _flat(times)
    s, _ = _flat(tokens)
    valid[valid] = lens > 0
    lens = lens[lens > 0]
    n, num = len(lens), lens.astype(np.float64)
    row = np.repeat(np.arange(n), lens)
    ends = np.cumsum(lens)
    first = ends - lens
    dur = t[ends - 1] - t[first]
    total = np.bincount(row, weights=s, minlength=n)
    mean = total / num
    std = np.sqrt(np.bincount(row, weights=(s - mean[row]) ** 2, minlength=n) / num)
    srt = s[np.lexsort((s, row))]
    pos = np.multiply.outer(num - 1, [0.25, 0.5, 0.75])
    lo = np.floor(pos)
    a, b = (srt[first[:, None] + i.astype(np.int64)] for i in (lo, np.ceil(pos)))
    f = pos - lo
    q = np.where(f >= 0.5, b - (b - a) * (1 - f), a + (b - a) * f)
    rates = np.zeros((2, n))
    np.divide([num, total], dur, out=rates, where=dur != 0)
    out = np.column_stack([dur, *rates, mean, std, *q.T, srt[first], srt[ends - 1],
                           num, total])
    return _lists(np.full(n, 12), out.ravel(), valid)


def _header_batch(flags: pa.ListArray, protos: pa.ListArray,
                  ttls: pa.ListArray) -> pa.ListArray:
    """The 8 TCP-flag counts (order FSRPAUEC) then the TTLs of every row of
    one Arrow batch (parser.py:300-349): every occurrence of a flag
    character counts, on proto 6 packets only; a null flag string counts
    nothing. A null row in any input gives a null row."""
    valid, (flags, protos, ttls) = _valid_rows(flags, protos, ttls)
    ttl, lens = _flat(ttls)
    tcp = _flat(protos)[0] == 6
    fl = pc.list_flatten(flags)
    n = len(lens)
    row = np.repeat(np.arange(n), lens)
    counts = [np.bincount(row, minlength=n, weights=tcp * pc.count_substring(fl, ch)
                          .fill_null(0).to_numpy(zero_copy_only=False))
              for ch in "FSRPAUEC"]
    heads = np.repeat(np.cumsum(lens) - lens, 8)  # each row's counts go first
    out = np.insert(ttl, heads, np.column_stack(counts).ravel())
    return _lists(lens + 8, out, valid)


@arrow_udf(_DOUBLES)
def stats(times: pa.Array, tokens: pa.Array) -> pa.Array:
    """STATS 12-vector (parser.py:430-469) as an Arrow scalar UDF over the
    times and tokens columns (see _stats_batch)."""
    return _stats_batch(times, tokens)


@arrow_udf(_DOUBLES)
def header(flags: pa.Array, protos: pa.Array, ttls: pa.Array) -> pa.Array:
    """Header features, flag counts ++ TTLs (parser.py:300-349), as an
    Arrow scalar UDF over the per-packet flag, proto and TTL series (see
    _header_batch)."""
    return _header_batch(flags, protos, ttls)


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
    far above any drift. A null row in either input gives a null row. At a
    rate of 0 or inf a row is one bucket, or ValueError where the loop
    would divide by 0 (a packet past the row's first by more than it)."""
    valid, (times, tokens) = _valid_rows(times, tokens)
    t, lens = _flat(times)
    s, _ = _flat(tokens)
    n = len(lens)
    ends = np.cumsum(lens)
    starts = ends - lens
    row_id = np.repeat(np.arange(n), lens)
    dt, finite = t - t[starts[row_id]], 0 < rate < np.inf
    if not finite and np.any(~(dt <= rate) & (np.arange(len(t)) != starts[row_id])):
        raise ValueError(f"SAMP sampling rate {rate!r}: a row needs a division by it")
    q = dt / rate if finite else np.zeros(len(t))
    k = np.maximum(np.floor(q).astype(np.int64), 0)  # guard q=-0.0 edge

    margin = 4096.0 * np.spacing(np.abs(t).max(initial=0.0) + rate) / rate if finite else 0.0
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
    return _lists(out_lens, values, valid)


def samp_udf(sampling_feature: str, sampling_rate: float):
    """SAMP_NUM / SAMP_SIZE with the reference's dual 500-caps
    (parser.py:472-559) as an Arrow scalar UDF over flat value buffers
    (see _samp_batch). Parity vs the loop is pinned exact (atol=0) by
    tests/test_kernels.py and the hypothesis properties."""
    feat, rate = sampling_feature, float(sampling_rate)

    @arrow_udf(_DOUBLES)
    def _samp(times: pa.Array, tokens: pa.Array) -> pa.Array:
        return _samp_batch(times, tokens, feat, rate)

    return _samp


def _fft_batch(v: pa.ListArray, n: int) -> pa.ListArray:
    """Real part of np.fft.fft(row, n) for every row of one Arrow batch:
    each row's first min(len, n) values are scattered into a zero
    (rows, n) matrix and transformed in one call. A null row stays null."""
    valid, (v,) = _valid_rows(v)
    vals, lens = _flat(v)
    m = np.minimum(lens, n)
    row = np.repeat(np.arange(len(lens)), m)
    col = np.arange(len(row)) - np.repeat(np.cumsum(m) - m, m)
    M = np.zeros((len(lens), n), dtype=np.float64)
    M[row, col] = vals[(np.cumsum(lens) - lens)[row] + col]
    out = np.ascontiguousarray(np.fft.fft(M, axis=1).real).ravel()
    return _lists(np.full(len(lens), n), out, valid)


def fft_udf(fft_bin: int):
    """Real part of np.fft.fft(v, n=fft_bin) (parser.py:624-652) as an
    Arrow scalar UDF: one batched FFT per Arrow batch (see _fft_batch)."""
    nbin = int(fft_bin)

    @arrow_udf(_DOUBLES)
    def _fft(v: pa.Array) -> pa.Array:
        return _fft_batch(v, nbin)

    return _fft
