"""Line-faithful numpy transcription of the reference's per-flow semantics.

The reference (noise-lab/netml) cannot execute in this sandbox (scapy/netaddr
unavailable, no network — SURVEY.md §5.2), so this module is the parity
oracle: it reproduces, packet-abstraction-free, exactly what
``/root/reference/src/netml/pparser/parser.py`` computes once packets are
reduced to ``(time, size, ttl, tcp_flags)`` tuples. Every function cites the
reference lines whose behavior it transcribes. This is a *behavioral*
transcription (plain numpy over arrays), not a code copy — the reference
iterates scapy packet objects; we take columnar arrays.

A "flow" here is ``(fid, times: float64[n], sizes: int64[n])`` plus optional
``ttls``/``flags`` sidecars for header features. ``fid`` is any hashable
(the graft uses ``(doc_id, source)``); its 5th element selects the tcp/udp
timeout branch in the reference (parser.py:162-184) — both default to 600 s
so the engine exposes a single ``gap`` timeout, and the oracle takes one
``timeout`` scalar per flow via ``timeouts``.
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Sessionization (reference parser.py:80-206 and :209-299)
# ---------------------------------------------------------------------------


def flow_duration(times):
    """max-min duration. Ref: parser.py:64-77 (_get_flow_duration)."""
    return float(np.max(times) - np.min(times))


def pcap2flows(flows, flow_pkts_thres=2, timeout=600.0):
    """Timeout sessionization with the reference's quirks.

    Transcribes parser.py:80-206 (_pcap2flows) minus the pcap scan:
      - drop whole flows with < max(2, thres) packets (parser.py:146-147)
      - sort by time ascending (stable, parser.py:151)
      - split when gap to previous kept packet > timeout (parser.py:165,174)
      - if any split happened, the *trailing* segment is discarded
        (parser.py:188-193); otherwise the single segment is kept
      - drop segments with < thres packets (parser.py:197)

    Parameters
    ----------
    flows : list of (fid, times, sizes)
    Returns list of (fid, times, sizes) segments, in input flow order then
    segment order (matching the reference's OrderedDict iteration).
    """
    out = []
    for fid, times, sizes in flows:
        times = np.asarray(times, dtype=np.float64)
        sizes = np.asarray(sizes)
        n = len(times)
        if n < max(2, flow_pkts_thres):
            continue
        order = np.argsort(times, kind="stable")
        t = times[order]
        s = sizes[order]
        # gap to previous packet; packets always join the current segment
        # unless gap > timeout, so "previous kept packet" == previous packet.
        gaps = np.diff(t)
        brk = gaps > timeout  # split BEFORE packet i+1
        seg_id = np.concatenate([[0], np.cumsum(brk)])
        n_seg = seg_id[-1] + 1
        split_flow = n_seg > 1
        for k in range(n_seg):
            if split_flow and k == n_seg - 1:
                continue  # trailing-segment discard (parser.py:188-193)
            m = seg_id == k
            out.append((fid, t[m], s[m]))
    return [(fid, t, s) for fid, t, s in out if len(t) >= flow_pkts_thres]


def flows2subflows(flows, interval=10.0, flow_pkts_thres=2):
    """Grid-aligned interval re-split. Transcribes parser.py:209-299.

    Quirks preserved:
      - the first element of each segment is recorded at the *grid-aligned*
        start time, not the packet time (parser.py:245, 262-263), and the
        next packet's gap test compares against whichever time was recorded
        for the previous element (parser.py:256/268);
      - on split, ``start += int((t_i - start)//interval)*interval``
        (parser.py:258/270);
      - trailing segment discarded iff any split occurred (parser.py:278-283)
      - keep segments with >= max(2, thres) packets (parser.py:289-292).
    """
    new_flows = []
    for fid, times, sizes in flows:
        times = np.asarray(times, dtype=np.float64)
        sizes = np.asarray(sizes)
        order = np.argsort(times, kind="stable")
        t = times[order]
        s = sizes[order]
        segs = []
        rec_time = start = t[0]  # recorded time of last element in segment
        cur = [0]
        split_flow = False
        for j in range(1, len(t)):
            if t[j] - rec_time > interval:
                segs.append(cur)
                start += int((t[j] - start) // interval) * interval
                cur = [j]
                rec_time = start  # grid-aligned anchor recorded for elem 0
                split_flow = True
            else:
                cur.append(j)
                rec_time = t[j]
        if not split_flow:
            segs.append(cur)
        for idx in segs:
            if len(idx) < max(2, flow_pkts_thres):
                continue
            idx = np.asarray(idx)
            new_flows.append((fid, t[idx], s[idx]))
    return new_flows


def split_interval(flow_durations, q_interval=0.9):
    """np.quantile of durations. Ref: parser.py:618-621."""
    return float(np.quantile(np.asarray(flow_durations, dtype=np.float64), q=q_interval))


# ---------------------------------------------------------------------------
# Feature kernels (reference parser.py:354-652)
# ---------------------------------------------------------------------------


def get_IAT(times):
    """np.diff of sorted-by-caller times. Ref: parser.py:354-375."""
    return np.diff(np.asarray(times, dtype=np.float64))


def get_SIZE(sizes):
    """Identity on the size series. Ref: parser.py:378-398."""
    return np.asarray(sizes, dtype=np.float64)


def get_IAT_SIZE(times, sizes):
    """Interleave [iat_0, size_0, ..., iat_{n-2}, size_{n-2}, size_{n-1}].

    Note size_j pairs with iat_j (the j-th packet's size), last size
    appended. Ref: parser.py:401-427 (loop at 421-423).
    """
    iats = np.diff(np.asarray(times, dtype=np.float64))
    sizes = np.asarray(sizes, dtype=np.float64)
    n1 = len(iats)
    out = np.empty(2 * n1 + 1, dtype=np.float64)
    out[0 : 2 * n1 : 2] = iats
    out[1 : 2 * n1 : 2] = sizes[:n1]
    out[-1] = sizes[-1]
    return out


def get_STATS(times, sizes):
    """12-vector [duration, pkts_rate, bytes_rate, mean, std, q1, q2, q3,
    min, max, num_pkts, num_bytes]. Ref: parser.py:430-469. std is
    population std (np.std ddof=0, parser.py:462); quantiles linear
    interpolation (np.quantile default, parser.py:461); rates 0 when
    duration == 0 (parser.py:454-459)."""
    sizes = np.asarray(sizes, dtype=np.float64)
    dur = flow_duration(times)
    num_pkts = len(sizes)
    num_bytes = float(np.sum(sizes))
    if dur == 0:
        pkts_rate = 0.0
        bytes_rate = 0.0
    else:
        pkts_rate = num_pkts / dur
        bytes_rate = num_bytes / dur
    q1, q2, q3 = np.quantile(sizes, q=[0.25, 0.5, 0.75])
    return np.asarray(
        [dur, pkts_rate, bytes_rate, np.mean(sizes), np.std(sizes),
         q1, q2, q3, np.min(sizes), np.max(sizes), num_pkts, num_bytes],
        dtype=np.float64,
    )


def get_SAMP(times, sizes, sampling_feature="SAMP_NUM", sampling_rate=0.1):
    """Grid resample with the reference's dual 500-caps.

    Transcribes parser.py:472-559 exactly:
      - bucket membership test ``t_i - current <= rate`` (parser.py:520)
      - on overflow: emit bucket, ``current += rate``, zero-fill
        ``int(floor((t_i - current) // rate))`` empties capped at 500 per
        gap, advancing ``current`` by that many rates (parser.py:528-537)
      - whole feature truncated at 500 and loop breaks with samp_sub = -1
        (parser.py:538-542)
      - new bucket seeded with the i-th packet (parser.py:544-547)
      - trailing bucket emitted iff samp_sub > 0 (parser.py:549-550).
    """
    times = np.asarray(times, dtype=np.float64)
    sizes = np.asarray(sizes, dtype=np.float64)
    feats = []
    samp_sub = -1
    current = times[0]
    samp_sub = 1 if sampling_feature == "SAMP_NUM" else sizes[0]
    for i in range(1, len(times)):
        if times[i] - current <= sampling_rate:
            samp_sub += 1 if sampling_feature == "SAMP_NUM" else sizes[i]
        else:
            current += sampling_rate
            feats.append(samp_sub)
            num_intervals = int(np.floor((times[i] - current) // sampling_rate))
            if num_intervals > 0:
                num_intervals = min(num_intervals, 500)
                feats.extend([0] * num_intervals)
                current += num_intervals * sampling_rate
            if len(feats) > 500:
                samp_sub = -1
                feats = feats[:500]
                break
            samp_sub = 1 if sampling_feature == "SAMP_NUM" else sizes[i]
    if samp_sub > 0:
        feats.append(samp_sub)
    return np.asarray(feats, dtype=np.float64)


def get_FFT(v, fft_bin):
    """Real part of np.fft.fft(v, n=fft_bin). Ref: parser.py:624-652."""
    return np.real(np.fft.fft(np.asarray(v, dtype=np.float64), n=fft_bin))


def pad_truncate(v, dim):
    """v[:dim] or v + [0]*(dim-len(v)). Ref: parser.py:818."""
    v = list(v)
    return np.asarray(v[:dim] if len(v) > dim else v + [0] * (dim - len(v)), dtype=np.float64)


def get_header(protos, ttls, flags_strs):
    """8 TCP-flag counts ++ per-packet TTL list. Ref: parser.py:300-349.

    ``flags_strs`` are per-packet TCP flag strings (e.g. 'SA'); every char
    occurrence counts (parser.py:332-336); non-TCP packets contribute
    no flag counts but DO contribute their TTL (parser.py:343-347)."""
    order = "FSRPAUEC"
    counts = np.zeros(8, dtype=np.float64)
    ttl_list = []
    for proto, ttl, fl in zip(protos, ttls, flags_strs):
        if proto == 6:
            for ch in fl or "":
                if ch in order:
                    counts[order.index(ch)] += 1
        ttl_list.append(ttl)
    return np.concatenate([counts, np.asarray(ttl_list, dtype=np.float64)])


# ---------------------------------------------------------------------------
# flow2features dispatch (reference parser.py:763-834)
# ---------------------------------------------------------------------------

FEAT_TYPES = ("IAT", "SIZE", "IAT_SIZE", "STATS", "SAMP_NUM", "SAMP_SIZE")


def feature_dim(num_pkts, q_interval, feat_type):
    """dim = floor(quantile(num_pkts, q)); per-type output dim.

    Ref: parser.py:783-812."""
    dim = int(np.floor(np.quantile(np.asarray(num_pkts, dtype=np.float64), q_interval)))
    base = feat_type.replace("FFT-", "")
    if base == "IAT":
        return dim, dim - 1
    if base == "SIZE":
        return dim, dim
    if base == "IAT_SIZE":
        return dim, 2 * dim - 1
    if base == "STATS":
        return dim, 12
    if base in ("SAMP_NUM", "SAMP_SIZE"):
        return dim, dim - 1
    raise ValueError(feat_type)


def flow2features(flows, feat_type="IAT", q_interval=0.9, fft=False, header=False,
                  headers_input=None):
    """Full dispatch pipeline producing the dense (n_flows, D) float64 matrix.

    Ref: parser.py:763-834. ``flows`` is the output of pcap2flows/
    flows2subflows; ``headers_input`` is a parallel list of
    (protos, ttls, flags) when header=True."""
    num_pkts = [len(t) for _, t, _ in flows]
    _, out_dim = feature_dim(num_pkts, q_interval, feat_type)
    base = feat_type.replace("FFT-", "")
    if base == "IAT":
        feats = [get_IAT(t) for _, t, _ in flows]
    elif base == "SIZE":
        feats = [get_SIZE(s) for _, _, s in flows]
    elif base == "IAT_SIZE":
        feats = [get_IAT_SIZE(t, s) for _, t, s in flows]
    elif base == "STATS":
        feats = [get_STATS(t, s) for _, t, s in flows]
    else:  # SAMP_*
        durations = [flow_duration(t) for _, t, _ in flows]
        rate = split_interval(durations, q_interval=0.3)  # parser.py:801-808
        feats = [get_SAMP(t, s, base, rate) for _, t, s in flows]
    if fft:
        feats = [get_FFT(v, out_dim) for v in feats]
    else:
        feats = [pad_truncate(v, out_dim) for v in feats]
    if header:
        h_dim = 8 + out_dim  # parser.py:822
        hs = [get_header(*h) for h in headers_input]
        if fft:
            hs = [get_FFT(h, h_dim) for h in hs]
        else:
            hs = [pad_truncate(h, h_dim) for h in hs]
        feats = [np.concatenate([h, f]) for h, f in zip(hs, feats)]
    return np.asarray(feats, dtype=np.float64)


def label_flows(flow_fids, label_rows):
    """CICIDS-style labeling: dict build last-wins (parser.py:902), BENIGN/
    NORMAL (upper) -> 0 else 1 (parser.py:877,893-899), inner semantics —
    unmatched flows dropped (parser.py:908-918).

    ``label_rows`` is a list of (fid, raw_label_str)."""
    normal = {"BENIGN", "NORMAL"}
    table = {}
    for fid, raw in label_rows:
        table[fid] = 0 if str(raw).upper() in normal else 1
    kept, labels = [], []
    for i, fid in enumerate(flow_fids):
        if fid in table:
            kept.append(i)
            labels.append(table[fid])
    return kept, np.asarray(labels, dtype=np.int64)
