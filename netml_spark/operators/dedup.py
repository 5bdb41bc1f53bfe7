"""Deduplication suite for training-data pipelines (graft-added surface).

Not present in the reference (netml has no dedup); these are the standard
large-corpus dedup operators a 100 TB training-data pipeline needs, each
expressed Spark-first:

- ``exact_dedup``          : hash-groupBy on a content digest. One shuffle.
- ``ngram_jaccard_pairs``  : exact word-shingle Jaccard via shingle explode
                             + equi-join (the classic candidate-pair join) —
                             fully native and SQL-expressible (DuckDB oracle).
- ``minhash_signatures``/``minhash_lsh_pairs``: MinHash + banded LSH.
                             Portable polynomial shingle hashes (native) +
                             ONE affine-mod/segment-min Arrow UDF kernel
                             over each batch's flat buffer; banding native.
- ``simhash_signatures``/``simhash_pairs``: 62-bit SimHash over portable
                             word hashes, near-dup = hamming distance <= k,
                             candidates via bit-band bucketing (4x16-bit
                             tables for k<=3 — pigeonhole-exact).
- ``embedding_neardup_pairs``: cosine near-duplicates over an embedding
                             column via random hyperplane LSH buckets;
                             bucketing/verify are native sequential-fold
                             expressions, bit-reproducible in the oracle.

All hashing is engine-portable (P31 polynomial family, exact in int64),
so every signature, bucket, and pair is reproducible in ANSI SQL — the
DuckDB gate checks these operators end-to-end, not just row counts.

Scale notes: every pair-producing operator buckets FIRST (band hash / bit
band / hyperplane bucket / shingle) so the join key is the bucket, never
a cross join. No bucket is pruned, so the pairs stay exact: a shingle
shared by d docs joins d^2 rows.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

from netml_spark.operators.kernels import _flat

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Group rows by the digest of their whitespace- and case-normalized
    content; emit one row per distinct content with the winning (minimum)
    id and the duplicate count."""
    t = F.lower(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", " "))
    return (
        df.withColumn("_digest", F.md5(t))
        .groupBy("_digest")
        .agg(
            F.min(id_col).alias("winner_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .withColumnRenamed("_digest", "digest")
    )


# ---------------------------------------------------------------------------
# Word shingles + exact Jaccard (native, oracle-checkable)
# ---------------------------------------------------------------------------


def word_shingles(text_col: str = "text", n: int = 3):
    """Distinct word n-grams as array<string> — native expression.

    Built as a zip of the words array with its n-1 shifted slices
    (gram_i = words[i] ++ ' ' ++ words[i+1] ++ ...), which is O(words)
    per document — the round-2 fix for the original
    transform(sequence(1,k), i -> slice(words, i, n)) form, whose
    slice-per-index is O(words^2) and dominated the whole jaccard join
    on long documents (55 s -> ~2 s at sf0.01).

    Docs with fewer than n words yield an EMPTY array: the zip is guarded
    behind when(k >= 1) because slice with a non-positive length throws
    under ANSI mode."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    k = F.size(words) - (n - 1)

    def zipped():
        grams = F.slice(words, 1, k)
        for i in range(1, n):
            grams = F.zip_with(
                grams, F.slice(words, i + 1, k),
                lambda a, b: F.concat_ws(" ", a, b),
            )
        return grams

    grams = F.when(k >= 1, zipped()).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Jaccard-similar pairs via shingle-join:
    explode distinct shingles -> self-join on shingle -> per-pair
    intersection count -> jaccard = inter / (|A| + |B| - inter).
    Returns (id_a, id_b, jaccard) with id_a < id_b, exact (the DuckDB
    oracle checks it)."""
    # materialize the shingle array ONCE per row (size + explode read the
    # same column; inlining word_shingles twice doubled the expression cost)
    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("_sh")
    ).select(
        "id",
        F.size("_sh").alias("n_sh"),
        F.explode("_sh").alias("shingle"),
    )
    a = sh.select("shingle", F.col("id").alias("id_a"), F.col("n_sh").alias("na"))
    b = sh.select("shingle", F.col("id").alias("id_b"), F.col("n_sh").alias("nb"))
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"), F.first("na").alias("na"), F.first("nb").alias("nb"))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs


# ---------------------------------------------------------------------------
# Portable polynomial hashing (engine- and oracle-reproducible)
# ---------------------------------------------------------------------------

# 2^31 - 1 (Mersenne prime). All hash values live in [0, P31): products
# a*x stay under 2^62, so every intermediate fits signed int64 exactly —
# in numpy, in Spark's ANSI long arithmetic, AND in DuckDB BIGINT, which
# is what makes MinHash/SimHash signatures cross-engine checkable.
P31 = 2147483647


def poly_hash(col, mult: int = 131):
    """Portable per-string polynomial hash: fold over characters of
    (acc*mult + codepoint) % P31 — the same construct as text.fingerprint
    (oracle-proven char-code parity with DuckDB's unicode())."""
    c = F.col(col) if isinstance(col, str) else col
    return F.aggregate(
        F.split(c, ""),
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * mult + F.ascii(ch)) % F.lit(P31),
    )


def minhash_params(n_hashes: int, seed: int = 42):
    """Seeded (a, b) coefficients for the affine permutation family
    h_i(x) = (a_i*x + b_i) mod P31 over the P31 universe — the classic
    universal family (Broder's MinHash construction); exact in int64."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, P31, size=n_hashes, dtype=np.int64)
    b = rng.integers(0, P31, size=n_hashes, dtype=np.int64)
    return a, b


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def _minhash_batch(hashes: pa.ListArray, a: np.ndarray, b: np.ndarray) -> pa.ListArray:
    """MinHash signature of every row of one Arrow batch: the flat shingle
    buffer is mixed with ONE (total_shingles x n_hashes) affine-mod
    broadcast, exact in int64, and reduced per non-empty row with
    np.minimum.reduceat. An empty or null row keeps [P31]*n_hashes."""
    flat, lens = _flat(hashes, np.int64)
    out = np.full((len(lens), len(a)), P31, dtype=np.int64)
    nz = lens > 0
    starts = (np.cumsum(lens) - lens)[nz]
    out[nz] = np.minimum.reduceat((flat[:, None] * a + b) % P31, starts, axis=0)
    offsets = np.arange(0, out.size + 1, len(a), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(out.ravel()))


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    shingle_n: int = 3,
    seed: int = 42,
) -> DataFrame:
    """(id, sig:array<long>) — MinHash over portably-hashed word shingles.

    Shingle hashing is a native column expression (poly_hash); the minhash
    kernel is an Arrow scalar UDF over each batch's flat shingle buffer
    (see _minhash_batch). Empty and null docs get the sentinel signature
    [P31]*n_hashes (P31 is above every attainable hash)."""
    a, b = minhash_params(n_hashes, seed)

    @arrow_udf("array<long>")
    def _minhash(hashes: pa.Array) -> pa.Array:
        return _minhash_batch(hashes, a, b)

    sh = F.transform(word_shingles(text_col, shingle_n), lambda x: poly_hash(x))
    return df.select(F.col(id_col).alias("id"), _minhash(sh).alias("sig"))


def band_hash(sig_col, band: int, rows_per_band: int):
    """Portable band bucket key: polynomial fold of one signature band —
    (acc*131 + sig_value) % P31, reproducible in the DuckDB oracle."""
    return F.aggregate(
        F.slice(sig_col, band * rows_per_band + 1, rows_per_band),
        F.lit(0).cast("long"),
        lambda acc, x: (acc * 131 + x) % F.lit(P31),
    )


def materialize_signatures(
    sigs: DataFrame,
    table: str,
    n_buckets: int = 64,
) -> DataFrame:
    """Persist a MinHash signature frame as an id-bucketed, id-sorted
    catalog table and return the bucketed read.

    This is the at-scale storage layout for the LSH pair rejoin: both
    id-keyed joins in ``minhash_lsh_pairs`` (sig_a, sig_b lookup) consume
    the table's persistent hash partitioning, so NO exchange ever carries
    the wide signature arrays — only the tiny candidate-pair side shuffles
    (plan property ``minhash_rejoin_bucketed_no_sig_exchange``). At 10^12
    docs the signature table is the big side of both rejoins; without
    bucketing it is hash-partitioned twice per pairs build."""
    from netml_spark.bucketing import write_bucketed

    write_bucketed(sigs, table, ["id"], n_buckets=n_buckets, sort_cols=["id"])
    return sigs.sparkSession.table(table)


def minhash_lsh_pairs(
    sigs: DataFrame,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    cache_sigs: bool = True,
    unpersist_handle: list | None = None,
) -> DataFrame:
    """Banded LSH: split each signature into ``bands`` equal bands, bucket
    by (band index, band hash), emit candidate pairs whose estimated
    Jaccard (matching signature fraction) >= threshold.

    ``n_hashes`` is a parameter (the caller built the signatures and knows
    it), so planning runs no driver action.

    Shuffle shape (the round-3 fix): candidate generation shuffles ONLY
    (band, bh, id) — round 2 carried the full n_hashes-long signature
    through the band explode, ~bands*8*n_hashes bytes/doc of shuffle that
    dominates at corpus scale. Signatures are joined back ONCE per unique
    deduped candidate pair (two narrow id-keyed shuffles over the tiny
    pair set instead of one wide one over every band row). ``cache_sigs``
    persists the signature frame so the minhash kernel runs once, not
    once per join side — at real scale signatures are a materialized
    table (see ``materialize_signatures``: id-bucketed, so both rejoins
    are exchange-free on the signature side) and the caller passes False.

    CACHE LIFETIME: the persisted frame is NOT unpersisted here (the
    returned DataFrame still references it lazily). Repeated calls in one
    session therefore accumulate cached signature frames; pass a list as
    ``unpersist_handle`` to receive the persisted frame and release it
    (``handle[0].unpersist()``) once the pairs have been consumed, or use
    ``cache_sigs=False`` with a materialized table."""
    if n_hashes % bands != 0:
        raise ValueError(f"n_hashes ({n_hashes}) must be divisible by bands ({bands})")
    rows_per_band = n_hashes // bands
    if cache_sigs:
        sigs = sigs.persist()
        if unpersist_handle is not None:
            unpersist_handle.append(sigs)
    # band hashes are computed map-side from sig, then sig is DROPPED
    # before the exchange: the band shuffle carries 3 longs + id per row
    banded = sigs.select(
        "id",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band"),
                    band_hash(F.col("sig"), i, rows_per_band).alias("bh"),
                )
                for i in range(bands)
            ])
        ).alias("b"),
    ).select("id", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    a = banded.select("band", "bh", F.col("id").alias("id_a"))
    b = banded.select("band", "bh", F.col("id").alias("id_b"))
    cands = (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    cands = cands.join(
        sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a")), "id_a"
    ).join(
        sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b")), "id_b"
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.size("sig_a")
    return (
        cands.withColumn("est_jaccard", est)
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", F.round("est_jaccard", 6).alias("est_jaccard"))
    )


BROADCAST_MAX = 1_000_000  # edge rows up to which dedup rounds broadcast


def dedup_clusters(pairs: DataFrame, id_col_a: str = "id_a",
                   id_col_b: str = "id_b") -> DataFrame:
    """Connected components by min-label propagation, run until no label
    changes. Returns (id, cluster_id), the minimum id of each component.
    A label moves one hop per round, so a component takes its diameter
    plus one rounds: duplicate near-cliques 2-3, a chain one per link.

    When the edge list (both directions) holds <= ``BROADCAST_MAX`` rows,
    the rounds run on one partition and broadcast the label frame — a
    typical dup-pair graph is a tiny fraction of the corpus, and broadcast
    rounds avoid re-shuffling the (checkpointed) edge list every round.
    Larger graphs use shuffle joins, which is the correct 100 TB plan."""
    edges = pairs.select(
        F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst")
    )
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # materialize the edge list ONCE — every propagation round joins (and
    # the convergence count scans) edges; without truncating the lineage
    # each round re-derives the full upstream pair join from scratch
    edges = edges.localCheckpoint(eager=True)
    labels = edges.select("src").union(edges.select("dst")).distinct() \
        .select(F.col("src").alias("id"), F.col("src").alias("cluster_id"))
    small = edges.count() <= BROADCAST_MAX  # 1 cheap job on materialized edges
    if small:
        # tiny graph: single-partition rounds avoid per-task scheduling
        # overhead (the dominant cost of tiny iterative jobs)
        edges = edges.coalesce(1)
        labels = labels.coalesce(1)
    hint = F.broadcast if small else (lambda df: df)
    labels = labels.localCheckpoint(eager=True)
    while True:
        nbr_min = (
            edges.join(hint(labels), edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("cluster_id").alias("nbr"))
        )
        # fold the convergence flag into the SAME materialization so each
        # round is exactly two jobs: checkpoint + a scan of the checkpoint
        upd = (
            labels.join(hint(nbr_min), labels.id == nbr_min.src, "left")
            .select(
                "id",
                F.least(F.col("cluster_id"), F.coalesce("nbr", F.col("cluster_id"))).alias("cluster_id"),
                (F.coalesce("nbr", F.col("cluster_id")) < F.col("cluster_id")).alias("_chg"),
            )
            .localCheckpoint(eager=True)
        )
        labels = upd.drop("_chg")
        if upd.filter(F.col("_chg")).limit(1).count() == 0:
            return labels


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


SIMHASH_BITS = 62  # 2 x 31-bit portable word hashes; bits 62-63 always 0
_SHIFTS = np.arange(SIMHASH_BITS, dtype=np.uint64)


def _simhash_batch(hashes: pa.Array) -> pa.Array:
    """SimHash of every row of one Arrow batch: one flat (total_words x 62)
    bit unpack, per-row bit counts by np.add.reduceat over the non-empty
    rows, and bit b set on a strict majority. An empty or null row is 0."""
    flat, lens = _flat(hashes, np.uint64)
    bits = ((flat[:, None] >> _SHIFTS) & np.uint64(1)).astype(np.int64)
    nz = lens > 0
    maj = 2 * np.add.reduceat(bits, (np.cumsum(lens) - lens)[nz], axis=0) > lens[nz, None]
    out = np.zeros(len(lens), dtype=np.int64)
    out[nz] = (maj.astype(np.uint64) << _SHIFTS).sum(axis=1).astype(np.int64)
    return pa.array(out)


def simhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """62-bit SimHash over portable word hashes: each word hashes to
    poly131 | (poly137 << 31) (two independent 31-bit polynomial hashes —
    exactly reproducible in the DuckDB oracle); the signature sets bit b
    when a strict majority of words have bit b set.

    The kernel is an Arrow scalar UDF over each batch's flat word-hash
    buffer (see _simhash_batch); an empty or null document hashes to 0."""
    words = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    wh = F.transform(words, lambda x: poly_hash(x, 131) + poly_hash(x, 137) * F.lit(1 << 31))
    simhash = arrow_udf(_simhash_batch, "long")
    return df.select(F.col(id_col).alias("id"), simhash(wh).alias("simhash"))


def simhash_pairs(sigs: DataFrame, max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """Near-dup candidates by bit-band bucketing (pigeonhole: hamming<=k
    pairs share at least one of k+1 bands; default 4 x 16-bit bands for
    k<=3), verified by exact popcount hamming distance."""
    bits_per = 64 // n_bands
    mask = (1 << bits_per) - 1
    band_structs = [
        F.struct(
            F.lit(i).alias("band"),
            F.shiftrightunsigned("simhash", i * bits_per)
            .bitwiseAND(F.lit(mask))
            .alias("bh"),
        )
        for i in range(n_bands)
    ]
    banded = sigs.select(
        "id", "simhash", F.explode(F.array(*band_structs)).alias("b")
    ).select("id", "simhash", F.col("b.band").alias("band"), F.col("b.bh").alias("bh"))
    a = banded.select("band", "bh", F.col("id").alias("id_a"), F.col("simhash").alias("h_a"))
    b = banded.select("band", "bh", F.col("id").alias("id_b"), F.col("simhash").alias("h_b"))
    ham = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        a.join(b, ["band", "bh"])
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Embedding cosine near-dup
# ---------------------------------------------------------------------------


def cosine_expr(a, b):
    """Native cosine similarity between two array<float/double> columns."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda s, x: s + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda s, x: s + x * x))
    return dot / (na * nb)


def hyperplanes(n_tables: int, n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian hyperplanes (n_tables, n_planes, dim) — shared by
    the engine and the DuckDB oracle builder so both bucket identically."""
    rng = np.random.default_rng(seed)
    return rng.normal(size=(n_tables, n_planes, dim))


def dot_literal(vec_col, coefs) -> F.Column:
    """Sequential-fold dot product of an array<double> column against a
    literal coefficient vector: ((0 + v1*c1) + v2*c2) + ... — the SAME
    left-fold order as DuckDB's list_reduce, so the float result (and any
    sign test on it) is bit-identical across engines."""
    arr = F.array(*[F.lit(float(c)) for c in coefs])
    return F.aggregate(
        F.zip_with(vec_col, arr, lambda x, y: x * y),
        F.lit(0.0),
        lambda s, x: s + x,
    )


def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    n_planes: int = 16,
    n_tables: int = 1,
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """Cosine near-duplicate pairs: random-hyperplane LSH (sign signature
    over n_planes Gaussian projections, repeated over n_tables independent
    tables) -> per-(table, bucket) self-join -> exact cosine verify.
    Recall per pair at angle θ is 1-(1-(1-θ/π)^n_planes)^n_tables — use
    n_planes=16, n_tables=1 for >=0.95 dedup; fewer planes + more tables
    for lower thresholds.

    Bucketing is a NATIVE column expression (sign of sequential-fold dot
    products against literal planes): fully codegen, no plan-time driver
    action (round 1 ran df.first() for the dim and a numpy-matmul UDF whose
    summation order the oracle could not reproduce). ``dim`` must equal the
    embedding length (it sizes the literal planes)."""
    planes = hyperplanes(n_tables, n_planes, dim, seed)
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def bucket(t: int) -> F.Column:
        e = F.lit(0).cast("long")
        for p in range(n_planes):
            e = e + F.when(dot_literal(vd, planes[t][p]) > 0,
                           F.lit(1 << p)).otherwise(F.lit(0)).cast("long")
        return e

    b = df.select(
        F.col(id_col).alias("id"), vd.alias("v"),
        F.posexplode(F.array(*[bucket(t) for t in range(n_tables)])).alias("table", "bucket"),
    )
    l = b.select("table", "bucket", F.col("id").alias("id_a"), F.col("v").alias("v_a"))
    r = b.select("table", "bucket", F.col("id").alias("id_b"), F.col("v").alias("v_b"))
    return (
        l.join(r, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", cosine_expr(F.col("v_a"), F.col("v_b")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .dropDuplicates(["id_a", "id_b"])
    )
