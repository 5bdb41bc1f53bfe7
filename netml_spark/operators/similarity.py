"""Approximate-nearest-neighbor search over an embedding column
(graft-added surface).

- ``brute_force_topk``: exact cosine top-k of every query against the
  corpus. Queries are broadcast (they're the small side); the corpus
  streams through one projection + per-query window top-k. This is the
  correctness baseline and the right plan whenever |queries| is small.
- ``ivf_topk``: the scale path — inverted-file (IVF) partitioning: corpus
  vectors are assigned to their nearest centroid cell, queries probe only
  the ``n_probe`` nearest cells, so the candidate set shrinks by
  ~n_cells/n_probe before exact re-ranking. Cell assignment and probing
  are NATIVE sequential-fold dot products against literal centroids —
  fully codegen, no plan-time driver action, and bit-reproducible in the
  DuckDB oracle (same left-fold order as list_reduce).
- Centroids: ``ivf_random_centroids`` (seeded, data-independent, so the
  DuckDB oracle embeds the same literals).

Scale notes: at 10^12 rows the IVF cell id becomes the partition/cluster
key (write the corpus bucketed by cell); probing touches only matching
buckets — the join key is (cell), never a cross join. n_cells should scale
~sqrt(corpus_rows); the defaults here are sized for the test corpus.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from netml_spark.operators.dedup import cosine_expr, dot_literal


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, vec_id, cosine, rank<=k), exact. Broadcast the queries."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    scored = c.join(F.broadcast(q)).withColumn(
        "cosine", cosine_expr(F.col("_qv"), F.col("_cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )


def ivf_random_centroids(n_cells: int, dim: int, seed: int = 42) -> np.ndarray:
    """Seeded Gaussian unit centroids — data-independent, so the DuckDB
    oracle can embed the identical literals. Random unit directions are
    the standard cheap IVF bootstrap when training is not worth a pass."""
    rng = np.random.default_rng(seed)
    C = rng.normal(size=(n_cells, dim))
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def _cell_dots(vec_col, centroids: np.ndarray):
    """Array of sequential-fold dots of the (double-cast) vector against
    every centroid. Argmax over these is scale-invariant in the vector
    norm, so no row normalization is needed for assignment."""
    vd = F.transform(F.col(vec_col) if isinstance(vec_col, str) else vec_col,
                     lambda x: x.cast("double"))
    return F.array(*[dot_literal(vd, c) for c in centroids])


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    dim: int = 64,
    seed: int = 42,
) -> DataFrame:
    """IVF-partitioned ANN: assign corpus to nearest centroid cell (first
    argmax wins ties), probe the n_probe nearest cells per query
    (dot-descending, cell-id tie-break), exact cosine re-rank within the
    candidates. The cells are ``ivf_random_centroids(n_cells, dim, seed)``."""
    centroids = ivf_random_centroids(n_cells, dim, seed)
    n_probe = min(n_probe, n_cells)

    dots = _cell_dots(vec_col, centroids)
    # argmax = 1-based position of the first occurrence of the max
    cell = (F.array_position(dots, F.array_max(dots)) - 1).cast("int")
    c = corpus.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"),
        cell.alias("cell"),
    )

    # probe cells: sort (−dot, cell) structs lexicographically, take n_probe
    probe_structs = F.array(*[
        F.struct((-F.element_at(dots, i + 1)).alias("nd"), F.lit(i).alias("c"))
        for i in range(n_cells)
    ])
    probe = F.transform(F.slice(F.array_sort(probe_structs), 1, n_probe),
                        lambda x: x["c"].cast("int"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"),
        F.explode(probe).alias("cell"),
    )
    scored = c.join(F.broadcast(q), "cell").withColumn(
        "cosine", cosine_expr(F.col("_qv"), F.col("_cv"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("cosine", 6).alias("cosine"), "rank")
    )
