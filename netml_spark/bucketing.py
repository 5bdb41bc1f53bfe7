"""Bucketed physical layout — exchange-free co-located joins (SURVEY §4.3).

At 10^12 rows the dominant cost of every entity-keyed join/aggregation is
the shuffle. Writing the sequence corpus bucketed by the entity key makes
Spark's hash partitioning PERSISTENT: two tables bucketed by the same key
with the same bucket count join with ZERO exchange (SortMergeJoin reads
buckets pairwise), and groupBy on the bucket key skips the exchange too.

Parquet bucketing requires the table catalog (`saveAsTable`), not plain
`parquet(path)` — bucket metadata lives in the metastore. The sandbox uses
the default in-memory/derby catalog rooted at ``spark.sql.warehouse.dir``;
on a real deployment the same code lands in the shared metastore or an
Iceberg catalog (Iceberg's `bucket(N, col)` partition transform is the
equivalent layout; see CheckpointManifest's ``iceberg_table``).

The no-exchange property is pinned by tests/test_bucketing.py, which
inspects the physical plan of a bucketed-bucketed join.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 64,
    sort_cols: Sequence[str] | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and optionally per-bucket sorted)
    table, replacing any table of that name. Sorting by (bucket key, ts)
    additionally lets window passes start from sorted buckets. Bucket count
    should match or evenly divide the shuffle parallelism of downstream
    consumers."""
    bucket_cols = list(bucket_cols)
    w = df.write.mode("overwrite").bucketBy(int(n_buckets), *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
