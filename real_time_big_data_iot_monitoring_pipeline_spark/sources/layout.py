"""Data-layout management: bucketed parquet at rest.

The reference leans on PostgreSQL B-tree indexes for key lookups and
joins (``init.sql:29-31``).  The Spark-at-rest analogue for a join key is
bucketing: rows are hash-clustered into files by the key once at write
time, so later joins and aggregations on that key skip the exchange and
equality predicates prune to one bucket.  Z-order clustering lives with
the table format (`pydatasource.optimize_zorder`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    bucket_col: str,
    n_buckets: int,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Write `df` as a BUCKETED parquet table (hash-clustered files +
    bucket metadata in the session catalog).

    Bucketing is the at-rest analogue of a pre-shuffled exchange: every
    row lands in file-bucket `hash(bucket_col) % n_buckets`, so a join
    or aggregation keyed on `bucket_col` between two tables bucketed the
    same way needs NO Exchange at query time — at 100 TB that deletes
    the single most expensive stage of a fact-fact join (both full-table
    shuffles), which is why warehouses bucket their biggest join keys
    once at ingest and amortize it over every downstream query.  An
    equality predicate on the bucket column also prunes to 1/n of the
    files at planning time (`SelectedBucketsCount` in the scan).

    Parquet bucketed tables require the table-catalog write path
    (`saveAsTable`); plain `.parquet(path)` silently drops bucket
    metadata.  The explicit `path` keeps data out of the default
    warehouse dir so callers control cleanup."""
    w = df.write.mode(mode).option("path", path).bucketBy(n_buckets, bucket_col)
    if sort_col is not None:
        w = w.sortBy(sort_col)
    w.format("parquet").saveAsTable(table)
