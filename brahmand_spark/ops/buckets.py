"""Bucketed-table materialization for shuffle-free co-located joins.

At 100 TB the dominant cost of repeated graph traversals is re-shuffling
the same edge tables on the same keys every query. Bucketing writes each
table hash-partitioned AND sorted by its join key once; Spark then plans
joins between co-bucketed tables as zero-Exchange sort-merge joins.

This is the Spark analogue of the reference's MergeTree PRIMARY KEY
ordering (ddl_query.rs:185-186) — data pre-organized by key at write
time so reads skip the reorganization.

Requires a metastore-backed table (saveAsTable); works with Spark's
default embedded catalog in local mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame, table_name: str, bucket_cols: list[str],
    num_buckets: int = 64, sort: bool = True,
) -> None:
    """Materialize ``df`` as a bucketed (and bucket-sorted) table."""
    writer = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort:
        writer = writer.sortBy(*bucket_cols)
    writer.saveAsTable(table_name)

