"""Bucketed-table layout for shuffle-free co-located joins.

At 10^12 rows the dominant cost of the fact/edge/claim joins is the shuffle.
Persisting both sides bucketed (and sorted) on the join key lets Catalyst
plan a SortMergeJoin with ZERO Exchange on either side — the join cost
becomes a streaming merge of pre-sorted bucket files. This is the parquet
analog of the Iceberg ``bucket(N, key)`` partition transform the production
deployment would use (reference stores rows per-key in Neo4j; here the
co-location is explicit in the table layout). Read a table back with
``spark.table(name)``: the scan carries the bucket HashPartitioning.

Plan-regression-tested in tests/test_plans.py: joining two tables written
through ``write_bucketed`` on their bucket key must contain no Exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    key: str,
    *,
    buckets: int = 16,
) -> None:
    """Persist as a bucketed+sorted external table (Spark-native bucketing:
    one file set per bucket, hash(key) % buckets, rows sorted by key within
    each bucket)."""
    (
        df.write.mode("overwrite")
        .option("path", path)
        .bucketBy(buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )
