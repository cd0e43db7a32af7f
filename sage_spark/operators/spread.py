"""Input-spread guard for per-row-CPU-heavy operators.

A small table that lives in one parquet file with one row group arrives as a
single scan split, so a regex/vector/Arrow-kernel projection over it runs on
ONE core no matter how many the session has — the "one huge unsplittable
file" input-skew case of the optimization playbook (repartition immediately
after the read). ``spread_input`` round-robins such an input across the
session's parallelism; the shuffle moves the small table once and unlocks
every core for the expensive per-row work.

Scale behaviour: the guard only fires when the scan delivers fewer splits
than half the cores, which a warehouse-scale table (thousands of row groups)
never does — there the function is an exact no-op and no shuffle is added.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_input(df: DataFrame) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism iff its
    current partition count is below half the cores (floor 2).
    Row-to-partition assignment is deterministic (Spark sorts before
    round-robin repartition), and every caller's result is
    partitioning-invariant anyway."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df
