"""Events-table aggregates: hierarchical time-bucket rollups
(``hypertable_rollup``) and gap-based sessionization (``batch_sessionize``).

Timescale's continuous aggregates materialize a finest-granularity bucket
table and derive every coarser level by REAGGREGATING the finer one (sum of
sums, min of mins, count of counts) instead of rescanning raw events. At
100 TB that's the difference between one raw scan per granularity and one
raw scan total: the minute table is ~10^4x smaller than the event log, so
hour/day/week levels cost almost nothing — and incremental refresh only
touches the buckets a new batch lands in.

Composed entirely from groupBy/agg; correctness rests on the reaggregation
property of (count, sum, min, max) — mean is derived at read time, never
averaged across levels. Sessionization is two window functions over the
user's events ordered by time (gap flag, then its running sum).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.window import Window

_LEVELS = ("minute", "hour", "day", "week", "month")


def hypertable_rollup(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    value_col: str = "value",
    group_col: str | None = None,
    levels: tuple[str, ...] = ("minute", "hour", "day"),
) -> DataFrame:
    """Returns the union of all requested granularities with columns
    (granularity, bucket, [group], n, sum_value, min_value, max_value,
    mean_value). Coarser levels reaggregate the next-finer level; only the
    finest level reads the raw events.

    The finest bucket table is checkpointed before the coarser
    levels derive from it, so the raw event log is scanned EXACTLY once
    (Spark does not reuse a shared un-materialized subtree across union
    branches — without this the plan re-scans raw per level). In production
    the finest level is the persisted continuous-aggregate table (Iceberg);
    localCheckpoint is its in-session stand-in."""
    for lvl in levels:
        if lvl not in _LEVELS:
            raise ValueError(f"unsupported granularity: {lvl}")
    keys = [group_col] if group_col else []

    finest = (
        events.groupBy(F.date_trunc(levels[0], F.col(ts_col)).alias("bucket"), *keys)
        .agg(
            F.count("*").alias("n"),
            F.sum(value_col).alias("sum_value"),
            F.min(value_col).alias("min_value"),
            F.max(value_col).alias("max_value"),
        )
        .localCheckpoint(eager=True)
    )
    out = None
    prev = finest
    for lvl in levels:
        if lvl != levels[0]:
            prev = (
                prev.groupBy(F.date_trunc(lvl, F.col("bucket")).alias("bucket"), *keys)
                .agg(
                    F.sum("n").alias("n"),
                    F.sum("sum_value").alias("sum_value"),
                    F.min("min_value").alias("min_value"),
                    F.max("max_value").alias("max_value"),
                )
            )
        level_df = prev.select(
            F.lit(lvl).alias("granularity"),
            "bucket",
            *keys,
            "n",
            F.round("sum_value", 6).alias("sum_value"),
            F.round("min_value", 6).alias("min_value"),
            F.round("max_value", 6).alias("max_value"),
            F.round(F.col("sum_value") / F.col("n"), 6).alias("mean_value"),
        )
        out = level_df if out is None else out.unionByName(level_df)
    return out


def batch_sessionize(events: DataFrame, *, gap_seconds: int = 1800) -> DataFrame:
    """Per-user sessions of an events table: a session starts where the gap
    from the user's previous event exceeds ``gap_seconds``, and a running
    sum of those starts labels the sessions. Returns (user_id, session_id,
    session_start, session_end, n_events), session_id counting from 1."""
    w = Window.partitionBy("user_id").orderBy("ts")
    flagged = events.withColumn(
        "new_session",
        (
            F.coalesce(
                F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w)) > gap_seconds,
                F.lit(True),
            )
        ).cast("int"),
    ).withColumn("session_id", F.sum("new_session").over(w))
    return (
        flagged.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
    )
