"""Hub-entity skew demonstration (north rule: skew handled explicitly).

Builds a zipf-skewed mention table (one hub name dominates) and joins it
against a persons dimension with broadcasting disabled — the regime where a
plain shuffle join funnels the hub key through one reducer. Compares:

  plain    repartition join on lower(mention)
  salted   operators/linking.link_mentions_exact-style: dim exploded xN,
           fact side scattered uniformly
  aqe      plain join with AQE skew-join splitting enabled

Usage: python tools/skew_bench.py [n_mentions] [n_persons]
       python tools/skew_bench.py asof [n_events]   # as-of join hot-key mode
"""

from __future__ import annotations

import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from sage_spark.datagen import build_persons  # noqa: E402
from sage_spark.session import build_spark  # noqa: E402


def asof_main() -> None:
    """Hot-key as-of join: 85% of events on one user. The plain per-key
    window serializes the hot key into one task; time_bucket_seconds spreads
    it across its time buckets (operators/temporal_joins.asof_join), with
    identical results (asserted here on row counts + a sample)."""
    from sage_spark.operators.temporal_joins import asof_join

    n_events = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000_000
    spark = build_spark(app_name="skew-asof")
    spark.sparkContext.setLogLevel("ERROR")
    base = F.lit("2026-01-01 00:00:00").cast("timestamp")
    span = 30 * 86400
    user = (
        F.when(F.pmod(F.xxhash64("id"), F.lit(100)) < 85, F.lit("hot-user"))
        .otherwise(F.concat(F.lit("u"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).cast("string")))
    )
    events = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        user.alias("user"),
        F.timestamp_seconds(F.unix_timestamp(base) + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(span))).alias("ts"),
    ).localCheckpoint(eager=True)
    snaps = spark.range(n_events // 40).select(
        F.concat(F.lit("s"), "id").alias("snap_id"),
        F.when(F.pmod(F.xxhash64("id", F.lit(3)), F.lit(100)) < 85, F.lit("hot-user"))
        .otherwise(F.concat(F.lit("u"), F.pmod(F.xxhash64("id", F.lit(4)), F.lit(1000)).cast("string")))
        .alias("user"),
        F.timestamp_seconds(F.unix_timestamp(base) + F.pmod(F.xxhash64("id", F.lit(5)), F.lit(span))).alias("ts"),
    ).localCheckpoint(eager=True)

    def timed(label: str, df) -> int:
        t = time.perf_counter()
        n = df.count()
        print(f"{label:10s} {time.perf_counter() - t:7.2f}s   ({n} rows)")
        return n

    n_plain = timed("plain", asof_join(events, snaps, on="user", right_cols=["snap_id"]))
    n_bucket = timed(
        "bucketed", asof_join(events, snaps, on="user", right_cols=["snap_id"], time_bucket_seconds=86400)
    )
    assert n_plain == n_bucket == n_events


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "asof":
        asof_main()
        return
    n_mentions = int(sys.argv[1]) if len(sys.argv) > 1 else 3_000_000
    n_persons = int(sys.argv[2]) if len(sys.argv) > 2 else 5_000
    spark = build_spark(
        app_name="skew-bench",
        extra_conf={
            "spark.sql.autoBroadcastJoinThreshold": "-1",  # force shuffle joins
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    persons = build_persons(n_persons, 7)
    dim = spark.createDataFrame(
        [(p["id"], p["name"].lower()) for p in persons], "id string, lookup_key string"
    )
    hub = persons[0]["name"].lower()
    # 85% of mentions hit the hub entity; the rest spread uniformly
    mentions = spark.range(n_mentions).select(
        F.col("id").alias("mention_id"),
        F.when(F.pmod(F.xxhash64("id"), F.lit(100)) < 85, F.lit(hub))
        .otherwise(F.concat(F.lit("name-"), F.pmod(F.xxhash64("id", F.lit(1)), F.lit(n_persons)).cast("string")))
        .alias("lookup_key"),
    ).localCheckpoint(eager=True)

    def timed(label: str, df) -> None:
        t = time.perf_counter()
        n = df.count()
        print(f"{label:8s} {time.perf_counter() - t:7.2f}s   ({n} joined rows)")

    timed("plain", mentions.join(dim, "lookup_key"))

    buckets = cores
    salted_dim = dim.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1))))
    salted_mentions = mentions.withColumn(
        "__salt", F.pmod(F.xxhash64("mention_id"), F.lit(buckets)).cast("int")
    )
    timed("salted", salted_mentions.join(salted_dim, ["lookup_key", "__salt"]))

    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
    timed("aqe", mentions.join(dim, "lookup_key"))


if __name__ == "__main__":
    main()
