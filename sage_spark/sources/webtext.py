"""Webtext source adapters.

The engine's canonical input is an Iceberg/parquet table shaped like
BASELINE.json's input_hint (url, warc_ts, html, text, lang + grounding
sidecar). Crawl dumps frequently arrive as JSONL (one page object per line,
bytes base64-encoded); this adapter reads/writes that interchange format
with the exact same schema, so `jobs/run_kg.py --input` accepts either.

Scale notes: the JSONL read is schema-enforced (no sampling-based inference
pass over 100 TB), line-splittable (gzip-free dumps parallelize per block),
and converts to the columnar schema in one projection — land it to
parquet/Iceberg once and run everything downstream columnar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..schema import WEBTEXT_SCHEMA

# JSON cannot carry bytes: html rides base64 in `html_b64`, timestamps ride
# ISO-8601 strings.
_JSONL_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), True),
        T.StructField("warc_ts", T.StringType(), True),
        T.StructField("html_b64", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("sender_id", T.StringType(), True),
        T.StructField("receiver_ids", T.ArrayType(T.StringType()), True),
        T.StructField("conversation_id", T.StringType(), True),
        T.StructField("conversation_type", T.StringType(), True),
        T.StructField("group_id", T.StringType(), True),
        T.StructField("message_id", T.StringType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def read_webtext_jsonl(spark: SparkSession, path: str) -> DataFrame:
    """JSONL -> the canonical webtext schema. Schema enforced up front; rows
    that fail to parse surface as nulls rather than killing the job
    (PERMISSIVE mode — count them before trusting a crawl dump)."""
    raw = spark.read.schema(_JSONL_SCHEMA).json(path)
    return raw.select(
        F.col("url"),
        F.to_timestamp("warc_ts").alias("warc_ts"),
        F.unbase64(F.col("html_b64")).alias("html"),
        F.col("text"),
        F.col("lang"),
        F.col("sender_id"),
        F.col("receiver_ids"),
        F.col("conversation_id"),
        F.col("conversation_type"),
        F.col("group_id"),
        F.col("message_id"),
        F.col("source"),
    )


def write_webtext_jsonl(webtext: DataFrame, path: str) -> None:
    """Inverse adapter (tests + export): bytes -> base64, timestamp -> ISO."""
    out = webtext.select(
        "url",
        # fractional-second pattern: real crawl timestamps carry sub-second
        # precision; a seconds-only format would silently truncate it
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").alias("warc_ts"),
        F.base64(F.col("html")).alias("html_b64"),
        "text",
        "lang",
        "sender_id",
        "receiver_ids",
        "conversation_id",
        "conversation_type",
        "group_id",
        "message_id",
        "source",
    )
    out.write.mode("overwrite").json(path)


def read_webtext_table(spark: SparkSession, identifier: str) -> DataFrame:
    """Catalog-table read — the Iceberg deployment path. ``identifier`` is a
    table name resolved through the session catalog (e.g.
    ``iceberg_cat.crawl.webtext`` with the Iceberg runtime on the
    classpath); partition pruning, snapshot isolation and column pruning
    come from the table format. The projection pins the canonical column
    set/order so a wider production table (crawl metadata sidecars etc.)
    still yields the engine's exact input schema; same-type casts are
    Catalyst-eliminated and never block pushdown."""
    df = spark.read.table(identifier)
    return df.select(
        *[F.col(field.name).cast(field.dataType).alias(field.name) for field in WEBTEXT_SCHEMA.fields]
    )


def read_dimensions(
    spark: SparkSession, persons_path: str, groups_path: str | None
) -> tuple[list[dict], list[dict]]:
    """The persons and groups dimension parquets as the row dicts the claims
    stage broadcasts; no groups path means no groups."""
    persons = [r.asDict() for r in spark.read.parquet(persons_path).collect()]
    groups = [r.asDict() for r in spark.read.parquet(groups_path).collect()] if groups_path else []
    return persons, groups


def read_webtext(spark: SparkSession, path: str, fmt: str = "parquet") -> DataFrame:
    """Format-dispatching reader for jobs/run_kg.py --input."""
    if fmt == "parquet":
        return spark.read.schema(WEBTEXT_SCHEMA).parquet(path)
    if fmt in ("jsonl", "json"):
        return read_webtext_jsonl(spark, path)
    if fmt in ("table", "iceberg"):
        return read_webtext_table(spark, path)
    raise ValueError(f"unsupported webtext format: {fmt}")
