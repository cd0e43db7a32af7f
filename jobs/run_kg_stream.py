"""spark-submit entry point for CONTINUOUS KG construction.

Structured Streaming over a webtext file-drop directory: every micro-batch
runs the same idempotent batch pipeline (foreachBatch -> run_pipeline), so
exactly-once falls out of content-hash ids + key-based upserts — a replayed
micro-batch anti-joins to nothing. The reference's upload-sink lifecycle
(save -> process -> delete, backend.py:634-637,694-699) maps to the source
cleaner options.

Cluster usage:

    spark-submit --py-files sage_spark.zip jobs/run_kg_stream.py \
        --input-dir  s3://bucket/webtext-drop/ \
        --persons    s3://bucket/dims/persons.parquet \
        --store      s3://bucket/kg-store/ \
        --checkpoint s3://bucket/kg-ckpt/ \
        --continuous

Default is a drain run (trigger availableNow): process everything currently
in the directory, then exit and print one JSON summary — the shape cron
deployments and tests want: the store's batch, document and current-fact
counts, and what this drain's batches wrote (documents_ingested,
claims_extracted, conflicts_found, summed from their run-level ``runs``
rows). --continuous keeps the query running.
In-process, ``main(argv)`` takes the same arguments and returns the summary.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from sage_spark.schema import DOCUMENTS_SCHEMA, FACTS_SCHEMA, RUNS_SCHEMA  # noqa: E402
from sage_spark.session import build_spark  # noqa: E402
from sage_spark.sources.webtext import read_dimensions  # noqa: E402
from sage_spark.store import TableStore  # noqa: E402
from sage_spark.streaming.ingest import start_kg_ingestion, stream_webtext_from_dir  # noqa: E402


BATCH_DELTAS = ("documents_ingested", "claims_extracted", "conflicts_found")


def _batch_totals(spark, store: TableStore, run_prefix: str) -> dict:
    """Batch count and summed ``BATCH_DELTAS`` over the run-level ``runs``
    rows (``partition_id = -1``, one per batch) of this prefix's runs. A
    fresh store without a ``runs`` table reads all zeros."""
    totals = (
        store.read(spark, "runs", RUNS_SCHEMA)
        .filter(F.col("run_id").startswith(f"{run_prefix}-") & (F.col("partition_id") == -1))
        .agg(
            F.count(F.lit(1)).alias("batches"),
            F.sum("docs_processed").alias("documents_ingested"),
            F.sum("claims_extracted").alias("claims_extracted"),
            F.sum("conflicts_found").alias("conflicts_found"),
        )
        .first()
    )
    return {key: value or 0 for key, value in totals.asDict().items()}


def main(argv: list[str]) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input-dir", required=True, help="webtext parquet file-drop directory")
    ap.add_argument("--store", required=True, help="output table-store root")
    ap.add_argument("--checkpoint", required=True, help="streaming checkpoint location")
    ap.add_argument("--persons", required=True, help="persons-dimension parquet path")
    ap.add_argument("--groups", help="groups-dimension parquet path")
    ap.add_argument("--run-prefix", default="stream")
    ap.add_argument("--max-files-per-trigger", type=int, default=16)
    ap.add_argument(
        "--clean-source", choices=["delete", "archive"],
        help="remove/archive each input file after its micro-batch commits",
    )
    ap.add_argument("--archive-dir", help="required with --clean-source archive")
    ap.add_argument(
        "--continuous", action="store_true",
        help="keep the query running (default: drain what's there and exit)",
    )
    ap.add_argument(
        "--maintain-components", action="store_true",
        help="fold each batch's entity-mention edges into a persisted "
        "'components' assignment table (incremental connected components; "
        "only changed/new rows are upserted per batch)",
    )
    args = ap.parse_args(argv)

    spark = build_spark(app_name="sage-kg-stream")
    spark.sparkContext.setLogLevel("WARN")

    persons, groups = read_dimensions(spark, args.persons, args.groups)
    store = TableStore(args.store)
    before = _batch_totals(spark, store, args.run_prefix)

    stream = stream_webtext_from_dir(
        spark,
        args.input_dir,
        max_files_per_trigger=args.max_files_per_trigger,
        clean_source=args.clean_source,
        archive_dir=args.archive_dir,
    )
    query = start_kg_ingestion(
        stream,
        persons,
        groups,
        store,
        checkpoint_dir=args.checkpoint,
        run_prefix=args.run_prefix,
        available_now=not args.continuous,
        maintain_components=args.maintain_components,
    )
    query.awaitTermination()

    after = _batch_totals(spark, store, args.run_prefix)
    facts = store.read(spark, "facts", FACTS_SCHEMA)
    summary = {
        "batches": after["batches"],
        "documents_total": store.read(spark, "documents", DOCUMENTS_SCHEMA).count(),
        "facts_current": facts.filter(F.col("status") == "current").count(),
        # this drain's batches: what they wrote, not store totals
        **{key: after[key] - before[key] for key in BATCH_DELTAS},
    }
    if args.maintain_components:
        summary["components_vertices"] = (
            store.read(spark, "components").count() if store.exists("components") else 0
        )
    print(json.dumps(summary, sort_keys=True))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
