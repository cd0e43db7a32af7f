"""Streaming KG ingestion: webtext arrives as files (or an Iceberg table
with streaming reads); every micro-batch runs the SAME idempotent batch
pipeline via foreachBatch.

Because every id is a content hash and every sink is a key-based upsert,
exactly-once is achieved with at-least-once delivery + idempotent writes:
a replayed micro-batch (after a crash between foreachBatch and checkpoint
commit) anti-joins to nothing. Checkpointing is Spark's own streaming
checkpoint + the per-run lineage rows in `runs`.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import run_pipeline
from ..schema import WEBTEXT_SCHEMA
from ..store import TableStore


def stream_webtext_from_dir(
    spark: SparkSession,
    input_dir: str,
    *,
    max_files_per_trigger: int = 16,
    clean_source: str | None = None,
    archive_dir: str | None = None,
) -> DataFrame:
    """File-drop source for the ingest stream.

    ``clean_source`` maps the reference's upload sink lifecycle (S16,
    backend.py:634-637,694-699: save uploaded file -> process -> delete) to
    Spark's native source cleaner: 'delete' removes each input file after
    its micro-batch commits, 'archive' moves it under ``archive_dir``.
    Cleanup happens only after the checkpoint commit, so a crash mid-batch
    replays from the still-present file — the delete is exactly-once-safe."""
    reader = spark.readStream.schema(WEBTEXT_SCHEMA).option(
        "maxFilesPerTrigger", str(max_files_per_trigger)
    )
    if clean_source:
        reader = reader.option("cleanSource", clean_source)
        if clean_source == "archive":
            if not archive_dir:
                raise ValueError("archive_dir is required when clean_source='archive'")
            reader = reader.option("sourceArchiveDir", archive_dir)
    return reader.parquet(input_dir)


def start_kg_ingestion(
    stream: DataFrame,
    persons: list[dict],
    groups: list[dict],
    store: TableStore,
    *,
    checkpoint_dir: str,
    run_prefix: str = "stream",
    available_now: bool = True,
    maintain_components: bool = False,
) -> StreamingQuery:
    """foreachBatch KG ingestion. Each micro-batch id becomes the run_id
    suffix, so lineage rows identify exactly which batch produced what.

    With ``maintain_components=True``, each micro-batch also folds its
    claims' entity-mention edges into a persisted ``components`` assignment
    table via the incremental component-graph contraction — only
    changed/new vertex rows are upserted, so the assignment stays current
    across an endless crawl without ever recomputing (or rewriting) the
    full graph. Replayed batches re-derive the same labels, so the
    maintenance step is idempotent like every other sink here."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        run_ts = datetime.now(timezone.utc).isoformat()
        run_pipeline(
            batch_df.sparkSession,
            batch_df,
            persons,
            groups,
            store,
            run_id=f"{run_prefix}-{batch_id}",
            run_ts=run_ts,
            embed_chunks=False,
            maintain_components=maintain_components,
        )

    writer = stream.writeStream.foreachBatch(process_batch).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
