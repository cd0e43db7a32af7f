"""Streaming tests: foreachBatch KG ingestion (availableNow trigger),
per-batch component maintenance, the upload-sink source cleaner, and the
batch sessionization of the events table."""

from __future__ import annotations

from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from sage_spark.datagen import build_groups, synth_webtext
from sage_spark.operators.rollup import batch_sessionize
from sage_spark.store import TableStore
from sage_spark.streaming.ingest import start_kg_ingestion, stream_webtext_from_dir


def test_streaming_kg_ingestion_matches_batch(spark, tmp_path):
    webtext, persons_df = synth_webtext(spark, 60, n_persons=12, seed=7, partitions=2)
    persons = [r.asDict() for r in persons_df.collect()]
    input_dir = str(tmp_path / "incoming")
    # three time-ordered file drops = three micro-batches (streaming replays
    # in arrival order, which equals the batch pipeline's sent-at order only
    # when arrivals are time-ordered — same as the reference's serial loop)
    bounds = webtext.selectExpr(
        "percentile_approx(warc_ts, 0.3333) AS p1", "percentile_approx(warc_ts, 0.6666) AS p2"
    ).collect()[0]
    splits = [
        webtext.filter(F.col("warc_ts") <= bounds["p1"]),
        webtext.filter((F.col("warc_ts") > bounds["p1"]) & (F.col("warc_ts") <= bounds["p2"])),
        webtext.filter(F.col("warc_ts") > bounds["p2"]),
    ]
    for part in splits:
        part.coalesce(1).write.mode("append").parquet(input_dir)

    store = TableStore(tmp_path / "kgstream")
    stream = stream_webtext_from_dir(spark, input_dir, max_files_per_trigger=1)
    q = start_kg_ingestion(
        stream, persons, build_groups(), store,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
    )
    q.awaitTermination(300)

    # compare against the one-shot batch pipeline on the same input
    from sage_spark.pipeline import run_pipeline

    batch_store = TableStore(tmp_path / "kgbatch")
    run_pipeline(
        spark, webtext, persons, build_groups(), batch_store,
        run_id="batch", run_ts="2026-05-01T00:00:00+00:00",
    )
    stream_claims = {r["claim_id"] for r in store.read(spark, "claims").collect()}
    batch_claims = {r["claim_id"] for r in batch_store.read(spark, "claims").collect()}
    assert stream_claims == batch_claims
    assert store.read(spark, "documents").count() == batch_store.read(spark, "documents").count()
    # current-fact sets agree (supersede ordering within identical sent_at
    # sequences is deterministic either way)
    sf = {(r["canonical_key"], r["value_text"]) for r in store.read(spark, "facts").filter(F.col("status") == "current").collect()}
    bf = {(r["canonical_key"], r["value_text"]) for r in batch_store.read(spark, "facts").filter(F.col("status") == "current").collect()}
    assert sf == bf
    # lineage has one run per micro-batch
    runs = store.read(spark, "runs").select("run_id").distinct().count()
    assert runs >= 2


def test_streaming_component_maintenance_matches_full_recompute(spark, tmp_path):
    """--maintain-components: the persisted assignment table after N
    micro-batches equals one full connected-components pass over ALL the
    store's claim entity edges."""
    from sage_spark.operators.components import claim_entity_edges, connected_components

    webtext, persons_df = synth_webtext(spark, 60, n_persons=12, seed=11, partitions=2)
    persons = [r.asDict() for r in persons_df.collect()]
    input_dir = str(tmp_path / "incoming")
    bounds = webtext.selectExpr("percentile_approx(warc_ts, 0.5) AS p1").collect()[0]
    for part in [
        webtext.filter(F.col("warc_ts") <= bounds["p1"]),
        webtext.filter(F.col("warc_ts") > bounds["p1"]),
    ]:
        part.coalesce(1).write.mode("append").parquet(input_dir)

    store = TableStore(tmp_path / "kgstream")
    stream = stream_webtext_from_dir(spark, input_dir, max_files_per_trigger=1)
    q = start_kg_ingestion(
        stream, persons, build_groups(), store,
        checkpoint_dir=str(tmp_path / "ckpt"), available_now=True,
        maintain_components=True,
    )
    q.awaitTermination(300)

    got = {r["vertex"]: r["component"] for r in store.read(spark, "components").collect()}
    all_edges = claim_entity_edges(store.read(spark, "claims"))
    want = {r["vertex"]: r["component"] for r in connected_components(all_edges).collect()}
    assert got == want
    assert len(got) > 0


def test_maintain_component_store_upserts_only_delta(spark, tmp_path):
    """changed_only delta: the second batch's upsert carries exactly the
    relabeled + new vertices; untouched components never rewrite."""
    from sage_spark.operators.components import (
        connected_components,
        incremental_components,
        maintain_component_store,
    )

    store = TableStore(tmp_path / "cstore")
    schema = "src string, dst string"
    b1 = spark.createDataFrame([("a", "b"), ("x", "y"), ("p", "q")], schema)
    b2 = spark.createDataFrame([("b", "x"), ("n1", "n2")], schema)
    n1 = maintain_component_store(spark, store, b1)
    assert n1 == 6  # seeds the table
    assignments_after_b1 = {
        r["vertex"]: r["component"] for r in store.read(spark, "components").collect()
    }
    delta = incremental_components(
        store.read(spark, "components"), b2, changed_only=True
    ).collect()
    # delta = x,y relabeled to "a" + the two new vertices; p/q untouched
    assert {r["vertex"] for r in delta} == {"x", "y", "n1", "n2"}
    n2 = maintain_component_store(spark, store, b2)
    assert n2 == 4
    got = {r["vertex"]: r["component"] for r in store.read(spark, "components").collect()}
    want = {
        r["vertex"]: r["component"]
        for r in connected_components(b1.unionByName(b2)).collect()
    }
    assert got == want
    assert got["p"] == assignments_after_b1["p"]


def test_maintain_component_store_replay_is_noop(spark, tmp_path):
    """A replayed micro-batch (foreachBatch redelivery after a crash) folds
    edges that are already in the assignment: every contracted edge
    collapses to la==lb, the delta is empty, and the store is untouched —
    the same exactly-once-by-idempotence contract as the other sinks."""
    from sage_spark.operators.components import maintain_component_store

    store = TableStore(tmp_path / "cstore")
    b1 = spark.createDataFrame([("a", "b"), ("x", "y")], "src string, dst string")
    assert maintain_component_store(spark, store, b1) == 4
    before = {r["vertex"]: r["component"] for r in store.read(spark, "components").collect()}
    assert maintain_component_store(spark, store, b1) == 0  # replay
    after = {r["vertex"]: r["component"] for r in store.read(spark, "components").collect()}
    assert after == before


def _event_rows():
    base = datetime(2026, 4, 1, 10, 0, 0)
    rows = []
    for u in (1, 2):
        for i in range(5):
            rows.append((u, base + timedelta(minutes=10 * i), "click", 1.0))
        rows.append((u, base + timedelta(hours=3), "click", 1.0))  # second session
    return rows


def test_batch_sessionize(spark):
    events = spark.createDataFrame(_event_rows(), "user_id long, ts timestamp, event_type string, value double")
    sessions = batch_sessionize(events, gap_seconds=1800).collect()
    per_user = {}
    for r in sessions:
        per_user.setdefault(r["user_id"], []).append(r)
    assert {len(v) for v in per_user.values()} == {2}
    first = sorted(per_user[1], key=lambda r: r["session_start"])[0]
    assert first["n_events"] == 5


def test_upload_sink_lifecycle_cleans_processed_files(spark, tmp_path):
    """S16 analog (backend.py:634-637,694-699): input files are removed from
    the drop directory once their micro-batch commits — Spark's cleanSource
    runs after the checkpoint, so the delete is exactly-once-safe."""
    import glob
    import time

    webtext, persons_df = synth_webtext(spark, 20, n_persons=10, seed=7, partitions=1)
    persons = [r.asDict() for r in persons_df.collect()]
    input_dir = str(tmp_path / "uploads")
    # two file drops -> two micro-batches: Spark's source cleaner is lazy
    # (files of batch N are removed while fetching batch N+1), so the first
    # upload must be gone by the time the second is processed
    webtext.filter("message_id < 'm2'").coalesce(1).write.mode("append").parquet(input_dir)
    webtext.filter("message_id >= 'm2'").coalesce(1).write.mode("append").parquet(input_dir)
    n_before = len(glob.glob(f"{input_dir}/*.parquet"))
    assert n_before == 2

    store = TableStore(tmp_path / "kgup")
    stream = stream_webtext_from_dir(spark, input_dir, max_files_per_trigger=1, clean_source="delete")
    q = start_kg_ingestion(
        stream, persons, build_groups(), store,
        checkpoint_dir=str(tmp_path / "upckpt"), available_now=True,
    )
    q.awaitTermination(300)
    assert store.read(spark, "documents").count() > 0
    # the cleaner runs asynchronously after the next fetch; poll briefly.
    # The FINAL batch's file survives an availableNow run (nothing fetches
    # after it) — the invariant is that every previously processed upload
    # is deleted.
    for _ in range(30):
        if len(glob.glob(f"{input_dir}/*.parquet")) < n_before:
            break
        time.sleep(1)
    assert len(glob.glob(f"{input_dir}/*.parquet")) < n_before
