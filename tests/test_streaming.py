"""Streaming tests: foreachBatch KG ingestion (availableNow trigger),
watermarked windowed aggregation, stateful sessionization vs its batch
oracle."""

from __future__ import annotations

import time
from datetime import datetime, timedelta

import pytest

from pyspark.sql import functions as F

from sage_spark.datagen import build_groups, synth_webtext
from sage_spark.store import TableStore
from sage_spark.streaming.events import batch_sessionize, sessionize_users, windowed_event_counts
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


def test_windowed_event_counts_batch_semantics(spark):
    events = spark.createDataFrame(_event_rows(), "user_id long, ts timestamp, event_type string, value double")
    out = windowed_event_counts(events, window="1 hour", watermark="2 hours").collect()
    assert sum(r["n"] for r in out) == events.count()
    assert all(r["window_end"] > r["window_start"] for r in out)


def test_batch_sessionize(spark):
    events = spark.createDataFrame(_event_rows(), "user_id long, ts timestamp, event_type string, value double")
    sessions = batch_sessionize(events, gap_seconds=1800).collect()
    per_user = {}
    for r in sessions:
        per_user.setdefault(r["user_id"], []).append(r)
    assert {len(v) for v in per_user.values()} == {2}
    first = sorted(per_user[1], key=lambda r: r["session_start"])[0]
    assert first["n_events"] == 5


def test_stateful_sessionize_stream_matches_batch_oracle(spark, tmp_path):
    events = spark.createDataFrame(_event_rows(), "user_id long, ts timestamp, event_type string, value double")
    src = str(tmp_path / "events")
    events.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    sessions = sessionize_users(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    # the processing-time timeout keeps this availableNow query running
    # no-data batches forever, so wait for the input rows to be committed
    # rather than for termination, and always stop it
    try:
        deadline = time.monotonic() + 120
        while sum(p["numInputRows"] for p in q.recentProgress) < len(_event_rows()):
            assert q.isActive, q.exception()
            assert time.monotonic() < deadline, q.recentProgress
            time.sleep(0.5)
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM sess_out").collect()
    # one closed session per user is emitted (the second stays open in state)
    oracle = batch_sessionize(events, gap_seconds=1800)
    first_sessions = {
        (r["user_id"], r["n_events"])
        for r in oracle.collect()
        if r["session_id"] == 1
    }
    assert {(r["user_id"], r["n_events"]) for r in got} == first_sessions


def test_streaming_dedup_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark over the content fingerprint: duplicate
    texts arriving in later micro-batches (within the watermark) are dropped;
    the surviving fingerprint set equals the batch exact-dedup's."""
    from sage_spark.operators.dedup import exact_dedup
    from sage_spark.streaming.events import dedupe_stream

    base = datetime(2026, 4, 1, 12, 0, 0)
    rows = []
    for i in range(30):
        rows.append((i, f"document body number {i % 10}", base + timedelta(seconds=10 * i)))
    df = spark.createDataFrame(rows, "doc_id int, text string, ts timestamp")

    input_dir = str(tmp_path / "dedup_in")
    # two file drops -> duplicates span micro-batches
    df.filter("doc_id < 15").coalesce(1).write.mode("append").parquet(input_dir)
    df.filter("doc_id >= 15").coalesce(1).write.mode("append").parquet(input_dir)

    stream = (
        spark.readStream.schema("doc_id int, text string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    out_dir = str(tmp_path / "dedup_out")
    q = (
        dedupe_stream(stream, text_col="text", ts_col="ts", watermark="1 hour")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "dedup_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)

    got = spark.read.parquet(out_dir)
    fps = [r["fingerprint"] for r in got.select("fingerprint").collect()]
    assert len(fps) == len(set(fps)) == 10  # 10 distinct bodies survive once each
    batch_fps = {
        r["fingerprint"]
        for r in exact_dedup(df, "text", "doc_id")
        .withColumn("fingerprint", F.sha2(F.lower(F.regexp_replace("text", r"\s+", " ")), 256))
        .select("fingerprint")
        .collect()
    }
    assert set(fps) == batch_fps


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


def test_streaming_near_dedup_matches_batch(spark, tmp_path):
    """Micro-batched MinHash-LSH near-dup flags must equal the batch
    candidate rule applied in arrival order: a doc is flagged iff it shares
    a band-bucket with an earlier doc (earlier batch, or smaller id within
    one). With id-ordered arrival that is exactly the id_b side of the
    batch candidate pairs. Replaying a batch is a no-op (idempotent keyed
    upserts)."""
    import glob
    import time as _time

    from pyspark.sql import functions as F

    from sage_spark.operators.dedup import minhash_lsh_candidates
    from sage_spark.streaming.dedup import FLAG_TABLE, process_near_dup_batch, start_streaming_near_dedup

    docs = [
        (1, "The quick brown fox jumps over the lazy dog and runs into the forest."),
        (2, "The quick brown fox jumps over the lazy dog and runs into the woods."),
        (3, "the   QUICK brown fox jumps over the lazy dog and runs into the forest."),
        (4, "Completely different content about database engines and query planners."),
        (5, "Der Hund läuft nicht mit der Katze und das ist ein Problem für die Gruppe."),
        (6, "Le chat est dans la maison et les enfants sont pour une fois dans le jardin."),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")

    input_dir = str(tmp_path / "neardup_in")
    df.filter("doc_id in (1, 2, 4)").coalesce(1).write.mode("append").parquet(input_dir)
    _time.sleep(1.1)
    df.filter("doc_id in (3, 5, 6)").coalesce(1).write.mode("append").parquet(input_dir)
    assert len(glob.glob(f"{input_dir}/*.parquet")) == 2

    # bucketed layout: the index upsert rewrites only touched bucket dirs
    store = TableStore(tmp_path / "neardup_store", buckets=4)
    stream = (
        spark.readStream.schema("doc_id int, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    q = start_streaming_near_dedup(
        stream, store, checkpoint_dir=str(tmp_path / "neardup_ckpt"), available_now=True,
        bands=16, num_hashes=64,
    )
    q.awaitTermination(300)

    flags = {r["doc_id"]: r for r in store.read(spark, FLAG_TABLE).collect()}
    assert set(flags) == {"1", "2", "3", "4", "5", "6"}

    batch_pairs = minhash_lsh_candidates(
        df.withColumn("doc_id", F.col("doc_id").cast("string")), bands=16, num_hashes=64
    ).collect()
    expected_flagged = {r["id_b"] for r in batch_pairs}
    assert expected_flagged  # sanity: the corpus does contain near-dups
    assert {d for d, r in flags.items() if r["is_near_dup"]} == expected_flagged
    # the reported partner is an earlier doc from the pair set
    for d, r in flags.items():
        if r["is_near_dup"]:
            assert (r["near_dup_of"], d) in {(p["id_a"], p["id_b"]) for p in batch_pairs}

    # idempotence: replaying the last micro-batch (same batch_seq, as
    # foreachBatch does on retry) changes nothing
    before = sorted(map(tuple, store.read(spark, FLAG_TABLE).collect()))
    process_near_dup_batch(
        df.filter("doc_id in (3, 5, 6)"), store, bands=16, num_hashes=64, batch_seq=1
    )
    after = sorted(map(tuple, store.read(spark, FLAG_TABLE).collect()))
    assert after == before

    # idempotence replaying the FIRST batch after later ones landed: doc 3
    # (batch 1) is a near-dup of docs 1/2 (batch 0) and now sits in the
    # index; without the batch_seq ordering filter, replaying batch 0 would
    # flip doc 1 from clean to near_dup_of=3. Docs 1/2 also collide INTRA-
    # batch, which the own-id anti-join must keep invisible on replay.
    process_near_dup_batch(
        df.filter("doc_id in (1, 2, 4)"), store, bands=16, num_hashes=64, batch_seq=0
    )
    replayed = sorted(map(tuple, store.read(spark, FLAG_TABLE).collect()))
    assert replayed == before


def test_streaming_near_dedup_probe_scans_bucket_subset(spark, tmp_path):
    """The per-batch probe must read a strict subset of the index's bucket
    dirs (layout keyed on (band, bucket)), not the whole accumulated index —
    the O(batch) probe contract that makes a long-running crawl viable."""
    from pyspark.sql import functions as F

    from sage_spark.operators.dedup import banded_minhash_buckets
    from sage_spark.streaming.dedup import BUCKET_TABLE, process_near_dup_batch

    base = spark.range(0, 40).select(
        F.col("id").cast("string").alias("doc_id"),
        F.concat(
            F.lit("wholly distinct document number "),
            F.col("id").cast("string"),
            F.lit(" with its own content about topic "),
            (F.col("id") * 37 % 97).cast("string"),
        ).alias("text"),
    )
    store = TableStore(tmp_path / "probe_store", buckets=64)
    process_near_dup_batch(base.filter("doc_id < 36"), store, bands=16, num_hashes=64)

    batch = base.filter("doc_id >= 36").withColumn("doc_id", F.col("doc_id").cast("string"))
    banded = banded_minhash_buckets(batch, "text", "doc_id", shingle_len=5, num_hashes=64, bands=16)
    pruned = store.read_pruned(spark, BUCKET_TABLE, banded.select("band", "bucket"))
    # the partition filter must reach the scan (inputFiles() ignores
    # pruning, so check the files ACTUALLY read via input_file_name)
    all_files = set(spark.read.parquet(str(store.path(BUCKET_TABLE))).inputFiles())
    read_files = {
        r[0].replace("file://", "file:///").replace("file:////", "file:///")
        for r in pruned.select(F.input_file_name()).distinct().collect()
    }
    norm_all = {f.replace("file://", "file:///").replace("file:////", "file:///") for f in all_files}
    assert read_files and read_files < norm_all
    # and the second batch still processes correctly over the pruned probe
    process_near_dup_batch(batch, store, bands=16, num_hashes=64)
    from sage_spark.streaming.dedup import FLAG_TABLE

    assert store.read(spark, FLAG_TABLE).count() == 40


def test_streaming_near_dedup_index_ttl_eviction(spark, tmp_path):
    """State-size bound for a long crawl: evicting index rows older than a
    batch horizon must (a) forget ONLY pairs whose older partner predates
    the horizon — a doc near-dup'ing an evicted one re-enters as fresh;
    (b) leave newer state and its (band, bucket) pruned-probe layout fully
    intact; (c) never touch already-written flags."""
    from pyspark.sql import functions as F

    from sage_spark.streaming.dedup import (
        BUCKET_TABLE,
        FLAG_TABLE,
        evict_index_before,
        process_near_dup_batch,
    )

    text_a = "The quick brown fox jumps over the lazy dog and runs into the forest."
    text_b = "Completely different content about database engines and query planners."
    store = TableStore(tmp_path / "ttl_store", buckets=8)
    # batch 0: doc a0 (text A); batch 1: doc b1 (text B)
    process_near_dup_batch(
        spark.createDataFrame([("a0", text_a)], "doc_id string, text string"),
        store, bands=16, num_hashes=64, batch_seq=0,
    )
    process_near_dup_batch(
        spark.createDataFrame([("b1", text_b)], "doc_id string, text string"),
        store, bands=16, num_hashes=64, batch_seq=1,
    )
    rows_before = store.read(spark, BUCKET_TABLE).count()

    # evict history before batch 1: a0's signature leaves, b1's stays
    evict_index_before(store, spark, 1)
    left = store.read(spark, BUCKET_TABLE)
    assert left.filter(F.col("doc_id") == "a0").count() == 0
    assert left.filter(F.col("doc_id") == "b1").count() > 0
    assert left.count() < rows_before

    # batch 2 carries near-dups of BOTH: the text-A dup re-enters as fresh
    # (its partner was evicted), the text-B dup is still caught via the
    # pruned probe against the surviving layout
    process_near_dup_batch(
        spark.createDataFrame(
            [("xa", text_a.replace("forest", "woods")), ("xb", text_b.replace("planners", "engines"))],
            "doc_id string, text string",
        ),
        store, bands=16, num_hashes=64, batch_seq=2,
    )
    flags = {r["doc_id"]: r for r in store.read(spark, FLAG_TABLE).collect()}
    assert flags["xa"]["is_near_dup"] is False  # partner forgotten by TTL
    assert flags["xb"]["is_near_dup"] is True and flags["xb"]["near_dup_of"] == "b1"
    # flags written before the eviction are untouched
    assert flags["a0"]["is_near_dup"] is False and flags["b1"]["is_near_dup"] is False


def test_streaming_near_dedup_full_eviction_then_continue(spark, tmp_path):
    """Evicting EVERY index row (a horizon past the newest batch, or any
    horizon >= 0 against sentinel-only state) must not wedge the stream: a
    partitionBy write of zero rows would leave an unreadable dir
    (UNABLE_TO_INFER_SCHEMA on every later read/upsert), so full eviction
    drops the table; the next batch probes a typed-empty index, flags
    fresh, and rebuilds the state from scratch."""
    from pyspark.sql import functions as F

    from sage_spark.streaming.dedup import (
        BUCKET_TABLE,
        FLAG_TABLE,
        evict_index_before,
        process_near_dup_batch,
    )

    text_a = "The quick brown fox jumps over the lazy dog and runs into the forest."
    store = TableStore(tmp_path / "full_evict_store", buckets=8)
    process_near_dup_batch(
        spark.createDataFrame([("a0", text_a)], "doc_id string, text string"),
        store, bands=16, num_hashes=64, batch_seq=0,
    )
    # horizon past the newest batch: zero survivors -> table dropped
    evict_index_before(store, spark, 99)
    assert not store.exists(BUCKET_TABLE)
    # the stream continues: a near-dup of the evicted doc re-enters fresh...
    process_near_dup_batch(
        spark.createDataFrame(
            [("xa", text_a.replace("forest", "woods"))], "doc_id string, text string"
        ),
        store, bands=16, num_hashes=64, batch_seq=1,
    )
    # ...and the index rebuilds, so the NEXT near-dup is caught again
    process_near_dup_batch(
        spark.createDataFrame(
            [("ya", text_a.replace("lazy", "idle"))], "doc_id string, text string"
        ),
        store, bands=16, num_hashes=64, batch_seq=2,
    )
    flags = {r["doc_id"]: r for r in store.read(spark, FLAG_TABLE).collect()}
    assert flags["xa"]["is_near_dup"] is False
    assert flags["ya"]["is_near_dup"] is True and flags["ya"]["near_dup_of"] == "xa"
