"""End-to-end pipeline tests on deterministic synthetic webtext.

Covers: byte-identical stage-1 extraction, Spark-vs-reference claim parity
over the whole generated corpus, fact canonicalization behavior, idempotent
re-runs (the resume story), and lineage rows.
"""

from __future__ import annotations

from pathlib import Path

import pytest

from pyspark.sql import functions as F

from sage_spark.datagen import build_groups, build_persons, make_page, synth_webtext
from sage_spark.kernel.pagetext import text_from_html
from sage_spark.pipeline import run_pipeline
from sage_spark.store import TableStore

from .ref_oracle import RefSession, load_reference_saia, needs_reference

REPO_ROOT = Path(__file__).resolve().parents[1]
N_DOCS = 120
SEED = 7
RUN_TS = "2026-05-01T00:00:00+00:00"


@pytest.fixture(scope="module")
def pipeline_store(spark, tmp_path_factory):
    store = TableStore(tmp_path_factory.mktemp("kgstore"))
    webtext, persons_df = synth_webtext(spark, N_DOCS, n_persons=20, seed=SEED, partitions=4)
    persons = [r.asDict() for r in persons_df.collect()]
    groups = build_groups()
    result = run_pipeline(
        spark, webtext, persons, groups, store, run_id="r1", run_ts=RUN_TS, embed_chunks=True
    )
    return store, result, persons, groups


def test_stage1_text_is_byte_identical_to_ground_truth(spark):
    webtext, _ = synth_webtext(spark, 50, n_persons=20, seed=SEED, partitions=3)
    rows = webtext.select("url", "html", "text").collect()
    assert rows
    for row in rows:
        assert text_from_html(row["html"]) == row["text"], row["url"]


def test_datagen_is_partitioning_invariant(spark):
    a = synth_webtext(spark, 40, n_persons=20, seed=SEED, partitions=1)[0].orderBy("url").collect()
    b = synth_webtext(spark, 40, n_persons=20, seed=SEED, partitions=8)[0].orderBy("url").collect()
    assert a == b


def test_pipeline_counts(pipeline_store):
    _, result, _, _ = pipeline_store
    assert result.documents > 0
    assert result.claims > 0
    assert result.facts_current > 0
    assert result.chunks >= result.documents * 0  # chunks exist for non-empty docs
    assert result.edges > 0


@needs_reference("app/saia.py")
def test_spark_claims_match_reference_on_whole_corpus(spark, pipeline_store):
    """Every (doc, claim) the Spark job emitted must equal what the reference
    extractor produces for the same text + grounding + dimension — and vice
    versa (P/R = 1.0 at full-row granularity, modulo created_at). Skips
    where the reference checkout's extractor is absent."""
    saia = load_reference_saia()
    store, _, persons, groups = pipeline_store
    session = RefSession(persons, groups)

    spark_claims = {
        (r["doc_id"], r["claim_id"]): r.asDict()
        for r in store.read(spark, "claims").collect()
    }

    expected: dict[tuple[str, str], dict] = {}
    import hashlib

    pages = [make_page(i, SEED, persons, 8) for i in range(N_DOCS)]
    # mirror the pipeline's dedupe: one document per doc_id (min url wins),
    # last duplicate claim_id within a doc wins (Neo4j MERGE overwrite)
    seen_docs: set[str] = set()
    for page in sorted(pages, key=lambda p: p["url"]):
        if page["lang"] != "en":
            continue
        text = text_from_html(page["html"])
        doc_id = hashlib.sha256(text.encode()).hexdigest()
        if doc_id in seen_docs:
            continue
        seen_docs.add(doc_id)
        ctx = saia.GroundingContext(
            source_kind=page["source"],
            source_doc_id=doc_id,
            source_message_id=page["message_id"],
            linked_message_id=None,
            sender_id=page["sender_id"],
            receiver_ids=list(page["receiver_ids"]),
            conversation_id=page["conversation_id"],
            conversation_type=page["conversation_type"],
            group_id=page["group_id"],
            sent_at=page["warc_ts"].isoformat() + "+00:00",
            source=page["source"],
        )
        cleaned = saia._prepare_text(text)
        if not saia._is_source_eligible(ctx, cleaned):
            continue
        for claim in saia.extract_claims_from_text(cleaned, ctx, session=session):
            claim["claim_id"] = saia._make_claim_id(ctx, claim)
            claim["canonical_key"] = saia._build_canonical_key(claim)
            expected[(doc_id, claim["claim_id"])] = claim

    assert set(spark_claims) == set(expected)
    compare_fields = [
        "claim_type", "predicate", "subject_raw", "subject_key", "subject_entity_id",
        "subject_entity_type", "object_raw", "object_key", "object_entity_id",
        "object_entity_type", "value_text", "grounding_json", "payload_json",
        "scope_type", "scope_id", "temporal_start", "temporal_end",
        "temporal_granularity", "timezone", "normalized_text", "source_span_text",
        "graph_worthy", "resolution_status", "extraction_confidence",
        "canonical_confidence", "canonical_key",
    ]
    for key, ours in spark_claims.items():
        ref = expected[key]
        for field_name in compare_fields:
            assert ours[field_name] == ref[field_name], (key, field_name, ours[field_name], ref[field_name])


def test_rerun_is_noop_on_facts_and_edges(spark, pipeline_store, tmp_path):
    store, first, persons, groups = pipeline_store
    facts_before = sorted(
        (r["fact_id"], r["status"], r["support_count"])
        for r in store.read(spark, "facts").collect()
    )
    edges_before = store.read(spark, "claim_fact_edges").count()
    docs_before = store.read(spark, "documents").count()

    webtext, _ = synth_webtext(spark, N_DOCS, n_persons=20, seed=SEED, partitions=4)
    second = run_pipeline(
        spark, webtext, persons, groups, store, run_id="r2", run_ts=RUN_TS, embed_chunks=False
    )
    facts_after = sorted(
        (r["fact_id"], r["status"], r["support_count"])
        for r in store.read(spark, "facts").collect()
    )
    assert facts_after == facts_before
    assert store.read(spark, "claim_fact_edges").count() == edges_before
    assert store.read(spark, "documents").count() == docs_before
    # the result reports this run's rows: every document was already stored
    assert first.documents > 0
    assert (second.documents, second.chunks, second.claims, second.facts_current) == (0, 0, 0, 0)
    # both runs left lineage rows
    runs = store.read(spark, "runs")
    assert runs.filter(F.col("run_id") == "r1").count() > 0
    assert runs.filter(F.col("run_id") == "r2").count() > 0


def test_conflicting_batches_supersede(spark, tmp_path):
    """Two sequential batches with a conflicting REPORTS_TO produce an SCD-2
    supersede chain across runs."""
    from sage_spark.schema import WEBTEXT_SCHEMA
    from datetime import datetime

    store = TableStore(tmp_path / "kg2")
    persons = build_persons(10, SEED)
    groups = build_groups()
    emp1, emp2, emp3 = persons[0]["id"], persons[1]["id"], persons[2]["id"]

    def page(i, text, ts):
        return (
            f"https://corp.example/direct/a/{i}", datetime(2026, 4, 1 + ts), None, text, "en",
            emp1, [emp2], f"direct:{emp1}:{emp2}", "direct", None, f"m{i}", "chat_message",
        )

    batch1 = spark.createDataFrame([page(0, f"{emp2} reports to {emp1}.", 0)], WEBTEXT_SCHEMA)
    r1 = run_pipeline(spark, batch1, persons, groups, store, run_id="b1", run_ts="2026-04-02T00:00:00+00:00")
    assert r1.facts_current == 1 and r1.conflicts == 0

    batch2 = spark.createDataFrame([page(1, f"{emp2} reports to {emp3}.", 1)], WEBTEXT_SCHEMA)
    r2 = run_pipeline(spark, batch2, persons, groups, store, run_id="b2", run_ts="2026-04-03T00:00:00+00:00")
    assert r2.conflicts == 1

    facts = {r["fact_id"]: r for r in store.read(spark, "facts").collect()}
    statuses = sorted(r["status"] for r in facts.values())
    assert statuses == ["current", "superseded"]
    old = next(r for r in facts.values() if r["status"] == "superseded")
    assert facts[old["superseded_by_fact_id"]]["status"] == "current"
    edges = store.read(spark, "edges")
    assert edges.filter(F.col("type") == "SUPERSEDED_BY").count() == 1


def test_incremental_support_prunes_to_batch(spark):
    """The support recompute must scale with the batch, not the store: only
    batch fact_ids enter the aggregation (broadcast semi-join in the plan),
    and only batch facts come out."""
    from sage_spark.operators.canonicalize import incremental_support

    edge_store = spark.createDataFrame(
        [(f"c{i}", f"f{i % 50}", "SUPPORTS") for i in range(200)],
        "claim_id string, fact_id string, relation_type string",
    )
    batch = spark.createDataFrame(
        [("f1", "k1", 0), ("f2", "k2", 0)], "fact_id string, canonical_key string, support_count int"
    )
    out = incremental_support(batch, edge_store)
    rows = {r["fact_id"]: r["support_count"] for r in out.collect()}
    assert rows == {"f1": 4, "f2": 4}  # 200 edges over 50 facts -> 4 each
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "Broadcast" in plan


def test_incremental_run_updates_support_only_for_touched_facts(spark, tmp_path):
    """A second batch re-asserting one fact bumps exactly that fact's
    support_count; every other fact's row is byte-identical."""
    from datetime import datetime

    from sage_spark.schema import WEBTEXT_SCHEMA

    store = TableStore(tmp_path / "kg3")
    persons = build_persons(10, SEED)
    groups = build_groups()
    emp1, emp2 = persons[0]["id"], persons[1]["id"]

    def page(i, text, day):
        return (
            f"https://corp.example/direct/s/{i}", datetime(2026, 4, day), None, text, "en",
            emp1, [emp2], f"direct:{emp1}:{emp2}", "direct", None, f"s{i}", "chat_message",
        )

    batch1 = spark.createDataFrame(
        [page(0, f"{emp2} reports to {emp1}.", 1), page(1, "The staging server is down.", 1)],
        WEBTEXT_SCHEMA,
    )
    run_pipeline(spark, batch1, persons, groups, store, run_id="i1", run_ts="2026-04-02T00:00:00+00:00")
    before = {r["fact_id"]: r.asDict() for r in store.read(spark, "facts").collect()}

    # re-assert only the reports-to fact from a NEW document: same claim
    # sentence (same canonical_key, no temporal change -> confirm, not
    # supersede) inside different document text (different doc_id)
    batch2 = spark.createDataFrame([page(2, f"Hello again. {emp2} reports to {emp1}.", 3)], WEBTEXT_SCHEMA)
    run_pipeline(spark, batch2, persons, groups, store, run_id="i2", run_ts="2026-04-04T00:00:00+00:00")
    after = {r["fact_id"]: r.asDict() for r in store.read(spark, "facts").collect()}

    assert set(after) == set(before)
    reports = [fid for fid, r in after.items() if r["claim_type"] == "REPORTS_TO"]
    assert len(reports) == 1
    assert after[reports[0]]["support_count"] == before[reports[0]]["support_count"] + 1
    for fid in after:
        if fid in reports:
            continue
        unchanged = {k: v for k, v in after[fid].items() if k != "last_seen_at"}
        assert unchanged == {k: v for k, v in before[fid].items() if k != "last_seen_at"}

    # the incrementally-upserted edges table must equal a from-scratch
    # rebuild over the full store (edges are additive projections)
    from sage_spark.operators.canonicalize import graph_edges_from_outputs

    full = graph_edges_from_outputs(
        store.read(spark, "claims"), store.read(spark, "facts"), store.read(spark, "documents")
    )
    incr_rows = {(r["src"], r["dst"], r["type"]) for r in store.read(spark, "edges").collect()}
    full_rows = {(r["src"], r["dst"], r["type"]) for r in full.collect()}
    assert incr_rows == full_rows


def test_chunk_ids_and_summaries(spark, pipeline_store):
    store, _, _, _ = pipeline_store
    chunks = store.read(spark, "chunks")
    bad_ids = chunks.filter(~F.col("chunk_id").rlike("^[0-9a-f]{64}-chunk-\\d+$")).count()
    assert bad_ids == 0
    too_long = chunks.filter(F.length("summary") > 600).count()
    assert too_long == 0


@pytest.mark.parametrize("seed,n_docs,n_persons", [(11, 80, 15), (23, 120, 25)])
def test_pipeline_matches_pure_replay_on_other_corpora(spark, seed, n_docs, n_persons):
    """End-to-end differential on corpora the oracles never saw: the
    distributed extract->claims->canonicalize chain must equal the serial
    pure-Python replay (kernel/expected.py) for any seed/size — the same
    check the driver runs, generalized beyond the fixed synthetic corpus."""
    from sage_spark.datagen import build_groups, build_persons
    from sage_spark.kernel.expected import (
        expected_claims,
        expected_documents,
        expected_facts_and_edges,
    )
    from sage_spark.operators.canonicalize import canonicalize_claims, split_facts
    from sage_spark.kernel.pagetext import document_row
    from sage_spark.operators.extraction import extract_claims_stage
    from sage_spark.pipeline import new_documents

    run_ts = "2026-05-01T00:00:00+00:00"
    webtext, persons_df = synth_webtext(spark, n_docs, n_persons=n_persons, seed=seed, partitions=5)
    persons = [r.asDict() for r in persons_df.collect()]
    docs = new_documents(webtext, None, "en")
    # plus one undated documents row: the Spark stage must give a null
    # timestamp the same claims (and replay order) as the row function does
    undated = document_row({
        "url": "https://intranet.example/undated/0", "warc_ts": None, "html": None,
        "text": "EMP002 reports to EMP001. The build server is down.", "lang": "en",
        "sender_id": "EMP001", "receiver_ids": ["EMP002"],
        "conversation_id": "direct:EMP001:EMP002", "conversation_type": "direct",
        "group_id": None, "message_id": "undated0", "source": "chat_message",
    })
    docs = docs.unionByName(
        spark.createDataFrame([tuple(undated[f.name] for f in docs.schema.fields)], docs.schema)
    )
    claims = extract_claims_stage(docs, persons, build_groups(), run_ts=run_ts)
    got_claims = {
        (r["claim_id"], r["canonical_key"], r["normalized_text"], r["subject_key"], r["value_text"])
        for r in claims.collect()
    }
    union = canonicalize_claims(claims, None, seen_at=run_ts)
    got_facts = {
        (r["fact_id"], r["canonical_key"], r["status"], r["support_count"])
        for r in split_facts(union).collect()
    }

    exp_docs = expected_documents(n_docs, n_persons, seed) + [undated]
    exp_claims_rows = expected_claims(exp_docs, n_persons, seed, run_ts=run_ts)
    exp_claims = {
        (c["claim_id"], c["canonical_key"], c["normalized_text"], c.get("subject_key"), c.get("value_text"))
        for c in exp_claims_rows
    }
    exp_facts_rows, _ = expected_facts_and_edges(exp_claims_rows, seen_at=run_ts)
    exp_facts = {
        (f["fact_id"], f["canonical_key"], f["status"], f["support_count"]) for f in exp_facts_rows
    }
    assert got_claims == exp_claims
    assert got_facts == exp_facts


def test_jsonl_webtext_source_round_trips(spark, tmp_path):
    """Crawl-dump interchange: synth -> JSONL (base64 html, ISO ts) -> read
    back must be value-identical to the original table, and the pipeline's
    stage-1 output over both must match."""
    from sage_spark.operators.extraction import extract_documents
    from sage_spark.sources.webtext import read_webtext_jsonl, write_webtext_jsonl

    webtext, _ = synth_webtext(spark, 40, n_persons=10, seed=13, partitions=3)
    # real crawl timestamps carry sub-second precision: perturb warc_ts with
    # a per-row microsecond offset so truncation in the writer would fail
    webtext = webtext.withColumn(
        "warc_ts",
        F.timestamp_micros(
            F.unix_micros("warc_ts") + F.pmod(F.xxhash64("url"), F.lit(1_000_000))
        ),
    )
    path = str(tmp_path / "dump.jsonl")
    write_webtext_jsonl(webtext, path)
    back = read_webtext_jsonl(spark, path)
    a = sorted(webtext.collect(), key=lambda r: r["url"])
    b = sorted(back.collect(), key=lambda r: r["url"])
    assert len(a) == len(b)
    for ra, rb in zip(a, b):
        assert ra.asDict() == rb.asDict(), ra["url"]
    docs_a = {r["doc_id"] for r in extract_documents(webtext, lang_filter="en").collect()}
    docs_b = {r["doc_id"] for r in extract_documents(back, lang_filter="en").collect()}
    assert docs_a == docs_b


def test_catalog_table_webtext_source(spark):
    """The Iceberg deployment path reads --input as a catalog table
    identifier (sources/webtext.read_webtext_table). Verified against a
    session-catalog managed table: a WIDER table (extra crawl-metadata
    column) must come back as exactly the canonical schema with identical
    values — the projection pins the engine's input contract regardless of
    what else production lands in the table."""
    from sage_spark.schema import WEBTEXT_SCHEMA
    from sage_spark.sources.webtext import read_webtext

    webtext, _ = synth_webtext(spark, 30, n_persons=8, seed=21, partitions=2)
    wide = webtext.withColumn("crawl_segment", F.xxhash64("url"))
    table = "webtext_catalog_src_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    try:
        wide.write.saveAsTable(table)
        back = read_webtext(spark, table, "table")
        assert [f.name for f in back.schema.fields] == [f.name for f in WEBTEXT_SCHEMA.fields]
        assert "crawl_segment" not in back.columns
        a = sorted(webtext.collect(), key=lambda r: r["url"])
        b = sorted(back.collect(), key=lambda r: r["url"])
        assert len(a) == len(b) > 0
        for ra, rb in zip(a, b):
            assert ra.asDict() == rb.asDict(), ra["url"]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_bucketed_store_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """Hash-bucketed layout (the parquet analog of Iceberg MERGE): an
    incremental upsert must leave untouched __bucket=K dirs byte-identical
    on disk and rewrite a strict subset, while the merged table content is
    exactly existing-with-updates-applied."""
    import glob
    import os

    from sage_spark.store import TableStore

    store = TableStore(tmp_path / "bstore", buckets=8)
    base = spark.createDataFrame(
        [(f"id{i}", f"v{i}") for i in range(200)], "k string, v string"
    )
    store.upsert(base, "t", ["k"])
    root = tmp_path / "bstore" / "t"
    buckets = sorted(p for p in os.listdir(root) if p.startswith("__bucket="))
    assert len(buckets) == 8

    def snapshot(b):
        return sorted(
            (os.path.basename(f), os.path.getmtime(f), os.path.getsize(f))
            for f in glob.glob(f"{root}/{b}/*")
        )

    before = {b: snapshot(b) for b in buckets}
    # update 3 existing keys + insert 1 new one
    upd = spark.createDataFrame(
        [("id1", "V1"), ("id2", "V2"), ("id3", "V3"), ("new1", "N1")], "k string, v string"
    )
    store.upsert(upd, "t", ["k"])
    after = {b: snapshot(b) for b in buckets}
    changed = {b for b in buckets if before[b] != after[b]}
    assert changed, "some buckets must be rewritten"
    assert changed < set(buckets), f"strict subset expected, got all {len(buckets)}"

    got = {r["k"]: r["v"] for r in store.read(spark, "t").collect()}
    assert len(got) == 201
    assert got["id1"] == "V1" and got["id2"] == "V2" and got["id3"] == "V3"
    assert got["new1"] == "N1" and got["id7"] == "v7"
    assert "__bucket" not in store.read(spark, "t").columns

    # idempotence: re-upserting the same batch is a content no-op
    store.upsert(upd, "t", ["k"])
    again = {r["k"]: r["v"] for r in store.read(spark, "t").collect()}
    assert again == got


def test_bucketed_store_compaction(spark, tmp_path):
    """Bucket dirs written by several tasks (e.g. appends from an external
    writer) hold several files each; compact() must rewrite each dir to ONE
    file with rows, bucket assignment, and subsequent-upsert behavior all
    unchanged (the rewrite_data_files maintenance op of an Iceberg table)."""
    import glob
    import os

    from sage_spark.store import BUCKET_COL, TableStore

    store = TableStore(tmp_path / "cstore", buckets=4)
    root = tmp_path / "cstore" / "t"
    for batch in range(3):
        df = spark.createDataFrame(
            [(f"id{batch}_{i}", f"v{batch}") for i in range(60)], "k string, v string"
        )
        if batch == 0:
            store.upsert(df, "t", ["k"])  # creates the table and its layout record
        else:
            # upserts leave one file per bucket; fragment the dirs explicitly
            (
                df.withColumn(BUCKET_COL, store._bucket_expr(["k"]))
                .repartition(3)
                .write.mode("append")
                .partitionBy(BUCKET_COL)
                .parquet(str(root))
            )
    buckets = sorted(p for p in os.listdir(root) if p.startswith("__bucket="))

    def files(b):
        return [f for f in glob.glob(f"{root}/{b}/*") if f.endswith(".parquet")]

    assert any(len(files(b)) > 1 for b in buckets), "multi-task appends should fragment dirs"
    before = sorted(map(tuple, store.read(spark, "t").collect()))
    store.compact(spark, "t")
    after_buckets = sorted(p for p in os.listdir(root) if p.startswith("__bucket="))
    assert after_buckets == buckets  # layout preserved
    for b in after_buckets:
        assert len(files(b)) == 1, (b, files(b))
    assert sorted(map(tuple, store.read(spark, "t").collect())) == before
    # bucketed upserts still prune correctly against the compacted layout
    store.upsert(
        spark.createDataFrame([("id0_0", "NEW")], "k string, v string"), "t", ["k"]
    )
    got = {r["k"]: r["v"] for r in store.read(spark, "t").collect()}
    assert got["id0_0"] == "NEW" and len(got) == 180


def test_store_crash_recovery_and_layout_versioning(spark, tmp_path):
    """The round-4 advice items on store.py: (a) a crash inside the
    compact/overwrite swap must never lose the table — whichever complete
    copy survives (the aside-renamed old table or a _SUCCESS-marked staged
    dir) is restored on the next access; (b) an upsert keyed differently
    from the table's recorded layout must fail loudly, not silently merge
    into the wrong dirs; (c) compaction preserves the layout record, so
    later upserts still merge; (d) a table without a layout record is
    refused."""
    import shutil

    import pytest
    from pyspark.sql import types as T

    from sage_spark.store import TableStore

    store = TableStore(tmp_path / "rstore", buckets=4)
    rows = [(f"id{i}", i) for i in range(50)]
    store.upsert(spark.createDataFrame(rows, "k string, v int"), "t", ["k"])
    expect = sorted(map(tuple, store.read(spark, "t").collect()))
    root = tmp_path / "rstore"

    # crash window 1: old table renamed aside, new one not yet in place
    (root / "t").rename(root / "t.__old__")
    assert sorted(map(tuple, store.read(spark, "t").collect())) == expect
    assert (root / "t").exists() and not (root / "t.__old__").exists()

    # crash window 2: target gone, a COMPLETE compacted copy staged
    (root / "t").rename(root / "t.__compact__")
    assert (root / "t.__compact__" / "_SUCCESS").exists()
    assert sorted(map(tuple, store.read(spark, "t").collect())) == expect

    # an INCOMPLETE staged dir (no _SUCCESS) must NOT be adopted
    (root / "t").rename(root / "t.__tmp__")
    (root / "t.__tmp__" / "_SUCCESS").unlink()
    schema = T.StructType([T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())])
    assert store.read(spark, "t", schema).count() == 0
    shutil.rmtree(root / "t.__tmp__")

    # layout versioning: keys other than the recorded ones refuse to merge
    store.upsert(spark.createDataFrame(rows, "k string, v int"), "u", ["k"])
    probe = spark.createDataFrame([("id1", 100)], "k string, v int")
    with pytest.raises(ValueError, match="layout mismatch"):
        store.upsert(probe, "u", ["v"])  # requested (v) != recorded (k)
    # compaction preserves the layout record: the next upsert still merges
    store.compact(spark, "u")
    store.upsert(probe, "u", ["k"])
    got = {r["k"]: r["v"] for r in store.read(spark, "u").collect()}
    assert len(got) == 50 and got["id1"] == 100
    # a pre-versioning table (no _LAYOUT.json) fails loudly
    (root / "u" / "_LAYOUT.json").unlink()
    with pytest.raises(ValueError, match="predates layout versioning"):
        store.upsert(probe, "u", ["k"])


def test_pipeline_resume_noop_with_bucketed_store(spark, tmp_path):
    """The resume contract must hold on the bucketed layout: a second run
    over the same corpus writes no rows, records zero conflicts and leaves
    the store totals unchanged."""
    store = TableStore(tmp_path / "kgb", buckets=4)
    persons = build_persons(10, SEED)
    groups = build_groups()
    webtext, _ = synth_webtext(spark, 60, n_persons=10, seed=SEED)

    def totals():
        facts = store.read(spark, "facts")
        return (
            store.read(spark, "documents").count(),
            store.read(spark, "chunks").count(),
            store.read(spark, "claims").count(),
            facts.filter(F.col("status") == "current").count(),
        )

    r1 = run_pipeline(spark, webtext, persons, groups, store, run_id="b1", run_ts="2026-04-02T00:00:00+00:00")
    before = totals()
    r2 = run_pipeline(spark, webtext, persons, groups, store, run_id="b2", run_ts="2026-04-03T00:00:00+00:00")
    assert r1.documents > 0
    assert (r2.documents, r2.chunks, r2.claims, r2.facts_current) == (0, 0, 0, 0)
    assert totals() == before
    assert r2.conflicts == 0


def test_insight_job_end_to_end(spark, tmp_path):
    """jobs/run_insight.py over a jobs/run_kg.py store: the batch insight
    walk must cover exactly the claim-bearing documents, link every
    CONTRADICTS row to a fact, put predecessors only on SUPPORTS rows, and
    agree with the store's own claim/edge tables."""
    import json
    import subprocess
    import sys

    kg = tmp_path / "kgi"
    subprocess.run(
        [
            sys.executable, "jobs/run_kg.py", "--synthetic", "400",
            "--store", str(kg), "--run-id", "i1",
            "--run-ts", "2026-05-01T00:00:00+00:00",
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    out = tmp_path / "insight"
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_insight.py",
            "--store", str(kg), "--output", str(out),
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    summary = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert summary["rows"] >= summary["messages"] > 0
    assert summary["with_fact_link"] > 0 and summary["replacements"] > 0

    rows = spark.read.parquet(str(out / "insight"))
    # raw dir reads surface the store's __bucket partition col — project it out
    claims = spark.read.parquet(str(kg / "claims")).drop("__bucket")
    # coverage: one message scope per claim-bearing document
    assert summary["messages"] == claims.select("doc_id").distinct().count()
    # every CONTRADICTS row carries its fact; predecessors only on SUPPORTS
    assert rows.filter(
        (F.col("relation_type") == "CONTRADICTS") & F.col("fact_id").isNull()
    ).count() == 0
    assert rows.filter(
        F.col("previous_fact_id").isNotNull() & (F.col("relation_type") != "SUPPORTS")
    ).count() == 0
    # per-claim display text is present and non-empty everywhere
    assert rows.filter(F.col("display_text").isNull() | (F.col("display_text") == "")).count() == 0
    # fact-linked row set equals the store's claim_fact_edges
    edges = spark.read.parquet(str(kg / "claim_fact_edges")).select(
        "claim_id", "fact_id", "relation_type"
    )
    got_links = rows.filter(F.col("fact_id").isNotNull()).select(
        "claim_id", "fact_id", "relation_type"
    ).distinct()
    assert got_links.exceptAll(edges).count() == 0
    assert edges.join(claims.select("claim_id"), "claim_id", "left_semi").exceptAll(
        got_links
    ).count() == 0


def test_dataprep_job_end_to_end(spark, tmp_path):
    """jobs/run_dataprep.py stage chain over the driver documents table:
    monotone survivor counts, pack manifest consistent with total tokens,
    and cleaned corpus free of exact duplicates."""
    import json
    import subprocess
    import sys

    out = tmp_path / "prep"
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_dataprep.py",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(out),
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    summary = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])
    assert summary["input"] >= summary["language"] >= summary["quality"] >= summary["exact_dedup"] >= summary["near_dedup"]
    assert summary["documents_out"] > 0 and summary["total_tokens"] > 0

    corpus = spark.read.parquet(str(out / "corpus"))
    packs = spark.read.parquet(str(out / "packs"))
    assert corpus.count() == summary["documents_out"] == packs.count()
    # no exact dups survive
    n_distinct = corpus.select(F.sha2(F.lower(F.regexp_replace("text", r"\s+", " ")), 256)).distinct().count()
    assert n_distinct == summary["documents_out"]
    # pack manifest tiles the token stream
    got_total = packs.agg(F.sum("n_tokens")).collect()[0][0]
    assert got_total == summary["total_tokens"]
    assert packs.agg(F.max("last_pack")).collect()[0][0] == summary["n_packs"] - 1

    # --verify-jaccard: near-dedup drops only pairs whose EXACT shingle
    # Jaccard clears the bar (LSH false positives survive)
    out2 = tmp_path / "prep_verified"
    proc2 = subprocess.run(
        [
            sys.executable, "jobs/run_dataprep.py",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(out2),
            "--verify-jaccard", "0.8",
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    summary2 = json.loads([l for l in proc2.stdout.splitlines() if l.startswith("{")][-1])
    assert summary2["near_dedup"] >= summary["near_dedup"]  # verify only un-drops
    corpus2 = spark.read.parquet(str(out2 / "corpus"))
    ids1 = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    ids2 = {r["doc_id"] for r in corpus2.select("doc_id").collect()}
    assert ids1 <= ids2
    # survivor-side completeness: no remaining LSH-candidate pair clears 0.8
    from sage_spark.operators.dedup import minhash_lsh_candidates, ngram_jaccard_pairs

    sided2 = corpus2.withColumn("__sid", F.col("doc_id").cast("string"))
    cand2 = minhash_lsh_candidates(sided2, "text", "__sid", bands=8, num_hashes=64)
    ver2 = ngram_jaccard_pairs(
        sided2, "text", "__sid", threshold=0.8, candidates=cand2.select("id_a", "id_b")
    )
    assert ver2.count() == 0

    # --cluster-dedup: transitive keep-one-per-component. Every cluster
    # survivor is the min id of its component, so it is never the larger
    # side of a pair -> the cluster survivor set is a SUBSET of the
    # pairwise one; and no near-dup pair survives intact.
    out3 = tmp_path / "prep_cluster"
    proc3 = subprocess.run(
        [
            sys.executable, "jobs/run_dataprep.py",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(out3),
            "--cluster-dedup",
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    summary3 = json.loads([l for l in proc3.stdout.splitlines() if l.startswith("{")][-1])
    assert summary3["near_dedup"] <= summary["near_dedup"]
    corpus3 = spark.read.parquet(str(out3 / "corpus"))
    ids3 = {r["doc_id"] for r in corpus3.select("doc_id").collect()}
    assert ids3 <= ids1 and len(ids3) == summary3["documents_out"]
    sided3 = corpus3.withColumn("__sid", F.col("doc_id").cast("string"))
    cand3 = minhash_lsh_candidates(sided3, "text", "__sid", bands=8, num_hashes=64)
    assert cand3.count() == 0

    # --clip-spans: span-level removal edits text in place, never drops a
    # doc; token mass can only shrink; the pack manifest still tiles the
    # (clipped) stream exactly.
    out4 = tmp_path / "prep_clipped"
    proc4 = subprocess.run(
        [
            sys.executable, "jobs/run_dataprep.py",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--output", str(out4),
            "--clip-spans", "10",
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    summary4 = json.loads([l for l in proc4.stdout.splitlines() if l.startswith("{")][-1])
    assert summary4["span_clip"] == summary4["near_dedup"]  # row-preserving
    corpus4 = spark.read.parquet(str(out4 / "corpus"))
    ids4 = {r["doc_id"] for r in corpus4.select("doc_id").collect()}
    assert ids4 == ids1  # same survivor set as the plain run
    # clipped corpus never has MORE tokens than the unclipped survivors
    tok = F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[A-Za-z0-9]+"), F.lit(0)))
    before = corpus.agg(F.sum(tok)).collect()[0][0]
    after = corpus4.agg(F.sum(tok)).collect()[0][0]
    assert 0 < after <= before
    packs4 = spark.read.parquet(str(out4 / "packs"))
    assert packs4.agg(F.sum("n_tokens")).collect()[0][0] == summary4["total_tokens"] == after


def test_store_append_recovers_crashed_swap_and_empty_upsert_noop(spark, tmp_path):
    """A bucketed upsert of an EMPTY batch against an absent table is a
    no-op, never an unreadable zero-file partitioned dir; and a staged
    .__tmp__ from a crash-after-write carries its layout record, so
    _recover adoption yields a fully usable bucketed table."""
    from pyspark.sql import types as T

    from sage_spark.store import LAYOUT_FILE, TableStore

    bstore = TableStore(tmp_path / "bstore", buckets=4)
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.IntegerType())]
    )
    bstore.upsert(spark.createDataFrame([], schema), "e", ["k"])
    assert not bstore.exists("e")  # no-op, not a wedged empty dir
    assert bstore.read(spark, "e", schema).count() == 0

    # staged-dir adoption keeps the table bucketed-usable: the layout file
    # is written INSIDE tmp before the publish rename, so a _SUCCESS-marked
    # .__tmp__ adopted by _recover passes the layout check
    bstore.upsert(spark.createDataFrame([("a", 1)], "k string, v int"), "b", ["k"])
    (tmp_path / "bstore" / "b").rename(tmp_path / "bstore" / "b.__tmp__")
    assert (tmp_path / "bstore" / "b.__tmp__" / LAYOUT_FILE).exists()
    bstore.upsert(spark.createDataFrame([("b", 2)], "k string, v int"), "b", ["k"])
    assert bstore.read(spark, "b").count() == 2


def test_maintain_job_end_to_end(spark, tmp_path):
    """jobs/run_maintain.py over a jobs/run_kg.py store: the impact analysis
    must classify every promotable batch claim exactly once, seed the BFS
    with the non-confirmed entities (depth 0 == changed_entities), stay
    strictly read-only on the store, and write the three analysis tables."""
    import json
    import subprocess
    import sys

    kg = tmp_path / "kgm"
    subprocess.run(
        [
            sys.executable, "jobs/run_kg.py", "--synthetic", "400",
            "--store", str(kg), "--run-id", "m1",
            "--run-ts", "2026-05-01T00:00:00+00:00",
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    before = sorted((p.relative_to(kg), p.stat().st_size) for p in kg.rglob("*") if p.is_file())

    out = tmp_path / "maint"
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_maintain.py",
            "--store", str(kg), "--synthetic", "800", "--output", str(out),
            "--run-ts", "2026-05-02T00:00:00+00:00", "--rank-impact",
        ],
        capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
    )
    summary = json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])

    # read-only contract: byte-for-byte identical store file listing
    after = sorted((p.relative_to(kg), p.stat().st_size) for p in kg.rglob("*") if p.is_file())
    assert before == after

    # the 800-doc batch extends the 400-doc store's deterministic corpus:
    # genuinely new docs, plus claims that restate live facts
    assert summary["batch_docs"] > 0
    diff = spark.read.parquet(str(out / "diff"))
    assert diff.count() == sum(summary["diff"].values()) > 0
    assert set(summary["diff"]) <= {"added", "confirmed", "contradicted"}
    assert summary["diff"].get("confirmed", 0) > 0
    assert diff.groupBy("claim_id").count().filter("count > 1").count() == 0
    # confirmations carry their matched fact, additions never do
    assert diff.filter((F.col("change") == "confirmed") & F.col("existing_fact_id").isNull()).count() == 0
    assert diff.filter((F.col("change") == "added") & F.col("existing_fact_id").isNotNull()).count() == 0

    impacted = spark.read.parquet(str(out / "impacted_entities"))
    assert summary["impacted_by_depth"]["0"] == summary["changed_entities"] > 0
    assert impacted.count() == sum(summary["impacted_by_depth"].values())

    # --rank-impact: every impacted entity carries a PPR refresh-priority
    # score, scores are a sub-distribution of the seed-restart walk (the
    # radius is a subset of the graph), and the summary's top list is the
    # rank-descending head
    assert "rank" in impacted.columns
    ranksum = impacted.agg(F.sum("rank").alias("s")).collect()[0]["s"]
    assert impacted.filter(F.col("rank") < 0).count() == 0
    assert 0.0 < ranksum <= 1.0 + 1e-9
    top = summary["top_impacted"]
    assert top == sorted(top, key=lambda r: (-r["rank"], r["entity_id"]))
    assert top[0]["rank"] > 0

    affected = spark.read.parquet(str(out / "affected_documents"))
    assert affected.count() == summary["affected_documents"] > 0
    # affected docs are store documents by construction (semi-join over store claims)
    store_docs = spark.read.parquet(str(kg / "documents")).select("doc_id")
    assert affected.join(store_docs, "doc_id", "left_anti").count() == 0


def test_kg_stream_job_end_to_end(spark, tmp_path):
    """jobs/run_kg_stream.py drain mode: a drain of an empty drop directory
    into a fresh store prints an all-zero summary, the next invocation
    ingests the files present, one with a NEW file ingests only that file
    (streaming checkpoint resume), and one with nothing new is a no-op on
    every store count."""
    import json
    import subprocess
    import sys

    from sage_spark.datagen import synth_webtext

    webtext, persons_df = synth_webtext(spark, 120, n_persons=12, seed=9)
    drop = tmp_path / "drop"
    drop.mkdir()
    persons_path = tmp_path / "persons.parquet"
    persons_df.write.parquet(str(persons_path))
    first = webtext.filter(F.xxhash64("url") % 2 == 0)
    second = webtext.filter(F.xxhash64("url") % 2 != 0)
    first.coalesce(1).write.parquet(str(tmp_path / "b1"))
    second.coalesce(1).write.parquet(str(tmp_path / "b2"))
    parts1 = list((tmp_path / "b1").glob("part-*.parquet"))
    parts2 = list((tmp_path / "b2").glob("part-*.parquet"))
    assert parts1 and parts2

    def drain() -> dict:
        proc = subprocess.run(
            [
                sys.executable, "jobs/run_kg_stream.py",
                "--input-dir", str(drop),
                "--store", str(tmp_path / "store"),
                "--checkpoint", str(tmp_path / "ckpt"),
                "--persons", str(persons_path),
            ],
            capture_output=True, text=True, timeout=500, check=True, cwd=REPO_ROOT,
        )
        return json.loads([l for l in proc.stdout.splitlines() if l.startswith("{")][-1])

    s0 = drain()
    assert s0 == {"batches": 0, "documents_total": 0, "facts_current": 0}

    parts1[0].rename(drop / "f1.parquet")
    s1 = drain()
    assert s1["batches"] == 1 and s1["documents_total"] > 0

    parts2[0].rename(drop / "f2.parquet")
    s2 = drain()
    assert s2["batches"] == 2
    assert s2["documents_total"] > s1["documents_total"]

    s3 = drain()
    assert s3 == s2


def test_canonicalize_uncontested_fast_path_matches_serial_replay(spark):
    """r6: canonicalize_claims resolves uncontested rows (singleton new-key
    claims, groups with no promotable claim) vectorized instead of through
    the per-row dict walk. This pins the split's equivalence on an
    adversarial corpus that exercises every branch boundary: promotable and
    non-promotable singletons (None and '' promotion_status fallbacks),
    all-non-promotable multi-claim groups, all-equal confirm chains,
    supersede chains, pending_review fan-out, APPROVAL_STATE equality,
    empty-string summary fallbacks, and keys with store facts (which must
    always take the ordered walk, including single-claim ones)."""
    import itertools

    from sage_spark.kernel.facts import replay_key_mutations
    from sage_spark.operators.canonicalize import (
        _CLAIM_REPLAY_COLS,
        canonicalize_claims,
        split_claim_updates,
        split_edges,
        split_facts,
    )
    from sage_spark.schema import FACTS_SCHEMA

    seen_at = "2026-06-01T00:00:00+00:00"

    def claim(key, cid, seq, **over):
        base = {c: None for c in _CLAIM_REPLAY_COLS}
        base.update(
            canonical_key=key, claim_id=cid, doc_id=f"d{seq}", claim_seq=seq,
            sent_at=f"2026-05-0{1 + seq % 9}T00:00:00+00:00", claim_type="COMMITMENT",
            predicate="reports_to", subject_key="s", object_key="o",
            value_text=f"v-{key}", normalized_text=f"text {key}",
            graph_worthy=True, resolution_status="resolved",
            promotion_status=None, canonical_confidence=0.9,
        )
        base.update(over)
        return base

    rows = [
        # singleton promotable / non-promotable variants
        claim("k-single", "c1", 0),
        claim("k-np-none", "c2", 0, graph_worthy=False),
        claim("k-np-empty", "c3", 0, resolution_status="pending", promotion_status=""),
        claim("k-np-status", "c4", 0, canonical_confidence=0.5, promotion_status="held"),
        claim("k-np-req", "c5", 0, claim_type="REQUEST"),
        # summary fallbacks (empty + None normalized_text)
        claim("k-sum-empty", "c6", 0, normalized_text="", value_text="vt"),
        claim("k-sum-none", "c7", 0, normalized_text=None, value_text=None),
        # all-non-promotable multi-claim group
        claim("k-allnp", "c8", 0, graph_worthy=False),
        claim("k-allnp", "c9", 1, resolution_status="pending"),
        claim("k-allnp", "c10", 2, canonical_confidence=0.1),
        # confirm chain (all equal)
        claim("k-eq", "c11", 0),
        claim("k-eq", "c12", 1),
        claim("k-eq", "c13", 2),
        # supersede chain (walk)
        claim("k-sup", "c14", 0),
        claim("k-sup", "c15", 1, value_text="changed"),
        # pending_review (low-confidence conflicting)
        claim("k-rev", "c16", 0),
        claim("k-rev", "c17", 1, value_text="other", canonical_confidence=0.7),
        # APPROVAL_STATE equality (only key+value compared)
        claim("k-app", "c18", 0, claim_type="APPROVAL_STATE", predicate="p1"),
        claim("k-app", "c19", 1, claim_type="APPROVAL_STATE", predicate="p2"),
        # key with a store fact + one claim: MUST walk (not a singleton)
        claim("k-store", "c20", 0),
        # r6 all-equal fast-path boundaries:
        # equal under None=='' coercion (insert + confirm, one fact)
        claim("k-eq-null", "c21", 0, object_key=None, temporal_start=None),
        claim("k-eq-null", "c22", 1, object_key="", temporal_start=""),
        # non-promotable rows interleaved around an equal pair
        claim("k-eq-mix", "c23", 0, graph_worthy=False),
        claim("k-eq-mix", "c24", 1),
        claim("k-eq-mix", "c25", 2, resolution_status="pending"),
        claim("k-eq-mix", "c26", 3),
        # differs ONLY in a non-APPROVAL equality field -> supersede walk
        claim("k-neq-gran", "c27", 0, temporal_granularity="date"),
        claim("k-neq-gran", "c28", 1, temporal_granularity="datetime"),
        # APPROVAL_STATE: same value_text but different subject_key still
        # confirms (the special comparator ignores the 9-field set)
        claim("k-app2", "c29", 0, claim_type="APPROVAL_STATE", subject_key="a"),
        claim("k-app2", "c30", 1, claim_type="APPROVAL_STATE", subject_key="b"),
        # APPROVAL_STATE with different value_text -> walk (supersede)
        claim("k-app3", "c31", 0, claim_type="APPROVAL_STATE", value_text="approved"),
        claim("k-app3", "c32", 1, claim_type="APPROVAL_STATE", value_text="revoked"),
    ]
    claims_df = spark.createDataFrame(
        [tuple(r[c] for c in _CLAIM_REPLAY_COLS) for r in rows],
        "canonical_key string, claim_id string, doc_id string, claim_seq int, "
        "sent_at string, claim_type string, predicate string, subject_key string, "
        "subject_entity_id string, subject_entity_type string, object_key string, "
        "object_entity_id string, object_entity_type string, value_text string, "
        "payload_json string, normalized_text string, scope_type string, "
        "scope_id string, temporal_start string, temporal_end string, "
        "temporal_granularity string, timezone string, graph_worthy boolean, "
        "resolution_status string, promotion_status string, canonical_confidence double",
    )
    store_fact = {f.name: None for f in FACTS_SCHEMA.fields}
    store_fact.update(
        fact_id="f-store", canonical_key="k-store", claim_type="COMMITMENT",
        predicate="reports_to", subject_key="s", object_key="o",
        value_text="v-k-store", summary="text k-store", status="current",
        confidence=0.9, first_seen_at="2026-04-01T00:00:00+00:00",
        last_seen_at="2026-04-01T00:00:00+00:00", support_count=1,
    )
    facts_df = spark.createDataFrame(
        [tuple(store_fact[f.name] for f in FACTS_SCHEMA.fields)], FACTS_SCHEMA
    )

    # an empty facts frame (a facts table the semi-join pruned to nothing)
    # must replay exactly as no store facts
    empty_facts = spark.createDataFrame([], FACTS_SCHEMA)
    fact_cols = [f.name for f in FACTS_SCHEMA.fields]
    for existing, stored in ((facts_df, [store_fact]), (empty_facts, [])):
        union = canonicalize_claims(claims_df, existing, seen_at=seen_at)
        got_facts = {tuple(r) for r in split_facts(union).collect()}
        got_updates = {tuple(r) for r in split_claim_updates(union).collect()}
        got_edges = {tuple(r) for r in split_edges(union).collect()}

        exp_facts, exp_updates, exp_edges = set(), set(), set()
        by_key = itertools.groupby(
            sorted(rows, key=lambda r: (r["canonical_key"], r["sent_at"], r["doc_id"], r["claim_seq"])),
            key=lambda r: r["canonical_key"],
        )
        for key, group in by_key:
            store = stored if key == "k-store" else []
            out = replay_key_mutations(store, list(group), seen_at)
            exp_facts |= {tuple(f.get(c) for c in fact_cols) for f in out.facts}
            exp_updates |= {
                (u["claim_id"], u["promotion_status"], u["mutation_action"])
                for u in out.claim_updates
            }
            exp_edges |= {
                (e["claim_id"], e["fact_id"], e["relation_type"]) for e in out.edges
            }
        assert got_facts == exp_facts
        assert got_updates == exp_updates
        assert got_edges == exp_edges
        # the confirm chain must have aggregated support, not three facts
        assert sum(1 for f in got_facts if f[1] == "k-eq") == 1
