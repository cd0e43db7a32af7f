"""TableStore upserts on its hash-bucketed layout: the file shape an
upsert leaves behind, the Spark jobs it costs, the empty-batch no-op, the
16-bucket default and the refusal to merge into a table without a layout
record, and the batch (not store) counts ``run_pipeline`` reports on a
resumed run."""

from __future__ import annotations

import json
import uuid
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from sage_spark.datagen import build_groups, synth_webtext
from sage_spark.pipeline import PipelineResult, run_pipeline
from sage_spark.store import LAYOUT_FILE, TableStore

LAYOUTS = {"bucketed": 4}
SCHEMA = "k string, v string"


def _batch(spark, b: int, n: int = 60):
    """``n`` new keys; later batches also re-value five keys of batch 0."""
    rows = [(f"id{b}_{i}", f"v{b}") for i in range(n)]
    if b:
        rows += [(f"id0_{i}", f"u{b}") for i in range(5)]
    return spark.createDataFrame(rows, SCHEMA), dict(rows)


def _parquet_files(table_dir: Path) -> dict[Path, list[Path]]:
    by_dir: dict[Path, list[Path]] = {}
    for f in table_dir.rglob("*.parquet"):
        by_dir.setdefault(f.parent, []).append(f)
    return by_dir


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` runs, counted through a job group of its own."""
    sc = spark.sparkContext
    group = f"test_store-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("layout", LAYOUTS)
def test_upserts_leave_one_file_per_bucket(spark, tmp_path, layout):
    """A create upsert and two merge upserts: each touched bucket dir is
    rewritten by one task into one file, and the content is the merge."""
    store = TableStore(tmp_path / "s", buckets=LAYOUTS[layout])
    expected: dict[str, str] = {}
    for b in range(3):
        df, rows = _batch(spark, b)
        store.upsert(df, "t", ["k"])
        expected.update(rows)
    assert {r["k"]: r["v"] for r in store.read(spark, "t").collect()} == expected
    assert store.read(spark, "t").columns == ["k", "v"]
    by_dir = _parquet_files(store.path("t"))
    assert sorted(d.name for d in by_dir) == [f"__bucket={k}" for k in range(4)]
    assert {d.name: len(fs) for d, fs in by_dir.items() if len(fs) != 1} == {}


# Spark jobs of one merge upsert of ``_batch`` into an existing table, with
# the suite's session (local[4], 4 shuffle partitions). The checkpoint pass
# observes the touched buckets, so no separate job collects them.
MERGE_JOBS = 8


@pytest.mark.parametrize("layout", LAYOUTS)
def test_merge_upsert_job_count(spark, tmp_path, layout):
    store = TableStore(tmp_path / "s", buckets=LAYOUTS[layout])
    store.upsert(_batch(spark, 0)[0], "t", ["k"])
    df, _ = _batch(spark, 1)
    assert _jobs(spark, lambda: store.upsert(df, "t", ["k"])) == MERGE_JOBS


@pytest.mark.parametrize("layout", LAYOUTS)
def test_empty_batch_upsert_is_a_noop(spark, tmp_path, layout):
    store = TableStore(tmp_path / "s", buckets=LAYOUTS[layout])
    empty = spark.createDataFrame([], SCHEMA)
    store.upsert(empty, "absent", ["k"])
    assert store.read(spark, "absent", empty.schema).count() == 0
    # a partitioned write of zero rows would leave an unreadable dir
    assert not store.exists("absent")

    df, rows = _batch(spark, 0)
    store.upsert(df, "t", ["k"])
    files = _parquet_files(store.path("t"))
    store.upsert(empty, "t", ["k"])
    assert {r["k"]: r["v"] for r in store.read(spark, "t").collect()} == rows
    assert _parquet_files(store.path("t")) == files  # nothing rewritten


def test_default_layout_is_16_buckets_and_layoutless_tables_are_refused(spark, tmp_path):
    """A store built without a bucket count lays tables out in 16 hashed
    dirs with a layout record. A table without that record (written by
    ``overwrite``, as a flat store was) or with another bucket count still
    reads, but an upsert or compaction of it raises instead of merging into
    dirs it cannot prune."""
    store = TableStore(tmp_path / "s")
    df, rows = _batch(spark, 0, n=200)
    store.upsert(df, "t", ["k"])
    dirs = {d.name for d in _parquet_files(store.path("t"))}
    assert dirs == {f"__bucket={k}" for k in range(16)}
    layout = json.loads((store.path("t") / LAYOUT_FILE).read_text())
    assert (layout["buckets"], layout["layout_keys"]) == (16, ["k"])

    store.overwrite(df, "flat")
    upd, _ = _batch(spark, 1, n=3)
    with pytest.raises(ValueError, match=f"no {LAYOUT_FILE}"):
        store.upsert(upd, "flat", ["k"])
    with pytest.raises(ValueError, match=f"no {LAYOUT_FILE}"):
        store.compact(spark, "flat")
    assert {r["k"]: r["v"] for r in store.read(spark, "flat").collect()} == rows

    other = TableStore(tmp_path / "s", buckets=4)
    with pytest.raises(ValueError, match="layout mismatch"):
        other.upsert(upd, "t", ["k"])
    assert {r["k"]: r["v"] for r in other.read(spark, "t").collect()} == rows


def _totals(spark, store: TableStore) -> dict[str, int]:
    facts = store.read(spark, "facts")
    return {
        "documents": store.read(spark, "documents").count(),
        "chunks": store.read(spark, "chunks").count(),
        "claims": store.read(spark, "claims").count(),
        "facts_current": facts.filter(F.col("status") == "current").count(),
        "facts_superseded": facts.filter(F.col("status") == "superseded").count(),
        "edges": store.read(spark, "edges").count(),
    }


@pytest.mark.parametrize("layout", LAYOUTS)
def test_pipeline_reports_batch_counts_and_resume_is_zero(spark, tmp_path, layout):
    """``PipelineResult`` counts what each run wrote. Into an empty store
    that is the store; a second batch adds exactly its new documents and
    chunks; a resumed run over stored documents reports all zeros while
    the store totals stay put."""
    store = TableStore(tmp_path / "kg", buckets=LAYOUTS[layout])
    groups = build_groups()
    first, persons_df = synth_webtext(spark, 20, n_persons=10, seed=7, partitions=2)
    persons = [r.asDict() for r in persons_df.collect()]
    full, _ = synth_webtext(spark, 30, n_persons=10, seed=7, partitions=2)

    def run(webtext, run_id: str) -> PipelineResult:
        return run_pipeline(
            spark, webtext, persons, groups, store, run_id=run_id, run_ts="2026-04-02T00:00:00+00:00"
        )

    r1 = run(first, "s1")
    totals = _totals(spark, store)
    assert r1.documents > 0 and r1.facts_current > 0 and r1.edges > 0
    assert r1.claims >= totals.pop("claims") > 0  # extracted, before the claim_id dedupe
    assert {k: getattr(r1, k) for k in totals} == totals

    r2 = run(full, "s2")
    grown = _totals(spark, store)
    assert r2.documents == grown["documents"] - totals["documents"] > 0
    assert r2.chunks == grown["chunks"] - totals["chunks"]

    r3 = run(full, "s3")
    assert r3 == PipelineResult(0, 0, 0, 0, 0, 0, 0, 0)
    assert _totals(spark, store) == grown
    summary = (
        store.read(spark, "runs")
        .filter((F.col("run_id") == "s3") & (F.col("partition_id") == -1))
        .collect()
    )
    assert [(r["docs_processed"], r["claims_extracted"]) for r in summary] == [(0, 0)]


class _CrashOnce(TableStore):
    """A store whose next upsert into ``crash_on`` dies before writing."""

    crash_on: str | None = None

    def upsert(self, df, table, keys, **kwargs):
        if table == self.crash_on:
            self.crash_on = None
            raise RuntimeError(f"injected crash before the {table} upsert")
        super().upsert(df, table, keys, **kwargs)


KG_TABLES = ("documents", "chunks", "claims", "claim_fact_edges", "facts", "edges")


def _kg_state(spark, store: TableStore, run_id: str) -> dict[str, list[str]]:
    """Sorted rows of every KG table plus ``run_id``'s lineage summary row."""
    state = {t: sorted(map(repr, store.read(spark, t).collect())) for t in KG_TABLES}
    state["runs"] = sorted(
        map(
            repr,
            store.read(spark, "runs")
            .filter((F.col("run_id") == run_id) & (F.col("partition_id") == -1))
            .collect(),
        )
    )
    return state


def _clean_and_resumed(
    spark, tmp_path, crash_on: str, maintain_components: bool = False
) -> tuple[TableStore, TableStore]:
    """Two batches into a clean store, and into a store whose ``crash_on``
    upsert dies once during the second batch, which is then rerun with the
    same run id and timestamp. ``maintain_components`` is passed to every
    run. Returns (clean, crashed)."""
    groups = build_groups()
    first, persons_df = synth_webtext(spark, 20, n_persons=10, seed=7, partitions=2)
    persons = [r.asDict() for r in persons_df.collect()]
    full, _ = synth_webtext(spark, 30, n_persons=10, seed=7, partitions=2)

    def run(store, webtext, run_id: str) -> None:
        run_pipeline(
            spark, webtext, persons, groups, store, run_id=run_id,
            run_ts="2026-04-02T00:00:00+00:00",
            maintain_components=maintain_components,
        )

    clean = TableStore(tmp_path / "clean", buckets=4)
    run(clean, first, "c1")
    run(clean, full, "c2")

    crashed = _CrashOnce(tmp_path / "crashed", buckets=4)
    run(crashed, first, "c1")
    crashed.crash_on = crash_on
    with pytest.raises(RuntimeError, match="injected crash"):
        run(crashed, full, "c2")
    run(crashed, full, "c2")
    return clean, crashed


def test_crash_mid_materialization_resumes_to_the_clean_store(spark, tmp_path):
    """A batch that dies after some of its upserts landed, and is rerun
    with the same run id and timestamp, leaves the store a clean run
    leaves: the skip-if-exists gate (`documents`) commits last, so the
    rerun replays the batch instead of skipping its documents."""
    clean, crashed = _clean_and_resumed(spark, tmp_path, "facts")
    assert _kg_state(spark, crashed, "c2") == _kg_state(spark, clean, "c2")


def test_crash_in_component_maintenance_resumes_to_the_clean_store(spark, tmp_path):
    """The incremental component store is maintained before the `documents`
    commit record: a batch whose `components` upsert dies is rerun in full,
    and the rerun leaves the components and documents a clean run leaves."""
    clean, crashed = _clean_and_resumed(spark, tmp_path, "components", True)
    for table in ("components", "documents"):
        rows = [sorted(map(repr, store.read(spark, table).collect())) for store in (clean, crashed)]
        assert rows[0] == rows[1], table
