"""The benchmark's workloads: set-up, timed operations and the traced run.

Both workloads drive the program through ``start_kg_ingestion``, the
engine's drain-mode entry point (``jobs/run_kg_stream.py``), one operation
at a time (a closed loop with one client):

* ``bootstrap`` drains one drop of a fresh corpus into an empty 16-bucket
  store in a single micro-batch: one ``run_pipeline`` call in a fresh JVM,
  as ``jobs/run_kg.py`` makes it. The JVM's start-up (class loading, JIT
  compilation) is part of the cost, as it is for that job; the corpus is
  large enough that the kernels and upserts take a measurable share too.
* ``stream_drain`` drains one small file as one micro-batch into a copy of
  a store the set-up built; the set-up's build also warms the JVM. Its
  pages collide with stored facts and some repeat stored pages, so the
  engine's fixed per-batch cost (upsert jobs, lineage tail) dominates and
  per-document work is small.

The traced run adds the store's consumers after the drain: ``run_insight``'s
message insight and ``run_maintain``'s analysis of one new batch.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import traceback
from contextlib import nullcontext
from dataclasses import dataclass
from pathlib import Path
from time import perf_counter
from typing import Callable

from pyspark import SparkContext
from pyspark.sql import SparkSession, functions as F

from sage_spark.operators.extraction import extract_claims_stage, extract_documents
from sage_spark.operators.incremental import (
    affected_documents,
    changed_entities,
    fact_diff,
    impact_radius,
)
from sage_spark.operators.insight import message_insight, with_display_labels, with_display_text
from sage_spark.operators.pagerank import personalized_pagerank
from sage_spark.pipeline import _first_per_doc, run_pipeline
from sage_spark.session import build_spark
from sage_spark.store import TableStore
from sage_spark.streaming.ingest import start_kg_ingestion, stream_webtext_from_dir

from kgbench import checks, host, inputs as gen
from kgbench.stats import median
from kgbench.tracing import (
    KERNEL_SPANS,
    UPSERT_SPANS,
    Recorder,
    TracedStore,
    layer_metrics,
    read_event_log,
    span_table,
    traced_pipeline,
)

WORK_DIR = ".kgbench_work"
RUNS_DIR = ".kgbench_runs"
BUCKETS = 16  # run_kg's default
DEFAULT_SEED = 1
PREBUILD_TS = "2026-05-01T00:00:00+00:00"
MAINTAIN_TS = "2026-06-01T00:00:00+00:00"
MAINTAIN_PAGES = (30_000, 30_040)
PPR_ITERATIONS = 10  # run_maintain's default


WORKLOADS: dict[str, Callable[[Path, int], gen.Inputs]] = {
    "bootstrap": gen.bootstrap_inputs,
    "stream_drain": gen.stream_inputs,
}


@dataclass
class Drain:
    wall_s: float
    cpu_s: float
    trigger_s: list[float]
    add_batch_s: float
    query_group: str
    store_bytes: int


def start_session(work: Path, traced: bool) -> SparkSession:
    for name in ("tmp", "spark-local", "events"):
        (work / name).mkdir(parents=True, exist_ok=True)
    # keep every temp file of Python, the JVM and Spark inside the run dir
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    tempfile.tempdir = None
    conf = {
        "spark.driver.memory": host.driver_heap(),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
        "spark.local.dir": str(work / "spark-local"),
        # relative: a unix socket path must stay under 108 bytes
        "spark.python.unix.domain.socket.dir": os.path.relpath(work / "tmp"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "events"),
                "spark.eventLog.compress": "false",
            }
        )
    n = host.cores()
    spark = build_spark(
        app_name="kgbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark: SparkSession | None) -> None:
    """Stop Spark, then the JVM, and wait for it: the JVM exits when the
    pipe it reads from closes, and takes the Python workers with it."""
    gateway = SparkContext._gateway
    if spark is not None:
        spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
    # a later session in this process launches a fresh JVM
    SparkContext._gateway = None
    SparkContext._jvm = None


def drain(spark, drop: Path, store: TableStore, ckpt: Path, seed: int) -> Drain:
    stream = stream_webtext_from_dir(spark, str(drop))
    cpu0, start = host.tree_cpu_s(), perf_counter()
    query = start_kg_ingestion(
        stream, gen.persons_for(seed), gen.groups(), store, checkpoint_dir=str(ckpt)
    )
    query.awaitTermination()
    wall, cpu = perf_counter() - start, host.tree_cpu_s() - cpu0
    batches = [p["durationMs"] for p in query.recentProgress if "addBatch" in p["durationMs"]]
    return Drain(
        wall_s=wall,
        cpu_s=cpu,
        trigger_s=[b["triggerExecution"] / 1000 for b in batches],
        add_batch_s=sum(b["addBatch"] for b in batches) / 1000,
        query_group=str(query.runId),
        store_bytes=checks.store_bytes(store.root),
    )


def read_phase(spark, store_root: Path, work: Path, seed: int, recorder: Recorder) -> dict:
    """The store's consumers, one span each; returns output digests."""
    store = TableStore(store_root, buckets=BUCKETS)
    persons = gen.persons_for(seed)
    documents = store.read(spark, "documents").withColumn("origin_message_id", F.col("doc_id"))
    claims = store.read(spark, "claims")
    links = store.read(spark, "claim_fact_edges")
    facts = store.read(spark, "facts")
    names = spark.createDataFrame(
        [(p["id"], p["name"]) for p in persons], "entity_id string, display_name string"
    )
    out = {}
    with recorder.span("insight"):
        decorated = with_display_text(with_display_labels(claims, names))
        out["insight"] = message_insight(documents, decorated, links, facts).collect()

    # run_maintain's analysis of one new batch, gated on the store
    path = work / "inputs" / "maintain.parquet"
    gen.write_pages(path, gen.short_pages(seed, persons, *MAINTAIN_PAGES))
    new_docs = _first_per_doc(extract_documents(spark.read.parquet(str(path)))).join(
        store.read(spark, "documents").select("doc_id"), "doc_id", "left_anti"
    )
    batch = extract_claims_stage(new_docs, persons, gen.groups(), run_ts=MAINTAIN_TS)
    batch = batch.localCheckpoint(eager=True)
    with recorder.span("fact_diff"):
        diff = fact_diff(batch, facts).localCheckpoint(eager=True)
        out["fact_diff"] = diff.collect()
    seeds = changed_entities(diff, batch)
    edges = claims.filter(
        F.col("subject_entity_id").isNotNull() & F.col("object_entity_id").isNotNull()
    ).select(F.col("subject_entity_id").alias("src"), F.col("object_entity_id").alias("dst"))
    with recorder.span("impact_radius"):
        impacted = impact_radius(seeds, edges, max_depth=2)
        out["impact_radius"] = impacted.collect()
    with recorder.span("ppr"):
        sym = edges.unionByName(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).filter(F.col("src") != F.col("dst"))
        out["ppr"] = personalized_pagerank(
            sym, seeds.select("entity_id"), iterations=PPR_ITERATIONS
        ).collect()
    with recorder.span("affected_documents"):
        out["affected_documents"] = affected_documents(impacted, claims).collect()
    return {name: checks.rows_digest(rows) for name, rows in out.items()}


def read_problems(digests: dict, expected: dict | None) -> list[str]:
    problems = [f"{name}: no rows" for name, d in digests.items() if d["rows"] == 0]
    for name, want in (expected or {}).items():
        if digests.get(name) != want:
            problems.append(f"{name}: {digests.get(name)} != recorded {want}")
    return problems


def run_workload(name: str, seed: int, seconds: float, traced: bool, root: Path, expected: dict) -> dict:
    """One run: set up, drain until ``seconds`` have passed (once when
    traced), check every output and assemble the metrics."""
    want = expected.get(name) if seed == DEFAULT_SEED else None
    work = root / WORK_DIR / f"{name}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    spark = None
    try:
        t0 = perf_counter()
        spark = start_session(work, traced)
        data = WORKLOADS[name](work / "inputs", seed)
        template = None
        if data.base is not None:
            template = work / "template"
            run_pipeline(
                spark, spark.read.parquet(str(data.base)), gen.persons_for(seed), gen.groups(),
                TableStore(template, buckets=BUCKETS), run_id="prebuild", run_ts=PREBUILD_TS,
            )
        setup_s = perf_counter() - t0

        control = [host.cpu_control_mb_per_s()]
        recorder = Recorder(spark.sparkContext) if traced else None
        gc0, jit0 = host.jvm_gc_s(spark), host.jvm_jit_s(spark)
        drains: list[Drain] = []
        failures: list[str] = []
        start = perf_counter()
        while True:
            k = len(drains) + len(failures)
            store_root = work / f"store-{k}"
            if template is not None:
                shutil.copytree(template, store_root)
            store = (
                TracedStore(store_root, buckets=BUCKETS, recorder=recorder)
                if traced else TableStore(store_root, buckets=BUCKETS)
            )
            try:
                with traced_pipeline(recorder) if traced else nullcontext():
                    op = drain(spark, data.drop, store, work / f"ckpt-{k}", seed)
                problems = checks.store_problems(store_root, data, want and want.get("store"))
            except Exception as exc:  # a failed operation is counted, not fatal
                traceback.print_exc()
                problems = [f"{type(exc).__name__}: {exc}"]
            if problems:
                failures.append("; ".join(problems))
            else:
                drains.append(op)
            if traced or perf_counter() - start >= seconds:
                break
            shutil.rmtree(store_root)
        gc_s, jit_s = host.jvm_gc_s(spark) - gc0, host.jvm_jit_s(spark) - jit0
        peak_rss = host.peak_rss_mb()
        control.append(host.cpu_control_mb_per_s())

        digests = None
        if traced and drains:
            digests = read_phase(spark, store_root, work, seed, recorder)
            failures += read_problems(digests, want and want.get("reads"))
        stop_session(spark)
        spark = None
        if not drains:
            raise RuntimeError(f"every operation failed: {failures}")

        cpu_s = median([d.cpu_s for d in drains])
        metrics = {
            "setup_s": (setup_s, "s"),
            "cpu_s": (cpu_s, "s"),
            "docs_per_cpu_s": (data.drop_rows / cpu_s, "docs/s"),
            "store_bytes_per_input_byte": (
                median([d.store_bytes / data.bytes for d in drains]), "ratio"
            ),
            "peak_rss_mb": (peak_rss, "MB"),
        }
        # wall time swings with other tenants' load on a shared host far
        # more than CPU seconds do: recorded and printed, not bounded
        run_s = median([d.wall_s for d in drains])
        wall = {"run_s": (run_s, "s"), "docs_per_s": (data.drop_rows / run_s, "docs/s")}
        result = {
            "workload": name,
            "seed": seed,
            "attempted": len(drains) + len(failures),
            "failed": len(failures),
            "failures": failures,
            "metrics": metrics,
            "wall": wall,
            "control_mb_per_s": control,
            "store_digests": checks.store_digests(store_root) if traced and drains else None,
            "read_digests": digests,
        }
        if traced:
            op = drains[-1]
            table = span_table(
                recorder.spans,
                read_event_log(work / "events"),
                host.cores(),
                stream_groups={op.query_group},
                stream_overhead_s=sum(op.trigger_s) - op.add_batch_s,
            )
            covered = sum(
                s["end"] - s["start"] for s in recorder.spans if s["name"] == "pipeline"
            ) + table["stream.overhead"]["wall_s"]
            result["spans"] = table
            result["kernel_upsert_cpu_s"] = sum(
                table[span]["cpu_s"] for span in KERNEL_SPANS + UPSERT_SPANS
            )
            result["layers"] = layer_metrics(
                table,
                recorder.spans,
                buckets=BUCKETS,
                files_per_bucket=checks.files_per_bucket(store_root),
                add_batch_s=op.add_batch_s,
                gc_s=gc_s,
                jit_s=jit_s,
                unattributed_frac=max(op.wall_s - covered, 0.0) / op.wall_s,
            )
        return result
    finally:
        if spark is not None or SparkContext._gateway is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def record_run(root: Path, result: dict, traced: bool) -> None:
    """Keep the run's record: untraced runs append to the history (run_s
    and CPU control), the traced run writes its span table and the tracing
    overhead against the untraced runs recorded so far."""
    runs = root / RUNS_DIR
    runs.mkdir(exist_ok=True)
    history = runs / "history.jsonl"
    name = result["workload"]
    run_s = result["wall"]["run_s"][0]
    if not traced:
        with open(history, "a") as fh:
            fh.write(json.dumps({
                "workload": name, "seed": result["seed"], "run_s": run_s,
                "control_mb_per_s": result["control_mb_per_s"],
            }) + "\n")
        return
    past = []
    if history.exists():
        past = [json.loads(line) for line in history.read_text().splitlines()]
    untraced = [h["run_s"] for h in past if h["workload"] == name]
    trace = {
        **{k: result[k] for k in ("workload", "seed", "spans", "layers", "control_mb_per_s",
                                  "kernel_upsert_cpu_s")},
        "run_s": run_s,
        "cpu_s": result["metrics"]["cpu_s"][0],
        "untraced_run_s": median(untraced) if untraced else None,
        "tracing_overhead_s": run_s - median(untraced) if untraced else None,
    }
    (runs / f"trace-{name}.json").write_text(json.dumps(trace, indent=1))
