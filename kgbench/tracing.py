"""Span recorder, traced store and Spark event-log attribution.

All measurement sits outside the program. Spans wrap calls into
``sage_spark``'s public functions: the ``TableStore`` methods the pipeline
calls, ``run_pipeline`` as the streaming ingest calls it, and the read-side
operators. Each span sets its own Spark job group, so the event log's jobs
and task metrics map back onto the span that caused them.
"""

from __future__ import annotations

import json
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path
from time import perf_counter

import pyarrow.parquet as pq

from sage_spark.store import TableStore

GROUP = "spark.jobGroup.id"

# run_pipeline's staging overwrites, named after the stage each one runs
STAGING_SPANS = {
    "documents": "extract_documents",
    "claims": "extract_claims",
    "mutations": "canonicalize",
}
KERNEL_SPANS = ["extract_documents", "extract_claims", "canonicalize"]
UPSERT_SPANS = [
    f"upsert.{t}"
    for t in ("documents", "chunks", "claims", "claim_fact_edges", "facts", "edges", "runs")
]
READ_SPANS = ["insight", "fact_diff", "impact_radius", "ppr", "affected_documents"]
SPANS = KERNEL_SPANS + UPSERT_SPANS + ["pipeline.tail", "stream.overhead"] + READ_SPANS
SHUFFLE_SPANS = ["canonicalize"] + UPSERT_SPANS + READ_SPANS
PYTHON_SPANS = KERNEL_SPANS + ["upsert.chunks"]


class Recorder:
    """In-memory spans; one active stack (the benchmark runs one operation
    at a time, so spans never interleave)."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "group": f"kgbench:{name}#{len(self.spans)}",
            "parent": self._stack[-1]["group"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        prev = self.sc.getLocalProperty(GROUP)
        self.sc.setLocalProperty(GROUP, rec["group"])
        rec["start"] = perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = perf_counter()
            self.sc.setLocalProperty(GROUP, prev)
            self._stack.pop()


@contextmanager
def traced_pipeline(recorder: Recorder):
    """Wrap ``run_pipeline`` where the streaming ingest looks it up, so each
    micro-batch's pipeline call is one span."""
    import sage_spark.streaming.ingest as ingest

    inner = ingest.run_pipeline

    def run_pipeline(*args, **kwargs):
        with recorder.span("pipeline"):
            return inner(*args, **kwargs)

    ingest.run_pipeline = run_pipeline
    try:
        yield
    finally:
        ingest.run_pipeline = inner


def parquet_sizes(table_dir: Path) -> dict[str, int]:
    if not table_dir.exists():
        return {}
    return {str(p): p.stat().st_size for p in table_dir.rglob("*.parquet")}


class TracedStore(TableStore):
    """TableStore whose pipeline-facing writes are spans with store counts."""

    def __init__(self, root, *, buckets: int, recorder: Recorder) -> None:
        super().__init__(root, buckets=buckets)
        self.recorder = recorder
        self._rows: dict[str, int] = {}  # parquet files are immutable

    def _file_rows(self, files) -> int:
        total = 0
        for f in files:
            if f not in self._rows:
                self._rows[f] = pq.ParquetFile(f).metadata.num_rows
            total += self._rows[f]
        return total

    def overwrite(self, df, table: str) -> None:
        stage = table.rsplit("/", 1)[-1] if table.startswith("_staging/") else None
        if stage not in STAGING_SPANS:
            super().overwrite(df, table)
            return
        with self.recorder.span(STAGING_SPANS[stage]) as rec:
            super().overwrite(df, table)
            rec["rows_out"] = self._file_rows(parquet_sizes(self.path(table)))

    def upsert(self, df, table: str, keys: list[str], **kwargs) -> None:
        with self.recorder.span(f"upsert.{table}") as rec:
            before = parquet_sizes(self.path(table))
            rows_before = self._file_rows(before)
            super().upsert(df, table, keys, **kwargs)
            after = parquet_sizes(self.path(table))
            new = [f for f in after if f not in before]
            rows_after = self._file_rows(after)
            table_bytes = sum(after.values())
            rec["bytes_written"] = sum(after[f] for f in new)
            rec["new_row_bytes"] = (
                max(rows_after - rows_before, 0) * table_bytes / rows_after if rows_after else 0.0
            )
            rec["touched_buckets"] = len({Path(f).parent for f in new})


# -- event log -------------------------------------------------------------

@dataclass
class GroupStats:
    jobs: int = 0
    run_ms: int = 0
    cpu_ns: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    python_bytes: int = 0
    input_bytes: int = 0

    def add(self, other: "GroupStats") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


PYTHON_ACCUMS = ("data sent to Python workers", "data returned from Python workers")


def event_log_files(log_dir: Path) -> list[Path]:
    return sorted(
        p for p in log_dir.rglob("*")
        if p.is_file() and not p.name.startswith(".") and "appstatus" not in p.name
    )


def parse_event_log(lines) -> dict[str | None, GroupStats]:
    """Per job group: jobs, executor run and CPU time, shuffle bytes
    written (each repartitioned byte once, as Hyper Dimension Shuffle
    counts it), disk spill, Arrow bytes to and from Python workers, and
    bytes scanned."""
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str | None] = {}
    for line in lines:
        event = json.loads(line)
        kind = event["Event"]
        if kind == "SparkListenerJobStart":
            group = (event.get("Properties") or {}).get(GROUP)
            groups[group].jobs += 1
            for stage in event["Stage IDs"]:
                stage_group[stage] = group
        elif kind == "SparkListenerTaskEnd":
            g = groups[stage_group.get(event["Stage ID"])]
            m = event.get("Task Metrics") or {}
            g.run_ms += m.get("Executor Run Time", 0)
            g.cpu_ns += m.get("Executor CPU Time", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
            g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            g.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
            for acc in (event.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") in PYTHON_ACCUMS:
                    g.python_bytes += int(acc.get("Update") or 0)
    return dict(groups)


def read_event_log(log_dir: Path) -> dict[str | None, GroupStats]:
    def lines():
        for f in event_log_files(log_dir):
            with open(f) as fh:
                yield from fh

    return parse_event_log(lines())


# -- per-layer metrics -----------------------------------------------------

def _span_row(wall: float, stats: GroupStats, cores: int) -> dict:
    busy = stats.run_ms / 1000
    return {
        "wall_s": wall,
        "jobs": stats.jobs,
        "cpu_s": stats.cpu_ns / 1e9,
        "idle_core_frac": 1.0 - busy / (wall * cores) if wall > 0 else 1.0,
        "shuffle_bytes": stats.shuffle_bytes,
        "spill_bytes": stats.spill_bytes,
        "python_bytes": stats.python_bytes,
        "scan_bytes": stats.input_bytes,
    }


def span_table(
    spans: list[dict],
    groups: dict[str | None, GroupStats],
    cores: int,
    *,
    stream_groups: set[str],
    stream_overhead_s: float,
) -> dict[str, dict]:
    """One row per span name, summed over the span's instances. Self time
    of ``pipeline`` (its wall minus its children's) is ``pipeline.tail``;
    the stream's own jobs run under the query's job group."""
    walls: dict[str, float] = defaultdict(float)
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    by_group = {s["group"]: s for s in spans}
    for s in spans:
        name = "pipeline.tail" if s["name"] == "pipeline" else s["name"]
        walls[name] += s["end"] - s["start"]
        stats[name].add(groups.get(s["group"], GroupStats()))
        parent = by_group.get(s["parent"])
        if parent is not None and parent["name"] == "pipeline":
            walls["pipeline.tail"] -= s["end"] - s["start"]
    stream = GroupStats()
    for g in stream_groups:
        stream.add(groups.get(g, GroupStats()))
    walls["stream.overhead"] = stream_overhead_s
    stats["stream.overhead"] = stream
    return {name: _span_row(walls[name], stats[name], cores) for name in SPANS}


def layer_unit(name: str) -> str:
    metric = name.rsplit(".", 1)[1]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    if metric.endswith(("_frac", "_amp")):
        return "ratio"
    return "count"


def layer_metrics(
    table: dict[str, dict],
    spans: list[dict],
    *,
    buckets: int,
    files_per_bucket: float,
    add_batch_s: float,
    gc_s: float,
    jit_s: float,
    unattributed_frac: float,
) -> dict[str, float]:
    """Flatten the span table into the ``<span>.<metric>`` names the
    benchmark declares, plus the store, pipeline and JVM counts."""
    out: dict[str, float] = {}
    for name in SPANS:
        row = table[name]
        for metric in ("wall_s", "jobs", "cpu_s", "idle_core_frac"):
            out[f"{name}.{metric}"] = row[metric]
        if name in SHUFFLE_SPANS:
            out[f"{name}.shuffle_bytes"] = row["shuffle_bytes"]
            out[f"{name}.spill_bytes"] = row["spill_bytes"]
        if name in PYTHON_SPANS:
            out[f"{name}.python_bytes"] = row["python_bytes"]

    def total(name: str, key: str) -> float:
        return sum(s.get(key, 0) for s in spans if s["name"] == name)

    upserts = [s for s in spans if s["name"].startswith("upsert.")]
    pipelines = [s for s in spans if s["name"] == "pipeline"]
    new_row_bytes = sum(s["new_row_bytes"] for s in upserts)
    out["extract_documents.rows_out"] = total("extract_documents", "rows_out")
    out["extract_claims.claims_out"] = total("extract_claims", "rows_out")
    out["store.touched_bucket_frac"] = (
        sum(s["touched_buckets"] for s in upserts) / (len(upserts) * buckets) if upserts else 0.0
    )
    out["store.write_amp"] = (
        sum(s["bytes_written"] for s in upserts) / new_row_bytes if new_row_bytes else 0.0
    )
    out["store.files_per_bucket"] = files_per_bucket
    out["store.scan_bytes"] = sum(table[name]["scan_bytes"] for name in READ_SPANS)
    pipeline_jobs = table["pipeline.tail"]["jobs"] + sum(
        table[name]["jobs"] for name in KERNEL_SPANS + UPSERT_SPANS
    )
    out["pipeline.jobs"] = pipeline_jobs / len(pipelines) if pipelines else 0.0
    out["stream.add_batch_s"] = add_batch_s
    out["jvm.gc_s"] = gc_s
    out["jvm.jit_s"] = jit_s
    out["trace.unattributed_frac"] = unattributed_frac
    return out
