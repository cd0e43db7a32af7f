"""Output checks: row counts and content digests of the store tables and
read outputs, plus invariants that hold for every seed."""

from __future__ import annotations

from pathlib import Path

import pyarrow.parquet as pq

from sage_spark.kernel.chunks import chunk_text, content_doc_id
from sage_spark.kernel.pagetext import text_from_html
from sage_spark.operators.chunking import CHUNK_OVERLAP_SENTENCES, CHUNK_WORD_BUDGET
from sage_spark.store import TableStore

from kgbench.stats import table_digest

# columns stamped from the wall clock of the micro-batch that wrote them
VOLATILE = {
    "created_at",
    "claim_created_at",
    "first_seen_at",
    "last_seen_at",
    "superseded_at",
    "previous_superseded_at",
    "processed_at",
}


def published_tables(store: Path) -> list[Path]:
    return [store / t for t in TableStore(store).list_tables()]


def store_bytes(store: Path) -> int:
    return sum(f.stat().st_size for t in published_tables(store) for f in t.rglob("*.parquet"))


def files_per_bucket(store: Path) -> float:
    """Mean parquet files per bucket dir over every published table."""
    counts = [
        len(list(b.glob("*.parquet")))
        for t in published_tables(store)
        for b in t.iterdir()
        if b.is_dir() and b.name.startswith("__bucket=")
    ]
    return sum(counts) / len(counts) if counts else 0.0


def _rows(columns: list[str], records: list[dict]) -> list[tuple]:
    keep = sorted(c for c in columns if c not in VOLATILE)
    return [tuple(r[c] for c in keep) for r in records]


def read_table(table_dir: Path) -> tuple[list[str], list[dict]]:
    records: list[dict] = []
    columns: list[str] = []
    for f in sorted(table_dir.rglob("*.parquet")):
        t = pq.read_table(f)
        columns = t.column_names
        records.extend(t.to_pylist())
    return columns, records


def digest(columns: list[str], records: list[dict]) -> dict:
    return {"rows": len(records), "digest": table_digest(_rows(columns, records))}


def store_digests(store: Path) -> dict[str, dict]:
    return {t.name: digest(*read_table(t)) for t in published_tables(store)}


def rows_digest(rows, float_digits: int = 9) -> dict:
    """Digest of collected Spark rows; floats rounded so summation order
    inside an aggregate cannot flip the last bits."""
    records = [
        {k: round(v, float_digits) if isinstance(v, float) else v for k, v in r.asDict().items()}
        for r in rows
    ]
    columns = list(records[0]) if records else []
    return digest(columns, records)


def expected_doc_ids(pages: list[dict]) -> set[str]:
    """doc_ids the engine must store: English pages, content-deduplicated."""
    return {content_doc_id(text_from_html(p["html"])) for p in pages if p["lang"] == "en"}


def store_problems(store: Path, inputs, expected: dict | None) -> list[str]:
    """Everything wrong with a store the workload built; empty when right."""
    problems: list[str] = []
    tables = {t.name: read_table(t) for t in published_tables(store)}
    for name in ("documents", "chunks", "claims", "claim_fact_edges", "facts", "edges", "runs"):
        if name not in tables:
            return [f"table {name} missing"]
    docs = {r["doc_id"]: r for r in tables["documents"][1]}
    want = expected_doc_ids(inputs.base_pages + [p for b in inputs.batch_pages for p in b])
    if set(docs) != want:
        problems.append(f"documents: {len(docs)} stored, {len(want)} expected")
    chunks_per_doc: dict[str, int] = {}
    for c in tables["chunks"][1]:
        chunks_per_doc[c["doc_id"]] = chunks_per_doc.get(c["doc_id"], 0) + 1
    long_docs = [r for r in docs.values() if r["url"] in inputs.long_urls]
    if not long_docs and inputs.long_urls:
        problems.append("no long page stored")
    if any(
        chunks_per_doc.get(r["doc_id"], 0)
        != len(chunk_text(r["content"], CHUNK_WORD_BUDGET, CHUNK_OVERLAP_SENTENCES))
        for r in long_docs
    ):
        problems.append("a long page's chunks differ from the word-budget chunker's")
    if set(chunks_per_doc) != set(docs):
        problems.append("chunks and documents disagree on doc_ids")
    claims = tables["claims"][1]
    if not claims or any(c["doc_id"] not in docs for c in claims):
        problems.append("claims missing or pointing at unknown documents")
    fact_ids = {f["fact_id"] for f in tables["facts"][1]}
    if len(fact_ids) != len(tables["facts"][1]):
        problems.append("duplicate fact_id")
    claim_ids = {c["claim_id"] for c in claims}
    if any(e["fact_id"] not in fact_ids or e["claim_id"] not in claim_ids
           for e in tables["claim_fact_edges"][1]):
        problems.append("claim_fact_edges point at unknown claims or facts")
    # lineage: each micro-batch ingests exactly the documents the store did
    # not hold yet, so pages repeated from an earlier batch add nothing
    seen = expected_doc_ids(inputs.base_pages)
    summaries = {
        r["run_id"]: r["docs_processed"] for r in tables["runs"][1] if r["partition_id"] == -1
    }
    for k, batch in enumerate(inputs.batch_pages):
        fresh = expected_doc_ids(batch) - seen
        seen |= fresh
        if summaries.get(f"stream-{k}") != len(fresh):
            problems.append(
                f"batch {k} ingested {summaries.get(f'stream-{k}')} documents, {len(fresh)} new"
            )
    if expected is not None:
        got = {name: digest(*t) for name, t in tables.items()}
        for name, want_digest in expected.items():
            if got.get(name) != want_digest:
                problems.append(f"{name}: {got.get(name)} != recorded {want_digest}")
    return problems
