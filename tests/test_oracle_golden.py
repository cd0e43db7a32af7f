"""Golden pin of the serial KG oracle (kernel/expected.py); no Spark.

The Spark stages and the oracle call the same per-document row functions
(kernel/pagetext.py, kernel/chunks.py, kernel/claims.py), so the
differential tests check the distributed plan only. This golden guards the
row functions themselves: row count and order-independent digest of the
claims, chunks and current facts the oracle builds over the synthetic corpus
the KG queries are checked on (``__spark_entry__.py`` SYNTH_DOCS/
SYNTH_PERSONS/SEED and RUN_TS), on the columns ``_expected_kg_dir()`` dumps.

Print the digests with ``python -m tests.test_oracle_golden``; an intended
change of extracted rows re-records ``tests/golden/kg_oracle.json`` from it.
"""

from __future__ import annotations

import json
from pathlib import Path

from kgbench.checks import digest
from sage_spark.kernel.expected import (
    expected_chunks,
    expected_claims,
    expected_documents,
    expected_facts_and_edges,
)

GOLDEN = Path(__file__).resolve().parent / "golden" / "kg_oracle.json"

N_DOCS, N_PERSONS, SEED = 300, 20, 7
RUN_TS = "2026-05-01T00:00:00+00:00"

CLAIM_COLS = [
    "doc_id", "claim_id", "claim_type", "predicate", "subject_key", "object_key",
    "value_text", "temporal_start", "canonical_key", "normalized_text",
]
CHUNK_COLS = ["chunk_id", "doc_id", "seq", "summary"]
FACT_COLS = [
    "fact_id", "canonical_key", "claim_type", "predicate", "subject_key",
    "object_key", "value_text", "status", "support_count",
]


def _digest(rows: list[dict], cols: list[str]) -> dict:
    return digest(cols, [{c: r.get(c) for c in cols} for r in rows])


def oracle_digests() -> dict[str, dict]:
    docs = expected_documents(N_DOCS, N_PERSONS, SEED)
    claims = expected_claims(docs, N_PERSONS, SEED, run_ts=RUN_TS)
    chunks = expected_chunks(docs)
    facts, _ = expected_facts_and_edges(claims, seen_at=RUN_TS)
    return {
        "documents": {"rows": len(docs)},
        "claims": _digest(claims, CLAIM_COLS),
        "chunks": _digest(chunks, CHUNK_COLS),
        "facts_current": _digest([f for f in facts if f.get("status") == "current"], FACT_COLS),
    }


def test_oracle_matches_committed_golden():
    assert oracle_digests() == json.loads(GOLDEN.read_text())


if __name__ == "__main__":
    print(json.dumps(oracle_digests(), indent=2, sort_keys=True))
