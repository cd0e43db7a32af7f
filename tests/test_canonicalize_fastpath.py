"""Spark-free check of canonicalize's vectorized fast path: no pandas
warnings on object-dtype null columns, and the same rows as the serial
replay of kernel/facts.py."""

from __future__ import annotations

import warnings

import pandas as pd

from sage_spark.kernel.facts import replay_key_mutations
from sage_spark.operators.canonicalize import (
    _CLAIM_REPLAY_COLS,
    _FACT_COLS,
    _emit_uncontested,
    _records_nullsafe,
)
from sage_spark.schema import CLAIM_FACT_EDGES_SCHEMA, CLAIM_UPDATES_SCHEMA

SEEN_AT = "2026-06-01T00:00:00+00:00"
COLS = {
    "fact": _FACT_COLS,
    "claim_update": [f.name for f in CLAIM_UPDATES_SCHEMA.fields],
    "edge": [f.name for f in CLAIM_FACT_EDGES_SCHEMA.fields],
}


def _claim(key: str, **over) -> dict:
    row = {c: None for c in _CLAIM_REPLAY_COLS}
    row.update(
        canonical_key=key, claim_id=f"c-{key}", doc_id="d0", claim_seq=0,
        sent_at="2026-05-01T00:00:00+00:00", claim_type="COMMITMENT",
        predicate="reports_to", subject_key="s", object_key="o",
        value_text=f"v-{key}", normalized_text=f"text {key}",
        graph_worthy=True, resolution_status="resolved", canonical_confidence=0.9,
    )
    row.update(over)
    return row


# one claim per canonical_key: every row is an uncontested singleton
CLAIMS = [
    _claim("promo"),
    _claim("gw-null", graph_worthy=None),
    _claim("gw-false", graph_worthy=False, promotion_status="held"),
    _claim("conf-null", canonical_confidence=None),
    _claim("conf-low", canonical_confidence=0.5, promotion_status=""),
    _claim("rs-null", resolution_status=None),
    _claim("type-null", claim_type=None),
    _claim("request", claim_type="REQUEST"),
    _claim("summary-fallback", normalized_text="", value_text=None),
]


def _rows(records: list[dict], kind: str) -> set[tuple]:
    return {tuple(r.get(c) for c in COLS[kind]) for r in records}


def test_emit_uncontested_is_warning_free_and_matches_serial_replay():
    # object dtype with None beside values: the shape that made
    # Series.fillna warn about downcasting
    frame = pd.DataFrame(CLAIMS, columns=_CLAIM_REPLAY_COLS).astype(object)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = _emit_uncontested(frame, SEEN_AT)

    got: dict[str, set[tuple]] = {kind: set() for kind in COLS}
    for part in out:
        for rec in _records_nullsafe(part):
            got[rec["record_type"]] |= _rows([rec], rec["record_type"])

    want: dict[str, set[tuple]] = {kind: set() for kind in COLS}
    for claim in CLAIMS:
        outcome = replay_key_mutations([], [claim], SEEN_AT)
        want["fact"] |= _rows(outcome.facts, "fact")
        want["claim_update"] |= _rows(outcome.claim_updates, "claim_update")
        want["edge"] |= _rows(outcome.edges, "edge")

    assert got == want
    promoted = {u[0] for u in want["claim_update"] if u[1] == "promoted"}
    # a null claim_type is not a non-canonical type, so it promotes
    assert promoted == {"c-promo", "c-summary-fallback", "c-type-null"}
