"""The five-stage KG-construction pipeline (SURVEY.md §7).

    webtext(url, warc_ts, html, text, lang, sidecar...)
      -> 1 extract   : byte-identical page text + sha256 doc_id
      -> 2 chunk     : word-budget chunks + summaries (+ embeddings)
      -> 3 triples   : the extraction kernel -> claims
      -> 4 link+canon: broadcast entity linking (inside stage 3's kernel) +
                       cogrouped fact-mutation replay
      -> 5 materialize: idempotent upserts keyed on content hashes + per-
                       partition lineage rows in `runs`

Resume story: every id is a content hash, every sink is an upsert, so
re-running any stage (or the whole job) converges to the same store state.
The `runs` table records per-partition metrics for each stage of each run_id;
a resumed run appears as a second run_id over the same keys with zero net
row changes.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Observation, SparkSession, functions as F

from .operators.canonicalize import (
    canonicalize_claims,
    graph_edges_from_outputs,
    incremental_support,
    split_claim_updates,
    split_edges,
    split_facts,
)
from .operators.chunking import build_chunks
from .operators.extraction import extract_claims_stage, extract_documents
from .schema import FACTS_SCHEMA, RUNS_SCHEMA
from .store import TableStore


def _first_per_doc(documents: DataFrame) -> DataFrame:
    """Keep one row per doc_id, deterministically the min url."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("url").asc())
    return documents.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _last_claim_wins(claims: DataFrame) -> DataFrame:
    """One row per claim_id; the reference's repeated MERGE leaves the
    last-extracted duplicate's properties (saia.py:1073-1107), i.e. max
    claim_seq within the doc."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("claim_id").orderBy(F.col("claim_seq").desc())
    return claims.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def _observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """``df`` with named aggregate ``metrics`` gathered by whatever action
    first runs it — counts without an extra Spark job. ``Observation.get``
    blocks until that action has run, so observe only frames that are
    always written."""
    seen = Observation()
    return df.observe(seen, *[m.alias(name) for name, m in metrics.items()]), seen


def _rows_where(cond: Column) -> Column:
    return F.count(F.when(cond, 1))


@dataclass
class PipelineResult:
    """Rows this batch wrote, per table — not store totals (a resumed run
    over already-stored documents reports all zeros). ``claims`` counts
    extracted claims before the per-claim_id dedupe, ``conflicts`` the
    batch's CONTRADICTS edges; every other field counts the rows handed to
    that table's upsert."""

    documents: int
    chunks: int
    claims: int
    facts_current: int
    facts_superseded: int
    conflicts: int
    edges: int


def run_pipeline(
    spark: SparkSession,
    webtext: DataFrame,
    persons: list[dict],
    groups: list[dict],
    store: TableStore,
    *,
    run_id: str,
    run_ts: str,
    embed_chunks: bool = False,
    lang_filter: str | None = "en",
    claims_hook=None,
) -> PipelineResult:
    """claims_hook, when given, is called with this run's claims DataFrame
    after every other table upsert and before the ``documents`` upsert that
    commits the batch — the seam maintenance consumers (e.g. the
    incremental component store, operators/components.maintain_component_
    store) attach to without re-extracting the batch. A hook that dies
    leaves the batch uncommitted, so a rerun replays it and calls the hook
    again; the hook must re-derive the same rows on that replay."""
    # --- stage 1: byte-deterministic text extraction --------------------------
    documents = extract_documents(webtext, lang_filter=lang_filter)
    # Content-level dedupe (P4/J10): pages with identical extracted text share
    # a doc_id; only one (deterministically the min url) is ingested, exactly
    # like the reference's skip-if-exists gate (services.py:1493-1499). Doing
    # it before the claim kernel also prunes the expensive stage's input.
    documents = _first_per_doc(documents)
    # Skip-if-exists (P4/J10, services.py:1493-1499): documents already in the
    # store are never re-chunked or re-extracted — THIS is the resume
    # mechanism. A re-run (or a replayed partition) anti-joins to nothing and
    # the whole job is a no-op.
    if store.exists("documents"):
        documents = documents.join(
            store.read(spark, "documents").select("doc_id"), "doc_id", "left_anti"
        )
    # One pass of the html kernel feeds both the chunk and claim stages:
    # materialize it once (staging parquet doubles as the stage checkpoint).
    documents, documents_seen = _observed(documents, rows=F.count(F.lit(1)))
    store.overwrite(documents, f"_staging/{run_id}/documents")
    documents = store.read(spark, f"_staging/{run_id}/documents")

    # --- stage 2: chunks -------------------------------------------------------
    chunks = build_chunks(documents, embed=embed_chunks)

    # --- stage 3: claims -------------------------------------------------------
    claims = extract_claims_stage(documents, persons, groups, run_ts=run_ts)
    claims, claims_seen = _observed(claims, rows=F.count(F.lit(1)))
    store.overwrite(claims, f"_staging/{run_id}/claims")
    claims = store.read(spark, f"_staging/{run_id}/claims")

    # --- stage 4: canonicalization --------------------------------------------
    # Only the keys touched by this batch need replaying: semi-join prunes the
    # facts table before it enters the Python cogroup (at 10^12-doc scale the
    # store dwarfs any one batch).
    existing = None
    if store.exists("facts"):
        existing = store.read(spark, "facts", FACTS_SCHEMA).join(
            claims.select("canonical_key").dropDuplicates(), "canonical_key", "left_semi"
        )
    union = canonicalize_claims(claims, existing, seen_at=run_ts)
    union, mutations_seen = _observed(
        union,
        canonicalized=_rows_where(
            (F.col("record_type") == "claim_update")
            & F.col("mutation_action").isin(
                "insert_new_fact", "confirm_existing_fact", "supersede_current_fact"
            )
        ),
        conflicts=_rows_where(
            (F.col("record_type") == "edge") & (F.col("relation_type") == "CONTRADICTS")
        ),
    )
    store.overwrite(union, f"_staging/{run_id}/mutations")
    union = store.read(spark, f"_staging/{run_id}/mutations")
    facts = split_facts(union)
    claim_updates = split_claim_updates(union)
    claim_fact_edges = split_edges(union)

    # claims carry their final promotion/mutation status (saia.py:1120-1130);
    # broadcast-join the small updates side onto the claim rows.
    updated_claims = _last_claim_wins(
        claims.drop("promotion_status", "mutation_action")
        .join(F.broadcast(claim_updates.dropDuplicates(["claim_id"])), "claim_id", "left")
    )

    # --- stage 5: materialize ---------------------------------------------------
    # `documents` is the skip-if-exists gate, so it is upserted LAST, after
    # `runs` and the claims hook: it is the batch's commit record. A job that
    # dies before it leaves the batch's documents absent, so a rerun replays
    # the batch instead of anti-joining the half-written batch away. Up to
    # the facts upsert that replay reaches a clean run's store (keyed
    # upserts; support is re-derived from the edge store). Once facts have
    # landed, the replay sees the batch's own facts, so its claims' statuses
    # and the run's conflict count differ from a clean run's.
    chunks, chunks_seen = _observed(chunks, rows=F.count(F.lit(1)))
    store.upsert(chunks, "chunks", ["chunk_id"])
    store.upsert(updated_claims, "claims", ["claim_id"])
    store.upsert(claim_fact_edges, "claim_fact_edges", ["claim_id", "fact_id", "relation_type"])

    # idempotent support_count, pruned to this batch: the replay already
    # emitted every fact of every canonical_key the batch touched, so only
    # those facts can change support. Re-derive from the edge history of just
    # those fact_ids (broadcast semi-join; at 10^12 docs this is a bucketed
    # probe, never an O(store) recompute) and upsert once — untouched facts
    # keep their stored support_count.
    facts_with_support = incremental_support(
        facts, store.read(spark, "claim_fact_edges")
    )
    observed_facts, facts_seen = _observed(
        facts_with_support,
        current=_rows_where(F.col("status") == "current"),
        superseded=_rows_where(F.col("status") == "superseded"),
    )
    store.upsert(observed_facts, "facts", ["fact_id"])

    # Typed graph edges are additive projections of rows (SCD-2 never
    # removes an edge; a supersede only adds one), so deriving them from the
    # BATCH rows and upserting on (src, dst, type) reaches the same store
    # state as a full rebuild — without the O(store) rescan per run. The
    # batch facts cover every touched key (incl. replayed prior versions),
    # so status-change edges are always present.
    graph_edges = graph_edges_from_outputs(updated_claims, facts_with_support, documents)
    graph_edges, edges_seen = _observed(graph_edges, rows=F.count(F.lit(1)))
    store.upsert(graph_edges, "edges", ["src", "dst", "type"])

    # --- lineage (S15 analog): per-partition metrics, no driver-side loops -----
    # the run-level figures were observed by the staging writes above
    ingested_docs = documents_seen.get["rows"]
    claims_total = claims_seen.get["rows"]
    mutations = mutations_seen.get
    canonicalized, conflict_count = mutations["canonicalized"], mutations["conflicts"]
    claim_part_metrics = (
        claims.groupBy("partition_id")
        .agg(F.countDistinct("doc_id").alias("docs_processed"), F.count("*").alias("claims_extracted"))
    )
    runs = claim_part_metrics.select(
        F.lit(run_id).alias("run_id"),
        F.col("partition_id").cast("int"),
        F.lit("extract+canonicalize").alias("stage"),
        F.lit("completed").alias("status"),
        F.lit(run_ts).alias("processed_at"),
        F.col("docs_processed").cast("long"),
        F.col("claims_extracted").cast("long"),
        F.lit(canonicalized).cast("long").alias("claims_canonicalized"),
        F.lit(conflict_count).cast("long").alias("conflicts_found"),
        F.lit(None).cast("string").alias("errors_json"),
    )
    # run-level summary row (partition_id = -1): present even for a no-op
    # resume, so every run_id is visible in lineage
    summary = spark.createDataFrame(
        [
            (
                run_id,
                -1,
                "run_summary",
                "completed",
                run_ts,
                ingested_docs,
                claims_total,
                canonicalized,
                conflict_count,
                None,
            )
        ],
        RUNS_SCHEMA,
    )
    store.upsert(runs.unionByName(summary), "runs", ["run_id", "partition_id", "stage"])
    if claims_hook is not None:
        claims_hook(claims)
    store.upsert(documents.drop("message_id"), "documents", ["doc_id"])

    fact_counts = facts_seen.get
    result = PipelineResult(
        documents=ingested_docs,
        chunks=chunks_seen.get["rows"],
        claims=claims_total,
        facts_current=fact_counts["current"],
        facts_superseded=fact_counts["superseded"],
        conflicts=conflict_count,
        edges=edges_seen.get["rows"],
    )
    store.drop(f"_staging/{run_id}")
    return result
