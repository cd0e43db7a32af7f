"""Incremental KG maintenance: fact diff, impact radius, re-embed targets.

The reference prototypes this in under_development/saia.py — ``compute_diff``
(:117-146) classifies a new document's facts against the live store as
added / confirmed / contradicted; ``compute_impact_radius`` (:147-189) BFS-
walks the entity graph out to ``max_depth`` from the changed entities to
find the affected nodes and the chunks that must be refreshed;
``re_embed_chunks`` (:191-227) re-embeds those chunks and keeps the new
vector only when it moved more than a semantic threshold. The reference
runs all three as serial Neo4j round-trips per node; at 10^12-document
scale the same questions are joins:

* **fact_diff** — one shuffle keyed on ``canonical_key`` (the only key the
  reference's decision loop ever reads, kernel/facts.py), current facts per
  key are a handful of rows, so the join is skew-free by construction;
* **impact_radius** — iterative frontier expansion over operators/graph.py's
  ``symmetric_adjacency``: ``max_depth`` rounds of (frontier ⋈ edges), each
  one vertex-keyed shuffle, lineage checkpointed per round;
* **re_embed_targets** — a map-side cosine between stored and candidate
  embeddings (F.aggregate over zipped arrays, JVM codegen — no UDF).

This is the "this fact changed — which downstream artifacts are stale?"
capability a continuously-updated 100 TB KG needs between full rebuilds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..kernel.claims import MIN_CANONICAL_CONFIDENCE, NON_CANONICAL_TYPES
from .graph import symmetric_adjacency
from .similarity import _dot, _norm

# the fields deciding confirm-vs-contradict — the ONE definition shared with
# the serial mutation replay and the expected_fact_diff oracle (saia.py:
# 1258-1275); importing it keeps operator and oracle from silently drifting
from ..kernel.facts import _FACT_EQUALITY_FIELDS as _EQUALITY_FIELDS


def promotable_col() -> F.Column:
    """Column form of the K2 promotion gate (kernel/claims.promotable):
    only claims that would enter the store can diff against it."""
    return (
        ~F.col("claim_type").isin(*sorted(NON_CANONICAL_TYPES))
        & F.coalesce(F.col("graph_worthy"), F.lit(False))
        & (F.col("resolution_status") == "resolved")
        & (F.coalesce(F.col("canonical_confidence"), F.lit(0.0)) >= F.lit(MIN_CANONICAL_CONFIDENCE))
    )


def _nz(side: str, name: str) -> F.Column:
    return F.coalesce(F.col(f"{side}.{name}"), F.lit(""))


def _facts_equal_col() -> F.Column:
    """Column form of kernel/facts.facts_equal over a claim (``c``) ⋈ fact
    (``f``) join row: APPROVAL_STATE compares key + value only, everything
    else compares the full equality field set, with NULL ≡ ''."""
    full = None
    for name in _EQUALITY_FIELDS:
        term = _nz("c", name) == _nz("f", name)
        full = term if full is None else (full & term)
    approval = (_nz("c", "canonical_key") == _nz("f", "canonical_key")) & (
        _nz("c", "value_text") == _nz("f", "value_text")
    )
    return F.when(F.col("c.claim_type") == "APPROVAL_STATE", approval).otherwise(full)


def fact_diff(new_claims: DataFrame, current_facts: DataFrame) -> DataFrame:
    """Classify a batch of new claims against the live fact store.

    Returns one row per promotable claim: (claim_id, doc_id, canonical_key,
    change, existing_fact_id) with change ∈ {added, confirmed, contradicted}:

    * ``added`` — no current fact holds this canonical_key;
    * ``confirmed`` — some current fact of the key is field-equal;
    * ``contradicted`` — the key is live but every current fact disagrees
      (the batch analog of compute_diff's inverse-relationship probe, and
      exactly the claims the mutation replay would supersede with).

    ``existing_fact_id`` is the matched fact for confirmations and the
    (deterministic min) contradicted fact otherwise; NULL for added.
    One canonical_key-keyed shuffle; current facts per key are bounded, so
    no skew handling is needed.
    """
    claims = new_claims.filter(promotable_col()).alias("c")
    facts = (
        current_facts.filter(F.col("status") == "current")
        .select(
            "fact_id",
            "canonical_key",
            *[c for c in _EQUALITY_FIELDS if c != "canonical_key"],
        )
        .alias("f")
    )
    joined = claims.join(facts, F.col("c.canonical_key") == F.col("f.canonical_key"), "left")
    per_pair = joined.select(
        F.col("c.claim_id").alias("claim_id"),
        F.col("c.doc_id").alias("doc_id"),
        F.col("c.canonical_key").alias("canonical_key"),
        F.col("f.fact_id").alias("fact_id"),
        _facts_equal_col().alias("is_equal"),
    )
    agg = per_pair.groupBy("claim_id", "doc_id", "canonical_key").agg(
        F.max(F.col("fact_id").isNotNull()).alias("key_live"),
        F.max(F.coalesce(F.col("is_equal"), F.lit(False))).alias("any_equal"),
        F.min(F.when(F.col("is_equal"), F.col("fact_id"))).alias("matched_fact_id"),
        F.min("fact_id").alias("min_fact_id"),
    )
    return agg.select(
        "claim_id",
        "doc_id",
        "canonical_key",
        F.when(~F.col("key_live"), F.lit("added"))
        .when(F.col("any_equal"), F.lit("confirmed"))
        .otherwise(F.lit("contradicted"))
        .alias("change"),
        F.when(F.col("any_equal"), F.col("matched_fact_id"))
        .when(F.col("key_live"), F.col("min_fact_id"))
        .alias("existing_fact_id"),
    )


def changed_entities(diff: DataFrame, claims: DataFrame) -> DataFrame:
    """The BFS seed set (compute_impact_radius's nodes_of_interest): the
    subject/object entities of every non-confirmed diff row. Returns one
    ``entity_id`` column, distinct."""
    flagged = diff.filter(F.col("change").isin("contradicted", "added")).select("claim_id")
    ends = claims.join(flagged, "claim_id", "left_semi")
    return (
        ends.select(F.col("subject_entity_id").alias("entity_id"))
        .unionByName(ends.select(F.col("object_entity_id").alias("entity_id")))
        .filter(F.col("entity_id").isNotNull())
        .distinct()
    )


def impact_radius(
    seeds: DataFrame,
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_depth: int = 2,
    prepartitioned: bool = False,
) -> DataFrame:
    """Min-hop BFS over the undirected entity graph from the seed set.

    Returns (entity_id, depth) for every entity within ``max_depth`` hops —
    depth 0 are the seeds themselves (the reference's ``MATCH (n)-[*1..d]-
    (m)`` collects 1..d; including the seeds makes the result self-contained
    for the downstream doc/chunk join). Each round is one vertex-keyed join
    + anti-join against the reached set, lineage checkpointed so the plan
    stays flat at any depth.

    The frontier joins the adjacency on ``v`` (the same orientation as the
    LPA/H-index rounds), so ``prepartitioned=True`` with a
    ``communities.write_symmetric_edges`` table (bucketed on v) runs every
    BFS round with zero edge-side Exchange; pass such a table as ``edges``
    with ``src="u", dst="v"``."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not prepartitioned:
        sym = symmetric_adjacency(sym)
    reached = (
        seeds.select(F.col(seeds.columns[0]).alias("entity_id"))
        .distinct()
        .withColumn("depth", F.lit(0))
        .localCheckpoint(eager=True)
    )
    frontier = reached.select("entity_id")
    for d in range(1, max_depth + 1):
        nxt = (
            sym.join(frontier.withColumnRenamed("entity_id", "v"), "v")
            .select(F.col("u").alias("entity_id"))
            .distinct()
            .join(reached.select("entity_id"), "entity_id", "left_anti")
            .withColumn("depth", F.lit(d))
            .localCheckpoint(eager=True)
        )
        reached = reached.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt.select("entity_id")
    return reached


def affected_documents(impacted: DataFrame, claims: DataFrame) -> DataFrame:
    """Documents mentioning any impacted entity — the artifacts whose chunks
    and summaries are stale (the reference's affected_chunks step, doc-
    grained): a semi-join, no data moves to the driver."""
    ids = impacted.select(F.col("entity_id")).distinct()
    # two equi-semi-joins, not one OR-condition join: an OR of equalities
    # can't hash-partition and would plan as a nested-loop join
    subj = claims.join(
        ids.withColumnRenamed("entity_id", "subject_entity_id"), "subject_entity_id", "left_semi"
    ).select("doc_id")
    obj = claims.join(
        ids.withColumnRenamed("entity_id", "object_entity_id"), "object_entity_id", "left_semi"
    ).select("doc_id")
    return subj.unionByName(obj).distinct()


def re_embed_targets(
    chunks: DataFrame,
    new_summaries: DataFrame,
    *,
    threshold: float = 0.1,
    id_col: str = "chunk_id",
    vec_col: str = "embedding",
    new_vec_col: str = "new_embedding",
) -> DataFrame:
    """Which chunks actually need their stored vector replaced: join stored
    embeddings to freshly-computed ones and keep 1 - cosine > threshold
    (re_embed_chunks's semantic gate). The cosine runs JVM-side via
    F.aggregate/F.zip_with over the zipped arrays — no Python on the data
    path; the embedding computation itself is the environment-gated C3
    kernel (kernel/embed.py) upstream of this operator."""
    old, new = F.col(vec_col), F.col(new_vec_col)
    joined = chunks.select(id_col, vec_col).join(new_summaries, id_col)
    scored = joined.withColumn(
        "cosine", _dot(old, new) / (_norm(old) * _norm(new) + F.lit(1e-8))
    )
    return scored.select(
        id_col,
        F.round(F.col("cosine"), 6).alias("cosine"),
        (F.lit(1.0) - F.col("cosine") > F.lit(threshold)).alias("needs_reembed"),
    )
