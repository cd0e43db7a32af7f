"""Graph-navigation operators over the materialized node/edge tables.

J3 one-hop expansion (services.py:44-45,72), J8 fact -> supporting-document
join (services.py:98-99,110-111), plus the Spark column form of F6 IST
rendering (services.py:572-583).

It also holds what the iterative graph operators share:
``symmetric_adjacency``, the one edge list → undirected adjacency builder,
and ``until_stable``, the fixed-point loop of connected components and
coreness.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Window, functions as F


def undirected_pairs(edges: DataFrame) -> DataFrame:
    """Distinct canonical pairs (u < v) of an undirected edge list with
    columns u, v: any orientation, duplicates folded, loops and null
    endpoints dropped."""
    return (
        edges.select(F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
    )


def symmetric_adjacency(edges: DataFrame) -> DataFrame:
    """Canonical undirected adjacency of an edge list with columns u, v:
    both directions of every :func:`undirected_pairs` pair, checkpointed
    once so the iterative rounds that join it on ``v`` never recompute it."""
    pairs = undirected_pairs(edges)
    return (
        pairs.unionByName(pairs.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .localCheckpoint(eager=True)
    )


def until_stable(
    step: Callable[[DataFrame], DataFrame], state: DataFrame, max_iterations: int
) -> DataFrame:
    """Run ``state = step(state)`` until a round changes nothing or
    ``max_iterations`` rounds ran. ``step`` returns the next state plus a
    boolean ``changed`` column. The probe is one ``limit(1).count()`` job
    per round; each state is checkpointed so the plan stays one round deep
    at any iteration count."""
    for _ in range(max_iterations):
        updated = step(state)
        changed = updated.filter(F.col("changed")).limit(1).count()
        state = updated.drop("changed").localCheckpoint(eager=True)
        if changed == 0:
            break
    return state


def expand_one_hop(seed_ids: DataFrame, edges: DataFrame, id_col: str = "id") -> DataFrame:
    """J3: undirected one-hop expansion of a (small) seed set: returns
    (seed, neighbor, type, direction). The seed side is broadcast — exactly
    the reference's per-chunk MATCH (c)-[r]-(n) pattern, batched."""
    seeds = F.broadcast(seed_ids.select(F.col(id_col).alias("seed")).distinct())
    out = seeds.join(edges, F.col("seed") == F.col("src")).select(
        "seed", F.col("dst").alias("neighbor"), "type", F.lit("out").alias("direction")
    )
    inbound = seeds.join(edges, F.col("seed") == F.col("dst")).select(
        "seed", F.col("src").alias("neighbor"), "type", F.lit("in").alias("direction")
    )
    return out.unionByName(inbound).dropDuplicates(["seed", "neighbor", "type", "direction"])


def facts_with_evidence(
    facts: DataFrame,
    claim_fact_edges: DataFrame,
    claims: DataFrame,
    documents: DataFrame,
) -> DataFrame:
    """J8: each fact joined to one supporting document (first distinct by
    doc_id order — the batch form of Cypher's collect(DISTINCT d)[0])."""
    supports = claim_fact_edges.filter(F.col("relation_type") == "SUPPORTS")
    chain = (
        facts.join(supports, "fact_id", "left")
        .join(claims.select("claim_id", "doc_id"), "claim_id", "left")
        .join(documents.select("doc_id", "url", "timestamp"), "doc_id", "left")
    )
    w = Window.partitionBy("fact_id").orderBy(F.col("doc_id").asc_nulls_last())
    return (
        chain.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "claim_id")
        .withColumnRenamed("doc_id", "evidence_doc_id")
        .withColumnRenamed("url", "evidence_url")
        .withColumnRenamed("timestamp", "evidence_timestamp")
    )


def ist_display(col) -> F.Column:
    """F6 as a column expression: UTC ISO string -> '%Y-%m-%d %I:%M %p IST'."""
    ist = F.from_utc_timestamp(F.to_timestamp(col), "Asia/Kolkata")
    return F.concat(F.date_format(ist, "yyyy-MM-dd hh:mm a"), F.lit(" IST"))
