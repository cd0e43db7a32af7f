"""Community detection + coreness over the entity co-mention graph.

No reference counterpart — these are the next graph-analytics operators a
webtext KG needs after degree stats, PageRank (operators/pagerank.py),
connected components (operators/components.py) and triangle counting
(operators/triangles.py): "which entities form a
community?" drives topic clustering and canonical-entity review queues,
and "how deep in the core is this entity?" separates load-bearing hub
entities from peripheral one-off mentions. The reference stores the
mention structure per chunk in Neo4j (app/pipeline.py:157-224) but never
aggregates it.

Both are iterative label algorithms over operators/graph.py's
``symmetric_adjacency`` — DataFrame joins + groupBy only, lineage truncated
per round with ``localCheckpoint`` so plans stay bounded at any iteration
count:

* ``label_propagation`` — SYNCHRONOUS deterministic LPA: every vertex
  simultaneously adopts the most frequent label among its neighbours,
  ties broken by the smallest label. Synchronous + lexicographic
  tie-break makes the result a pure function of (edge set, iteration
  count) — independent of partitioning, task order, or cluster size,
  which is what lets a serial replay oracle hash-match the distributed
  run. Each round is the vertex-keyed vote shuffle plus the per-vertex
  argmax; a fixed iteration count (no convergence collect) keeps the
  job graph static.
* ``core_numbers`` — coreness via iterated neighbourhood H-index
  (Lü et al. 2016, "The H-index of a network node and its relation to
  degree and coreness"): start from degree, repeatedly replace each
  vertex's value with the H-index of its neighbours' values; the fixed
  point IS the k-core number. Distributed peeling would need one global
  round per degeneracy level; the H-operator converges in a handful of
  rounds on web-like graphs and each round is two vertex-keyed shuffles.
  The rounds run in graph.py's ``until_stable`` loop, shared with
  connected_components: one ``limit(1).count()`` job per round.

Scale notes: all shuffles key on a vertex id; hub vertices fan IN (their
votes/values are aggregated map-side by the partial groupBy), never OUT,
so hot entities don't create stragglers. Input edges are canonicalized
(u < v, no loops, distinct) once and checkpointed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .graph import symmetric_adjacency, until_stable


def write_symmetric_edges(edges: DataFrame, table: str, path: str, *, buckets: int = 16) -> None:
    """Persist the canonical symmetric adjacency bucketed+sorted on ``v``
    (the neighbour side every iterative operator joins on): LPA votes, the
    H-index rounds, and the impact-radius frontier all join
    ``sym ⋈ state ON v``, so a v-bucketed table feeds every round with ZERO
    edge-side Exchange — the same deployment shape as the src-bucketed
    PageRank edge table (operators/pagerank.py). Symmetrization happens
    once here, at write time, not per run."""
    from .bucketing import write_bucketed

    write_bucketed(symmetric_adjacency(edges), table, path, "v", buckets=buckets)


def lpa_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One synchronous LPA round: every vertex adopts the most frequent
    label among its neighbours, ties to the smallest label. Factored out so
    the per-round physical plan is testable (the loop checkpoints each
    round, which hides the round body behind an RDD scan)."""
    votes = (
        sym.join(labels.withColumnRenamed("vertex", "v"), "v")
        .groupBy(F.col("u").alias("vertex"), "label")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("vertex").orderBy(F.col("n").desc(), F.col("label").asc())
    return (
        votes.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("vertex", "label")
    )


def hindex_round(sym: DataFrame, vals: DataFrame) -> DataFrame:
    """One H-index round: value(v) <- min(value(v), H of neighbours'
    values), plus a `changed` flag column. H-index as max_i min(
    sorted_desc[i], i): rank neighbours by value descending, take the best
    min(value, rank)."""
    nvals = sym.join(
        vals.withColumnRenamed("vertex", "v").withColumnRenamed("value", "nval"), "v"
    ).select(F.col("u").alias("vertex"), "nval")
    w = Window.partitionBy("vertex").orderBy(F.col("nval").desc())
    proposals = (
        nvals.withColumn("__rn", F.row_number().over(w))
        .groupBy("vertex")
        .agg(F.max(F.least(F.col("nval"), F.col("__rn"))).alias("h"))
    )
    return vals.join(proposals, "vertex").select(
        "vertex",
        F.least(F.col("value"), F.col("h")).alias("value"),
        (F.col("h") < F.col("value")).alias("changed"),
    )


def label_propagation(
    edges: DataFrame, *, iterations: int = 5, prepartitioned: bool = False
) -> DataFrame:
    """Deterministic synchronous label propagation over an undirected edge
    list (columns u, v; any orientation, loops/dupes tolerated).

    Returns (entity, community): community = the label held after exactly
    ``iterations`` synchronous rounds, labels initialized to the vertex id.
    Per round every vertex adopts the most frequent label among its
    neighbours (its own label does not vote), ties broken by the smallest
    label — the classic LPA vote made deterministic.

    ``prepartitioned=True`` declares ``edges`` an already-canonical
    symmetric adjacency whose scan carries HashPartitioning(v) (a
    ``write_symmetric_edges`` table read with ``spark.table(name)``): the
    per-round symmetrize/checkpoint is skipped so the scan partitioning,
    which survives AQE, reaches every vote join intact — the edges never
    shuffle, only the iteration-varying label table moves (plan-pinned in
    tests/test_plans.py).
    """
    sym = edges if prepartitioned else symmetric_adjacency(edges)
    labels = (
        sym.select(F.col("u").alias("vertex"))
        .distinct()
        .withColumn("label", F.col("vertex"))
        .localCheckpoint(eager=True)
    )
    for _ in range(iterations):
        labels = lpa_round(sym, labels).localCheckpoint(eager=True)
    return labels.select(F.col("vertex").alias("entity"), F.col("label").alias("community"))


def core_numbers(
    edges: DataFrame, *, max_iterations: int = 100, prepartitioned: bool = False
) -> DataFrame:
    """k-core number per vertex of an undirected edge list (columns u, v).

    Iterated neighbourhood H-index: value_0(v) = degree(v);
    value_{t+1}(v) = H({value_t(n) : n ∈ N(v)}) where H(S) is the largest
    h with at least h members of S ≥ h. The sequence is non-increasing
    and its fixed point is the coreness (Lü et al. 2016), so the serial
    peeling replay in kernel/expected.py is an exact oracle. Stops when a
    round changes nothing (one limit(1).count() probe per round).

    Returns (entity, core) for every vertex with degree ≥ 1.
    ``prepartitioned`` as in :func:`label_propagation`.
    """
    sym = edges if prepartitioned else symmetric_adjacency(edges)
    vals = (
        sym.groupBy(F.col("u").alias("vertex"))
        .agg(F.count("*").alias("value"))
        .localCheckpoint(eager=True)
    )
    vals = until_stable(lambda state: hindex_round(sym, state), vals, max_iterations)
    return vals.select(F.col("vertex").alias("entity"), F.col("value").alias("core"))
