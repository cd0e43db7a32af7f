"""Connected-components canonicalization over the mention graph (K7).

BASELINE.json's north rule upgrades the reference's implicit same-key
grouping (saia.py:1015-1037) to explicit connected components: mention keys
that co-refer (same person record matched by id and by email, fuzzy LSH
matches, etc.) form edges; each component becomes one canonical entity.

Implementation: large-star/small-star-style iterative min-label propagation
using only DataFrame joins + groupBy — no GraphFrames dependency. Converges
in O(log n) rounds for typical web graphs; each round is two shuffles keyed
on vertex ids. The rounds run over operators/graph.py's
``symmetric_adjacency`` in its ``until_stable`` loop, shared with coreness
(operators/communities.py), which truncates the lineage every round.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .graph import symmetric_adjacency, until_stable


def min_label_round(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One min-label round: every vertex adopts the min label in its
    closed neighbourhood (its own label ∪ its neighbours' labels), plus a
    `changed` flag column."""
    neighbor_labels = sym.join(labels.withColumnRenamed("vertex", "v"), "v").select(
        F.col("u").alias("vertex"), "component"
    )
    proposals = (
        labels.unionByName(neighbor_labels)
        .groupBy("vertex")
        .agg(F.min("component").alias("new_component"))
    )
    return labels.join(proposals, "vertex").select(
        "vertex",
        F.least(F.col("component"), F.col("new_component")).alias("component"),
        (F.col("new_component") < F.col("component")).alias("changed"),
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 50,
) -> DataFrame:
    """Returns (vertex, component) with component = min vertex id (string
    order) reachable in the undirected graph. Every endpoint of an edge
    with no null end is a vertex, so a vertex whose only edge is a
    self-loop is a component of its own."""
    pairs = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u").isNotNull() & F.col("v").isNotNull())
        .localCheckpoint(eager=True)
    )
    sym = symmetric_adjacency(pairs)
    # the adjacency drops self-loops, so the vertex set comes from the pairs
    labels = (
        pairs.select(F.col("u").alias("vertex"))
        .unionByName(pairs.select(F.col("v").alias("vertex")))
        .distinct()
        .withColumn("component", F.col("vertex"))
        .localCheckpoint(eager=True)
    )
    return until_stable(lambda state: min_label_round(sym, state), labels, max_iterations)


def incremental_components(
    assignments: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    max_iterations: int = 50,
    changed_only: bool = False,
) -> DataFrame:
    """Fold a batch of new undirected edges into an existing (vertex,
    component) assignment WITHOUT recomputing over the full graph — the
    operation a continuously-updated KG needs per crawl batch, where a
    full :func:`connected_components` pass over 10^9+ mention vertices per
    micro-batch is the scale-killer.

    Requires ``assignments`` to satisfy this module's min-label invariant
    (component == min vertex id of the component), which both
    :func:`connected_components` and this function's own output guarantee —
    so updates chain: ``incremental_components(incremental_components(...))``.

    Shape (the classic union-find-on-the-component-graph reduction):

    1. resolve the batch's endpoints to their current labels (one hash join
       of the SMALL endpoint set against the big assignment table);
    2. contract: each new edge becomes an edge between the two LABELS —
       the "merge graph", bounded by the batch size, not the graph size;
    3. run the iterative min-label propagation on that tiny merge graph;
    4. remap: one scan of the big assignment table against the BROADCAST
       label→label mapping (touched components only), plus rows for
       endpoints the assignment had never seen.

    The full table is never shuffled and never enters the loop; per-batch
    cost is O(batch) + one broadcast-join scan. Returns the complete new
    (vertex, component) assignment, equal to ``connected_components(old
    edges ∪ new edges)`` (property-tested + driver-oracled vs a DuckDB
    recursive CTE over the edge union).

    With ``changed_only=True``, returns ONLY the rows that differ from
    ``assignments`` (relabeled members of merged components) plus the
    brand-new vertices — the exact delta a key-based store upsert needs,
    so a persisted assignment table is maintained without ever rewriting
    its untouched rows (see :func:`maintain_component_store`).
    """
    edges = (
        new_edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .dropDuplicates(["a", "b"])
        .localCheckpoint(eager=True)
    )
    endpoints = (
        edges.select(F.col("a").alias("vertex"))
        .unionByName(edges.select(F.col("b").alias("vertex")))
        .distinct()
    )
    # current label per endpoint: its component if known, else itself. The
    # broadcast hint pins BuildLeft — the batch's endpoint set is the build
    # side and the big assignment table only streams (no shuffle); `known`
    # is captured here so new vertices need no second pass over assignments
    resolved = (
        F.broadcast(endpoints)
        .join(assignments, "vertex", "left")
        .select(
            "vertex",
            F.coalesce("component", "vertex").alias("label"),
            F.col("component").isNotNull().alias("known"),
        )
        .localCheckpoint(eager=True)
    )
    # contract each new edge to a label↔label edge; edges inside one
    # component vanish here, so a batch of pure re-confirmations is free
    labels = resolved.select("vertex", "label")
    comp_edges = (
        edges.join(labels.withColumnRenamed("vertex", "a"), "a")
        .withColumnRenamed("label", "la")
        .join(labels.withColumnRenamed("vertex", "b"), "b")
        .withColumnRenamed("label", "lb")
        .select(F.col("la").alias("src"), F.col("lb").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    merged = connected_components(comp_edges, max_iterations=max_iterations)
    # every existing component label is the min vertex of its component, so
    # the merge graph's min over labels IS the min vertex of the merged
    # component — the invariant holds for the output
    mapping = merged.filter(F.col("vertex") != F.col("component")).select(
        F.col("vertex").alias("old_label"), F.col("component").alias("new_label")
    )
    join_type = "inner" if changed_only else "left"
    updated = assignments.join(
        F.broadcast(mapping), assignments["component"] == mapping["old_label"], join_type
    ).select(
        assignments["vertex"],
        F.coalesce("new_label", assignments["component"]).alias("component"),
    )
    fresh = (
        resolved.filter(~F.col("known"))
        .join(F.broadcast(mapping), F.col("label") == F.col("old_label"), "left")
        .select("vertex", F.coalesce("new_label", "label").alias("component"))
    )
    return updated.unionByName(fresh)


def claim_entity_edges(claims: DataFrame) -> DataFrame:
    """The evolving mention graph a KG batch contributes: one (src, dst)
    edge per claim linking its subject and object entities — the same edge
    set impact_radius walks (operators/incremental.py)."""
    return claims.filter(
        F.col("subject_entity_id").isNotNull() & F.col("object_entity_id").isNotNull()
    ).select(
        F.col("subject_entity_id").alias("src"), F.col("object_entity_id").alias("dst")
    )


def maintain_component_store(spark, store, new_edges: DataFrame, *, table: str = "components") -> int:
    """Fold a batch's mention edges into the persisted (vertex, component)
    assignment table, writing ONLY the changed/new rows through the store's
    key-based upsert — the per-micro-batch canonicalization maintenance
    step for continuous construction. First batch seeds the table with a
    full :func:`connected_components` pass. Returns the delta row count.

    At scale this touches: the batch's endpoints (one hash join against
    the assignment table), the tiny merge graph (iterative part), and the
    store buckets holding relabeled vertices — never the full table."""
    if store.exists(table):
        assignments = store.read(spark, table)
        delta = incremental_components(assignments, new_edges, changed_only=True)
    else:
        delta = connected_components(new_edges)
    delta = delta.localCheckpoint(eager=True)  # sever from the pre-upsert store state
    n = delta.count()
    if n:
        store.upsert(delta, table, ["vertex"])
    return n


def canonical_entity_components(
    persons: DataFrame,
    fuzzy_pairs: DataFrame | None = None,
) -> DataFrame:
    """Entity-canonicalization graph: a person's id, email, and name keys all
    co-refer (edges id<->email, id<->lower(name)); optional fuzzy match pairs
    (from linking.link_mentions_lsh) join components across records. Output:
    (vertex=mention key, component=canonical entity id)."""
    id_email = persons.filter(F.col("email").isNotNull() & (F.col("email") != "")).select(
        F.col("id").alias("src"), F.lower(F.col("email")).alias("dst")
    )
    id_name = persons.filter(F.col("name").isNotNull() & (F.col("name") != "")).select(
        F.col("id").alias("src"), F.lower(F.col("name")).alias("dst")
    )
    edges = id_email.unionByName(id_name)
    if fuzzy_pairs is not None:
        edges = edges.unionByName(fuzzy_pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst")))
    return connected_components(edges)
