"""PageRank over the entity graph — the iterative-algorithm pattern.

Damped PageRank and personalized PageRank share one power iteration over a
``(v, rank, deg)`` vertex state, where ``deg`` is the out-degree (null for
dangling vertices, whose mass restarts along the teleport vector). The
teleport vector is a literal ``1/n`` for PageRank and a state column ``p``
(the seed set) for personalized PageRank, so only the personalized state
carries it through the iteration shuffles. Each iteration is pure
DataFrame joins/aggregations: one join (ranks x edges), one groupBy(dst)
sum, and one scalar aggregate for the dangling mass. ``localCheckpoint``
truncates lineage every ``_CHECKPOINT_EVERY`` iterations so the plan stays
flat at any iteration count (the same discipline as connected components,
operators/components.py).

Scale notes: ranks and degrees are (vertex, double) tables — the shuffles
key on vertex ids only. For the per-iteration ranks⋈edges join the edge
side can be made exchange-free: pass a src-bucketed table's scan with
``prepartitioned=True`` (the 10^12-edge deployment shape). The dangling
term is a single scalar per iteration (an aggregate, not a collect of
data rows).

Reference anchor: the entity graph this ranks is the subject/object mention
graph the reference materializes in Neo4j (app/saia.py:1184-1215);
centrality over it identifies hub entities for skew planning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Lineage is truncated every _CHECKPOINT_EVERY iterations. The cadence is a
# measured trade: `ranks` appears twice in each iteration's plan
# (dangling-mass aggregate + contribution join), so k un-checkpointed
# iterations grow the logical plan exponentially — cadence 2 benched fastest
# (6.3 s vs 9.1 s at 1 and 7.2 s at 4 for the 20-iteration contract graph);
# per-iteration eager actions were the round-3 bottleneck, plan blowup
# punishes long cadences. Re-swept in round 5 under the 4-shuffle-partition
# contract config: cadences 1-4 read 9.7-14.4 s within window noise,
# cadence 10 ran past a 15-minute budget — the exponential-plan cliff is
# real. The cadence never changes values (pinned in tests/test_graph_ops.py).
_CHECKPOINT_EVERY = 2


def _edge_set(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """(src, dst) with set semantics, matching the MERGE-built reference
    graph: raw mention edges repeat, and multiplicity would skew out-degree
    and ranks."""
    return edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).dropDuplicates(
        ["src", "dst"]
    )


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 20,
    tol: float | None = None,
    prepartitioned: bool = False,
) -> DataFrame:
    """Returns (v, rank); ranks sum to 1. Edges are de-duplicated (set
    semantics, matching the MERGE-built reference graph).

    With ``tol`` set, stops early once the L1 delta between consecutive
    checkpointed states drops below it — the fixed-point contraction bound
    |r_k - r_inf|_1 <= delta * d/(1-d) makes that a certified convergence
    test. ``tol=None`` runs exactly ``iterations`` rounds (bit-stable vs the
    serial oracle).

    ``prepartitioned=True`` declares ``edges`` the scan of a table bucketed
    and sorted by ``src`` (operators/bucketing.write_bucketed, e.g.
    ``spark.table(name)``; Iceberg ``bucket(N, src)`` in production). That
    scan carries HashPartitioning(src), which survives AQE, so the
    out-degree aggregate and every iteration's contribution join read the
    edges with no edge-side Exchange; only the rank table moves."""
    # a prepartitioned edge set is neither checkpointed nor re-shuffled:
    # that would erase the scan partitioning that makes the iteration joins
    # exchange-free. Its dedup stays exchange-free too: HashPartitioning on
    # src satisfies the (src, dst) clustering it needs, so Catalyst plans it
    # partition-local (asserted in test_plans).
    e = _edge_set(edges, src, dst)
    if not prepartitioned:
        e = e.localCheckpoint(eager=True)
    verts = e.select(F.col("src").alias("v")).unionByName(e.select(F.col("dst").alias("v"))).distinct()
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    state = (
        verts.join(out_deg.withColumnRenamed("src", "v"), "v", "left")
        .select("v", "deg")
        .localCheckpoint(eager=True)
    )
    counts = state.agg(
        F.count("*").alias("n"),
        F.count(F.when(F.col("deg").isNull(), True)).alias("n_dangling"),
    ).collect()[0]
    n = counts["n"]
    if n == 0:
        return state.select("v").withColumn("rank", F.lit(0.0))
    ranks = state.select("v", F.lit(1.0 / n).alias("rank"), "deg")
    return _power_iteration(
        e,
        ranks,
        teleport=F.lit(1.0 / n),
        damping=damping,
        iterations=iterations,
        has_dangling=counts["n_dangling"] > 0,
        tol=tol,
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: list[str] | DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    iterations: int = 20,
) -> DataFrame:
    """Personalized PageRank: random walks restart at the SEED set instead
    of uniformly — rank(v) measures proximity to the seeds, which is the
    GraphRAG retrieval-relevance score ("rank entities by closeness to the
    query's focus entities") over the mention graph the retrieval path
    already expands one hop at a time (operators/graph.expand_one_hop).

    Teleport vector p = uniform over ``seeds`` (dangling mass restarts at
    the seeds too, keeping the distribution normalized):
    rank_{t+1}(v) = (1-d)·p(v) + d·(Σ in-contribs + dangling·p(v)).

    Scale shape: the power iteration is :func:`pagerank`'s; the teleport
    vector is a state column ``p``, joined once from a BROADCAST seed set (a
    query's focus entities are a handful of ids by construction, never
    data-sized).
    Seeds absent from the graph still receive teleport mass (they rank
    even when unconnected), matching the serial replay.

    ``seeds`` may be a Python list (the query-time form) or a one-column
    DataFrame (the maintenance form — jobs/run_maintain.py hands the
    changed-entity frame over without collecting it to the driver; a bulk
    re-ingest's seed set is corpus-shaped). Both forms produce identical
    teleport vectors; the DataFrame path costs one scalar count for the
    1/|seeds| literal.
    """
    spark = edges.sparkSession
    if isinstance(seeds, DataFrame):
        seed_df = seeds.select(F.col(seeds.columns[0]).alias("v")).dropDuplicates()
        n_seeds = seed_df.count()
        if n_seeds == 0:
            raise ValueError("personalized_pagerank needs a non-empty seed set")
    else:
        if not seeds:
            raise ValueError("personalized_pagerank needs a non-empty seed list")
        n_seeds = len(set(seeds))
        seed_df = spark.createDataFrame([(s,) for s in sorted(set(seeds))], "v string")
    p0 = 1.0 / n_seeds
    e = _edge_set(edges, src, dst).localCheckpoint(eager=True)
    verts = (
        e.select(F.col("src").alias("v"))
        .unionByName(e.select(F.col("dst").alias("v")))
        .unionByName(seed_df)
        .distinct()
    )
    out_deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    state = (
        verts.join(F.broadcast(seed_df.withColumn("__seed", F.lit(True))), "v", "left")
        .select("v", F.when(F.col("__seed"), F.lit(p0)).otherwise(F.lit(0.0)).alias("p"))
        .join(out_deg.withColumnRenamed("src", "v"), "v", "left")
        .localCheckpoint(eager=True)
    )
    ranks = state.select("v", F.col("p").alias("rank"), "p", "deg")
    # no sink count here: it would add a job to every query, and the
    # dangling aggregate simply reads 0.0 on a sink-free graph
    return _power_iteration(
        e, ranks, teleport=F.col("p"), damping=damping, iterations=iterations, has_dangling=True
    )


def _power_iteration(
    e: DataFrame,
    ranks: DataFrame,
    *,
    teleport: Column,
    damping: float,
    iterations: int,
    has_dangling: bool,
    tol: float | None = None,
) -> DataFrame:
    """rank_{t+1}(v) = (1-d)·p(v) + d·(Σ in-contribs + dangling·p(v)) over
    the (v, rank, deg[, p]) state ``ranks`` and the deduplicated edge set
    ``e``; returns (v, rank). ``teleport`` is p(v): a literal, or a column
    of the state. The state's columns besides v and rank are loop-invariant
    and built once, so no iteration re-joins a loop-invariant table.
    ``has_dangling=False`` promises the graph has no sink, which drops the
    per-iteration dangling aggregate and its broadcast job."""
    carried = [c for c in ranks.columns if c not in ("v", "rank")]
    carried_nulls = [F.lit(None).cast(ranks.schema[c].dataType).alias(c) for c in carried]
    prev_checkpointed = ranks
    for it in range(iterations):
        # the dangling mass aggregates into a broadcast 1-row frame, so the
        # whole iteration is a single distributed plan with no driver
        # round-trip for the scalar
        if has_dangling:
            dangling = F.broadcast(
                ranks.agg(
                    F.coalesce(
                        F.sum(F.when(F.col("deg").isNull(), F.col("rank"))), F.lit(0.0)
                    ).alias("__dang")
                )
            )
        contribs = e.join(
            ranks.filter(F.col("deg").isNotNull()).withColumnRenamed("v", "src"), "src"
        ).select(
            F.col("dst").alias("v"),
            (F.col("rank") / F.col("deg")).alias("c"),
            *carried_nulls,
        )
        # vertices with no inbound contribution re-enter through a zero row
        # unioned into the SAME aggregation (one shuffle) instead of a
        # per-iteration left join back to the vertex table; max() picks the
        # single non-null value each vertex carries in every state column
        summed = (
            contribs.unionByName(ranks.select("v", F.lit(0.0).alias("c"), *carried))
            .groupBy("v")
            .agg(F.sum("c").alias("s"), *[F.max(c).alias(c) for c in carried])
        )
        inflow = F.coalesce(F.col("s"), F.lit(0.0))
        if has_dangling:
            summed = summed.join(dangling)
            inflow = inflow + F.col("__dang") * teleport
        ranks = summed.select(
            "v",
            (F.lit(1.0 - damping) * teleport + F.lit(damping) * inflow).alias("rank"),
            *carried,
        )
        if (it + 1) % _CHECKPOINT_EVERY == 0 or it == iterations - 1:
            # lazy checkpoints truncate the plan immediately but fold the
            # materialization jobs into the caller's one action (measured
            # ~15% off the 20-iteration wall vs one eager job per boundary);
            # the tol path needs the ranks NOW for the delta, so it stays
            # eager there
            ranks = ranks.localCheckpoint(eager=tol is not None)
            if tol is not None and it < iterations - 1:
                delta = (
                    ranks.join(
                        prev_checkpointed.select("v", F.col("rank").alias("__prev")), "v"
                    )
                    .agg(F.sum(F.abs(F.col("rank") - F.col("__prev"))).alias("d"))
                    .collect()[0]["d"]
                )
                if delta is not None and delta <= tol:
                    return ranks.select("v", "rank")
            prev_checkpointed = ranks
    return ranks.select("v", "rank")
