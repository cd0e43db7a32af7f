"""Entity co-mention graph + triangle counting / clustering coefficient.

No reference counterpart — this is the graph-analytics operator a KG built
from webtext needs next after degree stats and PageRank
(operators/pagerank.py): "how clustered is the neighbourhood around each
entity?" drives community detection, hub-vs-bridge entity
triage, and link-prediction features, and its input (the co-mention graph:
two entities linked when some document mentions both) is exactly the
mention structure the reference stores per-chunk in Neo4j
(app/pipeline.py:157-224) but never aggregates.

Scale design (the part that matters at 10^12 documents):

* ``co_mention_edges`` — the pair blow-up is quadratic per document, so a
  hot document (a page mentioning 10^4 entities) alone would emit 10^8
  pairs. ``max_per_doc`` caps the per-document entity list FIRST (smallest
  entity ids kept — deterministic under any partitioning), bounding every
  document's contribution to C(cap, 2); the cap is the same two-phase
  shape as operators/corpus.py:host_cap. One shuffle on doc, one distinct
  on the canonical (u < v) pair.
* ``triangle_counts`` — the naive wedge join (edges ⋈ edges on the shared
  endpoint) fans out as sum(deg^2): a single 10^6-degree hub emits 10^12
  wedges. Orienting every edge from its lower-(degree, id) endpoint to the
  higher one first (the classic degree-ordered trick) bounds every
  vertex's OUT-degree by O(sqrt(m)) — the wedge join's fan-out drops to
  sum(out_deg^2) <= m^1.5 regardless of hub skew, each triangle is
  enumerated exactly once, and both joins stay plain hash joins keyed on a
  vertex id. The orientation changes which vertex enumerates a triangle
  but never the triangle SET, so results are identical to the id-oriented
  enumeration the DuckDB oracle runs — a free differential check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from .graph import undirected_pairs


def co_mention_edges(
    mentions: DataFrame,
    doc_col: str = "doc_id",
    entity_col: str = "entity_id",
    *,
    max_per_doc: int | None = None,
) -> DataFrame:
    """Distinct undirected co-mention edges (u < v) from a (doc, entity)
    mention table. ``max_per_doc`` keeps only each document's
    ``max_per_doc`` smallest entity ids before pairing (hot-doc bound)."""
    m = mentions.select(
        F.col(doc_col).alias("doc"), F.col(entity_col).alias("ent")
    ).distinct()
    if max_per_doc is not None:
        w = Window.partitionBy("doc").orderBy(F.col("ent").asc())
        m = (
            m.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") <= max_per_doc)
            .drop("__rn")
        )
    a, b = m.alias("a"), m.alias("b")
    return (
        a.join(b, (F.col("a.doc") == F.col("b.doc")) & (F.col("a.ent") < F.col("b.ent")))
        .select(F.col("a.ent").alias("u"), F.col("b.ent").alias("v"))
        .distinct()
    )


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle count + degree + local clustering coefficient
    over an undirected edge list (any orientation, loops/dupes tolerated).

    Returns (entity, degree, triangles, clustering) for every vertex with
    degree >= 1; clustering = 2*T / (deg*(deg-1)), 0.0 when deg < 2.
    """
    canon = undirected_pairs(edges)
    deg = (
        canon.select(F.col("u").alias("ent"))
        .unionByName(canon.select(F.col("v").alias("ent")))
        .groupBy("ent")
        .agg(F.count("*").alias("degree"))
    )
    # orient low -> high by (degree, id): out-degree <= O(sqrt(m)) per vertex
    du = deg.select(F.col("ent").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("ent").alias("v"), F.col("degree").alias("dv"))
    ranked = canon.join(du, "u").join(dv, "v")
    lower_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(lower_first, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(lower_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    # wedge a->b->c then close with the oriented edge a->c; each triangle
    # appears exactly once (its two lowest-ranked vertices form the wedge)
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(e2, F.col("e1.dst") == F.col("e2.src")).select(
        F.col("e1.src").alias("a"), F.col("e1.dst").alias("b"), F.col("e2.dst").alias("c")
    )
    closer = oriented.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = wedges.join(closer, ["a", "c"])
    per_vertex = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("ent"))
        .groupBy("ent")
        .agg(F.count("*").alias("triangles"))
    )
    return (
        deg.join(per_vertex, "ent", "left")
        .select(
            F.col("ent").alias("entity"),
            "degree",
            F.coalesce("triangles", F.lit(0)).alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce("triangles", F.lit(0))
                    / (F.col("degree") * (F.col("degree") - 1.0)),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering"),
        )
    )
