"""spark-submit entry point for incremental KG maintenance (impact analysis).

Given a live store (built by jobs/run_kg.py) and a NEW batch of webtext,
answer the continuously-updated-KG question before applying anything:
which facts would this batch add / confirm / contradict, which entities
does that touch, and which downstream artifacts (documents, chunk
embeddings) are stale within k hops? The reference prototypes this flow
serially (under_development/saia.py:117-227: compute_diff,
compute_impact_radius, re-embed targeting); here every step is a
DataFrame operator (operators/incremental.py) so it runs at batch scale.

The job is read-only on the store — it writes its analysis under
--output and prints one JSON summary line. Applying the batch is
jobs/run_kg.py against the same store (idempotent resume semantics).

Cluster usage:

    spark-submit --py-files sage_spark.zip jobs/run_maintain.py \
        --store  s3://bucket/kg-store/ \
        --input  s3://bucket/webtext-new/ \
        --persons s3://bucket/dims/persons.parquet \
        --output s3://bucket/kg-maint/2026-05-02/

Local smoke run (synthesizes the batch deterministically):

    python jobs/run_maintain.py --store /tmp/kgstore --synthetic 2000 \
        --output /tmp/maint

In-process, ``main(argv)`` takes the same arguments and returns the summary.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import datetime, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from sage_spark.operators.components import claim_entity_edges  # noqa: E402
from sage_spark.operators.extraction import extract_claims_stage  # noqa: E402
from sage_spark.operators.incremental import (  # noqa: E402
    affected_documents,
    changed_entities,
    fact_diff,
    impact_radius,
    re_embed_targets,
)
from sage_spark.pipeline import new_documents  # noqa: E402
from sage_spark.session import build_spark  # noqa: E402
from sage_spark.sources.webtext import WEBTEXT_FORMATS, read_batch  # noqa: E402
from sage_spark.store import TableStore  # noqa: E402


def main(argv: list[str]) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True, help="existing table-store root (read-only here)")
    ap.add_argument("--output", required=True, help="analysis output root")
    ap.add_argument("--input", help="new-batch webtext parquet/Iceberg path")
    ap.add_argument("--persons", help="persons-dimension parquet path")
    ap.add_argument("--groups", help="groups-dimension parquet path")
    ap.add_argument(
        "--input-format", default="parquet",
        choices=WEBTEXT_FORMATS,
        help="'table'/'iceberg' resolve --input as a catalog table identifier",
    )
    ap.add_argument("--lang", default="en")
    ap.add_argument("--run-ts", default=None, help="ISO processing anchor (defaults to now)")
    ap.add_argument("--max-depth", type=int, default=2, help="impact-radius BFS depth")
    ap.add_argument(
        "--new-embeddings",
        help="parquet of (chunk_id, new_embedding) — adds re-embed targeting "
             "against the store's chunk vectors",
    )
    ap.add_argument("--reembed-threshold", type=float, default=0.1)
    ap.add_argument(
        "--rank-impact", action="store_true",
        help="add a personalized-PageRank proximity score (seeded at the "
             "changed entities) to impacted_entities — the re-process "
             "priority order when the radius is too large to refresh at once",
    )
    ap.add_argument("--ppr-iterations", type=int, default=10)
    ap.add_argument(
        "--synthetic", type=int, default=0,
        help="generate an N-doc synthetic batch instead of --input",
    )
    args = ap.parse_args(argv)

    run_ts = args.run_ts or datetime.now(timezone.utc).isoformat()
    spark = build_spark(app_name="sage-kg-maintain")
    spark.sparkContext.setLogLevel("WARN")

    try:
        webtext, persons, groups = read_batch(
            spark, args.synthetic, args.input, args.input_format, args.persons, args.groups
        )
    except ValueError as e:
        ap.error(str(e))

    store = TableStore(args.store)
    out = Path(args.output) if "://" not in args.output else None

    # --- the new batch, gated exactly like run_kg's resume path: only docs
    # the store has never seen can change anything ---------------------------
    documents = new_documents(webtext, store, args.lang or None)
    batch_claims = extract_claims_stage(documents, persons, groups, run_ts=run_ts)
    # the diff/BFS stages each consume the batch twice — pin it once
    batch_claims = batch_claims.localCheckpoint(eager=True)

    current_facts = store.read(spark, "facts")
    store_claims = store.read(spark, "claims")

    # --- diff: added / confirmed / contradicted vs the live fact store ------
    diff = fact_diff(batch_claims, current_facts).localCheckpoint(eager=True)

    # --- impact: BFS over the STORE's entity mention graph from the entities
    # the non-confirmed diff rows touch (the materialized graph is what
    # downstream artifacts were built from, so it defines staleness) ---------
    seeds = changed_entities(diff, batch_claims)
    edges = claim_entity_edges(store_claims)
    impacted = impact_radius(seeds, edges, max_depth=args.max_depth)

    if args.rank_impact:
        # PPR from the changed entities orders the radius by how much of a
        # restart-at-the-change random walk lands on each entity — the
        # refresh-priority score. The seed FRAME is handed over as-is
        # (personalized_pagerank accepts a one-column DataFrame since r6):
        # a per-message batch's seeds are O(batch), but a bulk re-ingest's
        # changed-entity set is corpus-shaped, so it must never round-trip
        # through a driver-side list.
        from sage_spark.operators.pagerank import personalized_pagerank

        if not seeds.isEmpty():
            # the walk runs over the SYMMETRIZED graph, matching the
            # undirected BFS that defined the radius — on the directed store
            # edges, entities reachable only against edge direction (e.g.
            # subjects of claims pointing INTO a changed entity) would
            # receive rank exactly 0 and the refresh order would be
            # uninformative for that whole class
            sym = edges.unionByName(
                edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            ).filter(F.col("src") != F.col("dst"))
            ranks = personalized_pagerank(
                sym, seeds.select("entity_id"), iterations=args.ppr_iterations
            ).withColumnRenamed("v", "entity_id")
            impacted = impacted.join(ranks, "entity_id", "left").select(
                "entity_id", "depth", F.coalesce("rank", F.lit(0.0)).alias("rank")
            )
        else:
            impacted = impacted.withColumn("rank", F.lit(0.0))

    affected = affected_documents(impacted.select("entity_id", "depth"), store_claims)

    def write(df, name: str) -> None:
        path = f"{args.output}/{name}" if out is None else str(out / name)
        df.write.mode("overwrite").parquet(path)

    write(diff, "diff")
    write(impacted, "impacted_entities")
    write(affected, "affected_documents")

    summary = {
        "batch_docs": documents.count(),
        "batch_claims": batch_claims.count(),
        "diff": {
            r["change"]: r["n"]
            for r in diff.groupBy("change").agg(F.count("*").alias("n")).collect()
        },
        "changed_entities": seeds.count(),
        "impacted_by_depth": {
            str(r["depth"]): r["n"]
            for r in impacted.groupBy("depth").agg(F.count("*").alias("n")).collect()
        },
        "affected_documents": affected.count(),
        "max_depth": args.max_depth,
    }
    if args.rank_impact and "rank" in impacted.columns:
        # order on the ROUNDED rank (the precision the summary reports) so
        # two entities that tie after rounding can never disagree with the
        # reported order
        summary["top_impacted"] = [
            {"entity_id": r["entity_id"], "depth": r["depth"], "rank": round(r["rank"], 6)}
            for r in impacted.orderBy(F.round("rank", 6).desc(), "entity_id").limit(5).collect()
        ]

    if args.new_embeddings:
        chunks = store.read(spark, "chunks")
        if "embedding" not in chunks.columns:
            ap.error("--new-embeddings given but the store's chunks carry no embedding column")
        fresh = spark.read.parquet(args.new_embeddings)
        reembed = re_embed_targets(chunks, fresh, threshold=args.reembed_threshold)
        write(reembed, "reembed")
        summary["reembed_targets"] = reembed.filter(F.col("needs_reembed")).count()

    print(json.dumps(summary, sort_keys=True))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
