"""spark-submit entry point for the KG-construction pipeline.

Cluster usage (the north-rule deployment shape):

    zip -r sage_spark.zip sage_spark
    spark-submit --py-files sage_spark.zip jobs/run_kg.py \
        --input  s3://bucket/webtext/          # or an Iceberg table path \
        --persons s3://bucket/dims/persons.parquet \
        --store  s3://bucket/kg-store/ \
        --run-id nightly-2026-05-01

Local smoke run (synthesizes input deterministically):

    python jobs/run_kg.py --synthetic 10000 --store /tmp/kgstore
"""

from __future__ import annotations

import argparse
import sys
from datetime import datetime, timezone
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from sage_spark.datagen import build_groups, synth_webtext  # noqa: E402
from sage_spark.pipeline import run_pipeline  # noqa: E402
from sage_spark.session import build_spark  # noqa: E402
from sage_spark.store import TableStore  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="webtext parquet/Iceberg path")
    ap.add_argument("--persons", help="persons-dimension parquet path")
    ap.add_argument("--groups", help="groups-dimension parquet path")
    ap.add_argument("--store", required=True, help="output table-store root")
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--run-ts", default=None, help="ISO processing anchor (defaults to now)")
    ap.add_argument("--lang", default="en")
    ap.add_argument(
        "--input-format", default="parquet",
        choices=["parquet", "jsonl", "json", "table", "iceberg"],
        help="'table'/'iceberg' resolve --input as a catalog table identifier",
    )
    ap.add_argument("--embed-chunks", action="store_true")
    ap.add_argument("--synthetic", type=int, default=0, help="generate N synthetic docs instead of --input")
    ap.add_argument(
        "--publish-catalog", default=None, metavar="NAMESPACE",
        help="after the run, materialize the store tables as catalog tables "
             "under this namespace (the north rule's node/edge table output)",
    )
    ap.add_argument(
        "--publish-format", default="parquet",
        help="table provider for --publish-catalog; 'iceberg' when an "
             "Iceberg catalog + runtime jar are configured on the cluster",
    )
    ap.add_argument(
        "--publish-tables", default=None,
        help="comma-separated subset to publish (default: every store table)",
    )
    ap.add_argument(
        "--maintain-components", action="store_true",
        help="fold this run's entity-mention edges into a persisted "
        "'components' assignment table (incremental connected components; "
        "only changed/new rows are upserted)",
    )
    ap.add_argument(
        "--export-neo4j", default=None, metavar="DIR",
        help="after the run, write a neo4j-admin database import CSV layout "
        "(nodes/rels part files + typed headers + import.sh) under DIR — "
        "the bulk-load migration path for reference deployments keeping a "
        "Neo4j serving copy",
    )
    args = ap.parse_args()

    run_ts = args.run_ts or datetime.now(timezone.utc).isoformat()
    run_id = args.run_id or f"run-{run_ts.replace(':', '').replace('+', 'Z')}"
    spark = build_spark(app_name=f"sage-kg-{run_id}")
    spark.sparkContext.setLogLevel("WARN")

    if args.synthetic:
        webtext, persons_df = synth_webtext(spark, args.synthetic)
        persons = [r.asDict() for r in persons_df.collect()]
        groups = build_groups()
    else:
        if not args.input or not args.persons:
            ap.error("--input and --persons are required without --synthetic")
        from sage_spark.sources.webtext import read_dimensions, read_webtext

        webtext = read_webtext(spark, args.input, args.input_format)
        persons, groups = read_dimensions(spark, args.persons, args.groups)

    store = TableStore(args.store)
    result = run_pipeline(
        spark,
        webtext,
        persons,
        groups,
        store,
        run_id=run_id,
        run_ts=run_ts,
        embed_chunks=args.embed_chunks,
        lang_filter=args.lang or None,
        maintain_components=args.maintain_components,
    )
    if args.maintain_components:
        print(f"components: {result.components} vertex rows upserted")
    # rows this run wrote, not store totals: a resumed run prints all zeros
    print(
        f"run {run_id} batch: documents={result.documents} chunks={result.chunks} "
        f"claims={result.claims} facts_current={result.facts_current} "
        f"superseded={result.facts_superseded} conflicts={result.conflicts} edges={result.edges}"
    )

    if args.publish_catalog:
        from sage_spark.sinks.catalog import publish_store_tables

        subset = args.publish_tables.split(",") if args.publish_tables else None
        published = publish_store_tables(
            spark, store, args.publish_catalog, fmt=args.publish_format, tables=subset
        )
        counts = " ".join(f"{t}={n}" for t, n in sorted(published.items()))
        print(f"published {args.publish_catalog} ({args.publish_format}): {counts}")

    if args.export_neo4j:
        from sage_spark.sinks.neo4j_csv import export_neo4j_admin_csv

        exported = export_neo4j_admin_csv(spark, store, args.export_neo4j)
        counts = " ".join(f"{k}={n}" for k, n in sorted(exported.items()))
        print(f"neo4j export {args.export_neo4j}: {counts}")


if __name__ == "__main__":
    main()
