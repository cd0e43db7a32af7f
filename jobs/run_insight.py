"""spark-submit entry point for the message-insight surface.

The batch analog of the reference's per-message insight endpoint
(app/saia.py:1278-1460 collect_message_insight): where the reference walks
one message at a time through Cypher round-trips, this job assembles the
insight rows for EVERY message of a KG store (built by jobs/run_kg.py) in
one distributed pass — evidence documents, claims, SUPPORTS/CONTRADICTS
fact links, supersedence predecessors, and display-decorated text — and
materializes them as a queryable table. A UI serving "explain this
message" then reads one pre-joined partition instead of hitting the graph.

Cluster usage:

    zip -r sage_spark.zip sage_spark
    spark-submit --py-files sage_spark.zip jobs/run_insight.py \
        --store s3://bucket/kg/ --output s3://bucket/insight/

Local smoke run (after a run_kg.py --synthetic run):

    python jobs/run_insight.py --store /tmp/vkg --output /tmp/insight

In-process, ``main(argv)`` takes the same arguments and returns the summary.

Message linkage: documents carrying ``origin_message_id`` /
``linked_message_id`` columns or ``chat-msg-<id>`` doc_ids link through
the reference's three evidence rules; for stores without chat linkage
(pure webtext crawls) each document is its own message scope
(origin_message_id := doc_id), which preserves the per-document insight
grouping. Display names come from --persons (a parquet with id/name/email
rows) when given; otherwise labels fall back to humanized entity keys —
the same fallback chain the reference applies to unknown entities.
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from sage_spark.operators.insight import (  # noqa: E402
    message_insight,
    with_display_labels,
    with_display_text,
)
from sage_spark.session import build_spark  # noqa: E402
from sage_spark.store import TableStore  # noqa: E402


def main(argv: list[str]) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--store", required=True, help="KG store root (run_kg.py output)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--persons", default=None, help="parquet with (id, name[, email]) display rows")
    ap.add_argument("--messages", default=None, help="comma-separated message ids to scope to")
    args = ap.parse_args(argv)

    spark = build_spark(app_name="sage-insight")
    spark.sparkContext.setLogLevel("WARN")
    store = TableStore(args.store)

    documents = store.read(spark, "documents")
    if "origin_message_id" not in documents.columns:
        # webtext store without chat linkage: each document is its own scope
        documents = documents.withColumn("origin_message_id", F.col("doc_id"))
    claims = store.read(spark, "claims")
    edges = store.read(spark, "claim_fact_edges")
    facts = store.read(spark, "facts")

    if args.persons:
        persons = spark.read.parquet(args.persons)
        name_col = F.coalesce(
            *[F.col(c) for c in ("name", "email") if c in persons.columns], F.col("id")
        )
        names = persons.select(F.col("id").alias("entity_id"), name_col.alias("display_name"))
    else:
        names = spark.createDataFrame([], "entity_id string, display_name string")

    decorated = with_display_text(with_display_labels(claims, names))
    messages = None
    if args.messages:
        messages = spark.createDataFrame(
            [(m,) for m in args.messages.split(",")], "message_id string"
        )
    out = message_insight(documents, decorated, edges, facts, messages=messages)
    out.write.mode("overwrite").parquet(str(Path(args.output) / "insight"))

    written = spark.read.parquet(str(Path(args.output) / "insight"))
    summary = {
        "messages": written.select("message_id").distinct().count(),
        "rows": written.count(),
        "with_fact_link": written.filter(F.col("fact_id").isNotNull()).count(),
        "contradicts": written.filter(F.col("relation_type") == "CONTRADICTS").count(),
        "replacements": written.filter(F.col("previous_fact_id").isNotNull()).count(),
    }
    print(json.dumps(summary))
    return summary


if __name__ == "__main__":
    main(sys.argv[1:])
