"""Stages 1-3: web pages -> documents -> claims.

Two Arrow-batched kernels (BASELINE.json input_hint: no per-row Python):

* ``extract_documents`` — byte-deterministic page-text extraction per url
  (``kernel/pagetext.document_text``) + sha256 doc_id; maps the reference's
  file-format extractors (utils.py:85-106) and document assembly
  (services.py:1514-1581).
* ``extract_claims_stage`` — ``kernel/claims.document_claims`` per documents
  row (context defaults, cleanup, eligibility gate, the seven-extractor
  cascade) with entity resolution against a broadcast EntityCatalog: the
  reference's per-row Neo4j lookups (saia.py:1810-1827) restructured as a
  map-side broadcast hash join. Adds only the physical partition id
  (per-partition lineage) to each claim.

The serial oracle (kernel/expected.py) calls the same row functions, so the
differential tests compare the distributed plan alone.
"""

from __future__ import annotations

from typing import Iterator, Optional

import pandas as pd

from pyspark import TaskContext
from pyspark.sql import DataFrame, functions as F

from ..kernel.chunks import content_doc_id
from ..kernel.claims import document_claims
from ..kernel.entities import EntityCatalog
from ..kernel.pagetext import document_text
from ..kernel.text import fallback_summary
from ..schema import CLAIMS_SCHEMA, DOCUMENTS_SCHEMA

_DOC_KERNEL_COLS = [
    "url", "html", "text", "lang", "sender_id", "receiver_ids", "conversation_id",
    "conversation_type", "group_id", "message_id", "source", "warc_ts",
]


def extract_documents(webtext: DataFrame, *, lang_filter: str | None = "en") -> DataFrame:
    """Stage 1: (url, warc_ts, html, ...) -> documents table.

    The language filter is applied *before* the Python kernel so Catalyst
    pushes it into the scan (partition pruning on a lang-partitioned table);
    the html column is only deserialized for surviving rows.
    """
    src = webtext
    if lang_filter:
        src = src.filter(F.col("lang") == lang_filter)
    src = src.select(*_DOC_KERNEL_COLS)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for batch in batches:
            texts = [document_text(html, given) for html, given in zip(batch["html"], batch["text"])]
            out = pd.DataFrame(
                {
                    "doc_id": [content_doc_id(t) for t in texts],
                    "url": batch["url"],
                    "sender": batch["sender_id"],
                    "receivers": batch["receiver_ids"],
                    "subject": [None] * len(batch),
                    "content": texts,
                    "summary": [fallback_summary(t) for t in texts],
                    "timestamp": [
                        ts.isoformat() + "+00:00" if ts is not None and not pd.isna(ts) else None
                        for ts in batch["warc_ts"]
                    ],
                    "source": batch["source"],
                    "conversation_type": batch["conversation_type"],
                    "conversation_id": batch["conversation_id"],
                    "group_id": batch["group_id"],
                    "lang": batch["lang"],
                }
            )
            out["message_id"] = batch["message_id"].values
            yield out

    # note: StructType.add mutates in place — build a fresh copy instead
    from pyspark.sql import types as T

    schema = T.StructType(list(DOCUMENTS_SCHEMA.fields) + [T.StructField("message_id", T.StringType(), True)])
    return src.mapInPandas(kernel, schema=schema)


def extract_claims_stage(
    documents: DataFrame,
    persons: Optional[list[dict]] = None,
    groups: Optional[list[dict]] = None,
    *,
    run_ts: str,
) -> DataFrame:
    """Stage 3: documents -> claims (one row per extracted claim).

    ``persons``/``groups`` are plain row dicts of the canonical-entity
    dimension; they are broadcast once per job and indexed into an
    EntityCatalog lazily per executor (first batch pays the build, the rest
    reuse it). ``run_ts`` stamps created_at so re-runs are byte-stable.
    """
    spark = documents.sparkSession
    persons_bc = spark.sparkContext.broadcast(persons or [])
    groups_bc = spark.sparkContext.broadcast(groups or [])
    cols = [
        "doc_id", "content", "sender", "receivers", "conversation_id",
        "conversation_type", "group_id", "message_id", "source", "timestamp",
    ]
    src = documents.select(*cols)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        catalog = EntityCatalog(persons_bc.value, groups_bc.value)
        tc = TaskContext.get()
        partition_id = tc.partitionId() if tc is not None else -1
        for batch in batches:
            rows: list[dict] = []
            for rec in batch.to_dict("records"):
                for claim in document_claims(rec, catalog, run_ts):
                    claim["partition_id"] = partition_id
                    rows.append(claim)
            yield pd.DataFrame(rows, columns=[f.name for f in CLAIMS_SCHEMA.fields])

    return src.mapInPandas(kernel, schema=CLAIMS_SCHEMA)
