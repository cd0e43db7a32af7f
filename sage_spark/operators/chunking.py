"""Stage 2: documents -> chunks with summaries and embeddings.

Reference parity: services.py:1583-1619 (chunk loop + sinks). The chunk
rule per document — single chunk up to 200 words (P5 fast path), the
word-budget chunker (utils.py:109-140) above — is
``kernel/chunks.document_chunks``, which the serial oracle calls too; its
constants live there. Summaries use the deterministic 600-char rule (P6);
embeddings come from the per-executor embedder singleton (hash projection
here, mpnet in production — kernel/embed.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame

from ..kernel.chunks import CHUNK_OVERLAP_SENTENCES, CHUNK_WORD_BUDGET  # noqa: F401 -- kgbench/checks.py imports them from here
from ..kernel.chunks import chunk_id_for, document_chunks
from ..kernel.embed import SentenceEmbedder
from ..kernel.text import fallback_summary
from ..schema import CHUNKS_SCHEMA


def build_chunks(documents: DataFrame, *, embed: bool = True) -> DataFrame:
    src = documents.select("doc_id", "content")

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        embedder = SentenceEmbedder.get() if embed else None
        for batch in batches:
            ids: list[str] = []
            doc_ids: list[str] = []
            seqs: list[int] = []
            contents: list[str] = []
            for doc_id, content in zip(batch["doc_id"], batch["content"]):
                for seq, piece in enumerate(document_chunks(content or "")):
                    ids.append(chunk_id_for(doc_id, seq))
                    doc_ids.append(doc_id)
                    seqs.append(seq)
                    contents.append(piece)
            summaries = [fallback_summary(c) for c in contents]
            vectors = embedder.encode(summaries) if embedder else [None] * len(contents)
            yield pd.DataFrame(
                {
                    "chunk_id": ids,
                    "doc_id": doc_ids,
                    "seq": seqs,
                    "content": contents,
                    "summary": summaries,
                    "embedding": vectors,
                }
            )

    return src.mapInPandas(kernel, schema=CHUNKS_SCHEMA)
