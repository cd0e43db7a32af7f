"""Document chunking and content-hash ids.

Reference parity: app/utils.py:81-82 (generate_doc_id), 109-140
(chunk_document word-budget splitter with sentence overlap),
app/services.py:1583-1600 (single-chunk fast path), 1595 (chunk id scheme),
app/utils.py:115 (sentence split). ``document_chunks`` is the per-document
row function of stage 2 that operators/chunking.py and the serial oracle
(kernel/expected.py) both call.
"""

from __future__ import annotations

import hashlib
import re

_SENTENCE_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")

SINGLE_CHUNK_MAX_WORDS = 200  # services.py:1583-1600
CHUNK_WORD_BUDGET = 250
CHUNK_OVERLAP_SENTENCES = 2


def content_doc_id(content: str) -> str:
    """sha256 hex of the raw content (utils.py:81-82). Content-hash ids make
    every sink MERGE idempotent: re-running a partition is a no-op."""
    return hashlib.sha256(content.encode()).hexdigest()


def chunk_id_for(doc_id: str, seq: int) -> str:
    """services.py:1595."""
    return f"{doc_id}-chunk-{seq}"


def sentence_split(text: str) -> list[str]:
    return [s.strip() for s in _SENTENCE_SPLIT_RE.split(text) if s.strip()]


def chunk_text(
    text: str, max_chunk_words: int = CHUNK_WORD_BUDGET, overlap_sentences: int = CHUNK_OVERLAP_SENTENCES
) -> list[str]:
    """Word-budget chunker with trailing-sentence overlap (utils.py:109-140).

    Accumulates sentences until the running word count exceeds the budget,
    emits everything before the overflowing sentence (prefixed with the
    previous chunk's overlap tail), then carries the last ``overlap_sentences``
    sentences forward. The quirky final flush (overlap tail + remainder) is
    reproduced exactly.
    """
    sentences = sentence_split(text)
    if not sentences:
        return []

    chunks: list[str] = []
    carry: list[str] = []
    window: list[str] = []
    for sentence in sentences:
        window.append(sentence)
        if len(" ".join(window).split()) > max_chunk_words:
            emitted = " ".join(carry + window[:-1]).strip()
            if emitted:
                chunks.append(emitted)
            if len(window) > overlap_sentences:
                carry = window[-overlap_sentences:]
                window = window[-overlap_sentences:]
            else:
                carry = window
                window = []

    if window:
        emitted = " ".join(carry + window).strip()
        if emitted:
            chunks.append(emitted)
    return chunks


def document_chunks(text: str) -> list[str]:
    """Stage 2 for one document's content: a document of at most
    SINGLE_CHUNK_MAX_WORDS words is one chunk (none when blank); a longer
    one goes through the word-budget chunker."""
    if len(text.split()) <= SINGLE_CHUNK_MAX_WORDS:
        return [text] if text.strip() else []
    return chunk_text(text)
