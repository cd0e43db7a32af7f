"""Kernel tests: chunker parity with the reference, fact-mutation scenarios
from the reference test suite, page-text determinism.

The chunker parity cases compare against the reference checkout and run
only where its files are present; every other case checks the kernel on
its own."""

from __future__ import annotations

import ast
import hashlib
from pathlib import Path

import pytest

from sage_spark.kernel.chunks import chunk_text, content_doc_id, sentence_split
from sage_spark.kernel.claims import extract_claims
from sage_spark.kernel.entities import MessageContext
from sage_spark.kernel.facts import fact_identity, replay_key_mutations
from sage_spark.kernel.pagetext import text_from_html

from .ref_oracle import REFERENCE_ROOT, has_reference, needs_reference


def _reference_chunker():
    """Compile only chunk_document out of the reference source (its module
    imports neo4j/pypdf which are absent here)."""
    source = Path(REFERENCE_ROOT, "app/utils.py").read_text()
    tree = ast.parse(source)
    fn = next(n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "chunk_document")
    namespace: dict = {"re": __import__("re"), "List": list}
    exec(compile(ast.Module(body=[fn], type_ignores=[]), "utils.py", "exec"), namespace)
    return namespace["chunk_document"]


REF_CHUNK = _reference_chunker() if has_reference("app/utils.py") else None
needs_ref_chunker = needs_reference("app/utils.py")

_WORDS = ("alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta")


def _synth_text(n_sentences: int, words_per_sentence: int, seed: int) -> str:
    out = []
    for i in range(n_sentences):
        n = 1 + (seed + i * 7) % words_per_sentence
        words = [_WORDS[(seed + i + j) % len(_WORDS)] for j in range(n)]
        out.append(" ".join(words) + ("." if i % 3 else "!"))
    return " ".join(out)


@needs_ref_chunker
@pytest.mark.parametrize("n,wps,seed", [(0, 5, 1), (1, 3, 2), (5, 10, 3), (40, 30, 4), (200, 60, 5), (12, 300, 6)])
@pytest.mark.parametrize("budget,overlap", [(250, 2), (20, 2), (50, 1), (10, 5)])
def test_chunker_parity(n, wps, seed, budget, overlap):
    text = _synth_text(n, wps, seed)
    assert chunk_text(text, budget, overlap) == REF_CHUNK(text, budget, overlap)


def test_doc_id_is_sha256():
    assert content_doc_id("hello") == hashlib.sha256(b"hello").hexdigest()


def test_sentence_split_matches_reference_regex():
    text = "One. Two!  Three? Four"
    assert sentence_split(text) == ["One.", "Two!", "Three?", "Four"]


# --- fact mutation scenarios (reference tests/test_saia.py:386-534,694-793) ---

DIRECT_CTX = MessageContext(
    doc_id="chat-msg-m1",
    sender_id="u1",
    receiver_ids=("u2",),
    message_id="m1",
    conversation_id="direct:u1:u2",
    conversation_type="direct",
    group_id=None,
    sent_at="2026-04-01T10:00:00Z",
)


def _claims_for(text: str, ctx: MessageContext = DIRECT_CTX):
    return extract_claims(text, ctx, None, created_at="2026-04-01T10:00:01+00:00")


def test_insert_new_fact_for_direct_commitment():
    claims = _claims_for("I'll send you the report tomorrow.")
    out = replay_key_mutations([], claims, "2026-04-01T10:00:02+00:00")
    assert out.canonicalized == 1 and out.conflicts == 0
    current = [f for f in out.facts if f["status"] == "current"]
    assert len(current) == 1
    fact = current[0]
    assert fact["canonical_key"] == "assignment::direct:u1:u2::send-report"
    assert fact["subject_entity_id"] == "u1"
    assert fact["object_entity_id"] == "u2"
    assert fact["temporal_start"] == "2026-04-02"
    assert fact["support_count"] == 1
    assert out.claim_updates[0]["mutation_action"] == "insert_new_fact"
    assert out.claim_updates[0]["promotion_status"] == "promoted"
    assert out.edges == [
        {"claim_id": claims[0]["claim_id"], "fact_id": fact["fact_id"], "relation_type": "SUPPORTS"}
    ]


def test_confirm_existing_identical_fact():
    existing = {
        "fact_id": "fact-existing",
        "canonical_key": "assignment::direct:u1:u2::send-report",
        "claim_type": "TASK_ASSIGNMENT",
        "predicate": "TASK_COMMITMENT",
        "subject_entity_id": "u1",
        "subject_key": "u1",
        "object_entity_id": "u2",
        "object_key": "u2",
        "value_text": "send report",
        "temporal_start": "2026-04-02",
        "temporal_granularity": "date",
        "status": "current",
        "support_count": 1,
    }
    claims = _claims_for("I'll send you the report tomorrow.")
    out = replay_key_mutations([existing], claims, "2026-04-03T09:00:00+00:00")
    assert out.canonicalized == 1 and out.conflicts == 0
    assert [f["fact_id"] for f in out.facts] == ["fact-existing"]
    assert out.facts[0]["support_count"] == 2
    assert out.facts[0]["last_seen_at"] == "2026-04-03T09:00:00+00:00"
    assert out.claim_updates[0]["mutation_action"] == "confirm_existing_fact"
    assert out.claim_updates[0]["promotion_status"] == "confirmed"


def test_supersede_conflicting_reports_to():
    existing = {
        "fact_id": "fact-old",
        "canonical_key": "reports_to::bob",
        "claim_type": "REPORTS_TO",
        "predicate": "REPORTS_TO",
        "subject_entity_id": None,
        "subject_key": "bob",
        "object_entity_id": None,
        "object_key": "alice",
        "value_text": None,
        "temporal_start": None,
        "temporal_granularity": "unresolved",
        "status": "current",
        "support_count": 3,
    }
    # without a catalog both sides resolve to slugs; canonical_confidence 0.55
    # fails the gate, so force a resolvable claim via EMP ids instead
    claims = _claims_for("EMP002 now reports to EMP003.")
    for c in claims:
        c["canonical_key"] = "reports_to::bob"  # collide with the stored key
    out = replay_key_mutations([existing], claims, "2026-04-05T00:00:00+00:00")
    assert out.canonicalized == 1 and out.conflicts == 1
    old = next(f for f in out.facts if f["fact_id"] == "fact-old")
    new = next(f for f in out.facts if f["fact_id"] != "fact-old")
    assert old["status"] == "superseded"
    assert old["superseded_by_fact_id"] == new["fact_id"]
    assert new["status"] == "current"
    rels = {(e["fact_id"], e["relation_type"]) for e in out.edges}
    assert (new["fact_id"], "SUPPORTS") in rels and ("fact-old", "CONTRADICTS") in rels
    assert out.claim_updates[0]["mutation_action"] == "supersede_current_fact"


def test_request_claim_never_touches_facts():
    claims = _claims_for("Can you send the file?")
    out = replay_key_mutations([], claims, "2026-04-01T10:00:02+00:00")
    assert out.canonicalized == 0
    assert out.facts == [] and out.edges == []
    assert out.claim_updates[0]["mutation_action"] == "not_promoted"
    assert out.claim_updates[0]["promotion_status"] == "skipped_noncanonical"


def test_pending_review_on_multiple_current_facts():
    base = {
        "canonical_key": "status::server::general",
        "claim_type": "STATUS_UPDATE",
        "predicate": "STATUS",
        "subject_entity_id": None,
        "subject_key": "server",
        "object_entity_id": None,
        "object_key": None,
        "value_text": "up",
        "temporal_start": None,
        "temporal_granularity": "unresolved",
        "status": "current",
        "support_count": 1,
    }
    existing = [dict(base, fact_id="f1"), dict(base, fact_id="f2", value_text="degraded")]
    claims = _claims_for("The server is down.")
    out = replay_key_mutations(existing, claims, "2026-04-06T00:00:00+00:00")
    assert out.canonicalized == 0 and out.conflicts == 1
    assert out.claim_updates[0]["mutation_action"] == "pending_review"
    assert {"claim_id": claims[0]["claim_id"], "fact_id": "f1", "relation_type": "CONTRADICTS"} in out.edges


def test_within_batch_sequence_insert_then_supersede():
    first = _claims_for("Bob is assigned to Project A.")
    second = _claims_for(
        "Bob is no longer working on Project A.",
        MessageContext(
            doc_id="chat-msg-m2",
            sender_id="u1",
            receiver_ids=("u2",),
            message_id="m2",
            conversation_id="direct:u1:u2",
            conversation_type="direct",
            group_id=None,
            sent_at="2026-04-02T10:00:00Z",
        ),
    )
    out = replay_key_mutations([], first + second, "2026-04-06T00:00:00+00:00")
    assert out.canonicalized == 2 and out.conflicts == 1
    states = sorted((f["value_text"], f["status"]) for f in out.facts)
    assert states == [("active", "superseded"), ("inactive", "current")]


def test_fact_identity_formula():
    assert fact_identity("c1", "k1") == hashlib.sha256(b"fact::c1::k1").hexdigest()


# --- page text / sources -------------------------------------------------------

def test_html_text_extraction_is_deterministic_and_skips_script():
    html = (
        "<html><head><title>T</title><script>var x=1;</script></head>"
        "<body><p>Hello   <b>world</b>.</p><div>Second &amp; third</div></body></html>"
    ).encode()
    text = text_from_html(html)
    assert text == "Hello world.\nSecond & third"
    assert text_from_html(html) == text


def test_sentence_embedder_structure():
    """C3: the per-executor embedder singleton — model path (injected fake),
    input truncation rule (utils.py:58-78: embed at most
    EMBED_INPUT_MAX_CHARS chars), hermetic hash fallback, and singleton
    identity."""
    import numpy as np

    from sage_spark.kernel.embed import (
        DEFAULT_DIM,
        EMBED_INPUT_MAX_CHARS,
        SentenceEmbedder,
        hash_embedding,
    )

    # singleton: one instance per process (per executor in production)
    assert SentenceEmbedder.get() is SentenceEmbedder.get()

    # fallback path (no model in this container): deterministic unit vectors
    emb = SentenceEmbedder()
    out = emb.encode(["alpha", "alpha", "beta"])
    assert out[0] == out[1] != out[2]
    assert len(out[0]) == DEFAULT_DIM
    assert abs(sum(v * v for v in out[0]) - 1.0) < 1e-9
    assert out[0] == hash_embedding("alpha", DEFAULT_DIM)

    # model path via injected fake: batch shape and the truncation rule
    class FakeModel:
        def __init__(self):
            self.seen = None

        def encode(self, texts):
            self.seen = list(texts)
            return [np.arange(4, dtype=np.float32) + len(t) for t in texts]

    fake = FakeModel()
    emb_model = SentenceEmbedder()
    emb_model._model = fake
    long_text = "x" * (EMBED_INPUT_MAX_CHARS + 500)
    vecs = emb_model.encode([long_text, "short"])
    assert len(fake.seen) == 2
    assert len(fake.seen[0]) == EMBED_INPUT_MAX_CHARS  # truncated before encode
    assert fake.seen[1] == "short"
    assert vecs[0] == [float(EMBED_INPUT_MAX_CHARS + v) for v in range(4)]
    assert isinstance(vecs[0], list)  # numpy arrays are converted for Arrow


def test_sentence_embedder_loads_model_via_import(monkeypatch):
    """Exercise the real-model __init__ branch without the weights: a fake
    ``sentence_transformers`` module is injected into sys.modules, and the
    constructor must (1) pass the mpnet model name through, (2) adopt the
    model's embedding dimension, and (3) route encode() through the model
    with the same truncation contract as the fallback."""
    import sys
    import types

    import numpy as np

    import sage_spark.kernel.embed as embed_mod

    constructed = []

    class FakeST:
        def __init__(self, name):
            constructed.append(name)

        def get_sentence_embedding_dimension(self):
            return 768

        def encode(self, texts):
            return [np.full(768, float(len(t)), dtype=np.float32) for t in texts]

    fake_module = types.ModuleType("sentence_transformers")
    fake_module.SentenceTransformer = FakeST
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake_module)

    emb = embed_mod.SentenceEmbedder()
    assert constructed == ["sentence-transformers/all-mpnet-base-v2"]
    assert emb.dim == 768 and emb._model is not None

    long_text = "y" * (embed_mod.EMBED_INPUT_MAX_CHARS + 123)
    vecs = emb.encode([long_text, "ab"])
    assert len(vecs) == 2 and len(vecs[0]) == 768
    assert vecs[0][0] == float(embed_mod.EMBED_INPUT_MAX_CHARS)  # truncated input
    assert vecs[1][0] == 2.0
    assert isinstance(vecs[0], list)  # Arrow-serializable, same as fallback

    # a broken model import must fall back to the hash path, not raise
    class Boom(types.ModuleType):
        def __getattr__(self, name):
            raise RuntimeError("no weights")

    monkeypatch.setitem(sys.modules, "sentence_transformers", Boom("sentence_transformers"))
    fb = embed_mod.SentenceEmbedder()
    assert fb._model is None and fb.dim == embed_mod.DEFAULT_DIM
    assert fb.encode(["z"])[0] == embed_mod.hash_embedding("z", embed_mod.DEFAULT_DIM)


def test_records_nullsafe_matches_pandas_form():
    """The columnar record walk must emit EXACTLY the records of the pandas
    astype(object)+where(notnull)+to_dict form it replaced — across float
    NaN, None-in-object, nullable bool, list-valued cells, and an empty
    frame."""
    import numpy as np
    import pandas as pd

    from sage_spark.operators.canonicalize import _records_nullsafe

    batch = pd.DataFrame(
        {
            "s": ["a", None, "c", ""],
            "f": [1.5, np.nan, 0.0, -2.25],
            "i": np.array([1, 2, 3, 4], dtype=np.int64),
            "b": pd.array([True, None, False, True], dtype=object),
            "arr": [[0.1, 0.2], None, [], [3.0]],
        }
    )
    expect = batch.astype(object).where(pd.notnull(batch), None).to_dict("records")
    assert _records_nullsafe(batch) == expect
    empty = batch.iloc[0:0]
    assert _records_nullsafe(empty) == []
