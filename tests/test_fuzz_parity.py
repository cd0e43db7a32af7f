"""Property-based differential fuzzing: the kernel must agree with the
reference extractor on arbitrary generated inputs, not just the curated
battery. Hypothesis drives sentence-shaped and adversarial inputs through
both implementations.

The claim, temporal and chunker parities read the reference checkout and run
only where it is present; the serial hash-replay fuzz (oracle vs Spark)
needs nothing from it."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from sage_spark.kernel.chunks import chunk_text
from sage_spark.kernel.claims import extract_claims
from sage_spark.kernel.entities import EntityCatalog, MessageContext
from sage_spark.kernel.temporal import resolve_temporal, strip_temporal_tokens, temporal_expressions
from sage_spark.kernel.text import clean_message_text

from .ref_oracle import RefSession
from .test_chunks_and_facts import REF_CHUNK, needs_ref_chunker
from .test_kernel_parity import needs_saia, saia

PERSONS = [
    {"id": "EMP001", "name": "Alice Johnson", "email": "alice@example.com", "is_user": True},
    {"id": "EMP002", "name": "Bob Smith", "email": "bob@example.com", "is_user": False},
    {"id": "ext-1", "name": "Bob Smith", "email": "", "is_user": False},
]
CATALOG = EntityCatalog(PERSONS, [{"id": "g1", "name": "Core"}])
SESSION = RefSession(PERSONS, [{"id": "g1", "name": "Core"}])

_SUBJECTS = st.sampled_from(
    ["I", "Bob Smith", "EMP001", "The server", "the budget", "Alice Johnson", "we", "it",
     "Project Alpha", "they", "Bob", "emp002", "The Quarterly Report"]
)
_VERBS = st.sampled_from(
    ["will send", "reports to", "is assigned to", "approved", "is approved", "is down",
     "is on track", "will review", "'ll share", "must update", "should confirm",
     "is no longer working on", "meet", "have a meeting"]
)
_OBJECTS = st.sampled_from(
    ["the report", "Alice Johnson", "EMP002", "Project Alpha", "you", "the budget sheet",
     "it", "us", "the file", ""]
)
_TIMES = st.sampled_from(
    ["tomorrow", "today", "by 8pm today", "next Monday", "in 3 days", "at 10", "on 2026-05-04",
     "by 9:30 pm tomorrow instead", "yesterday", "now", "", "at 99", "in 0 days", "12am", "12pm"]
)
_PUNCT = st.sampled_from([".", "?", "!", "", "..."])
_NOISE = st.sampled_from(["", "For Project Alpha.", "Regarding the rollout.", "> quoted line",
                          "On Mon wrote:", "Thanks!"])

sentence = st.builds(
    lambda s, v, o, t, p, n: f"{s} {v} {o} {t}{p} {n}".strip(),
    _SUBJECTS, _VERBS, _OBJECTS, _TIMES, _PUNCT, _NOISE,
)
message = st.lists(sentence, min_size=1, max_size=4).map(" ".join)

DIRECT = dict(
    source_kind="chat_message",
    sender_id="EMP001",
    receiver_ids=["EMP002"],
    conversation_id="direct:EMP001:EMP002",
    conversation_type="direct",
    group_id=None,
    sent_at="2026-04-13T13:23:17Z",
)


def _reference(text: str) -> list[dict]:
    ctx = saia.GroundingContext(source_doc_id="chat-msg-f1", source_message_id="f1",
                                linked_message_id=None, source="chat_message", **DIRECT)
    cleaned = saia._prepare_text(text)
    claims = saia.extract_claims_from_text(cleaned, ctx, session=SESSION)
    for c in claims:
        c["claim_id"] = saia._make_claim_id(ctx, c)
        c["canonical_key"] = saia._build_canonical_key(c)
        c.pop("created_at", None)
    return claims


def _ours(text: str) -> list[dict]:
    ctx = MessageContext(doc_id="chat-msg-f1", message_id="f1", source="chat_message",
                         source_kind="chat_message", sender_id=DIRECT["sender_id"],
                         receiver_ids=tuple(DIRECT["receiver_ids"]),
                         conversation_id=DIRECT["conversation_id"],
                         conversation_type=DIRECT["conversation_type"],
                         group_id=None, sent_at=DIRECT["sent_at"])
    claims = extract_claims(clean_message_text(text), ctx, CATALOG)
    for c in claims:
        c.pop("created_at", None)
    return claims


@needs_saia
@settings(max_examples=300, deadline=None)
@given(message)
def test_fuzz_claim_parity(text):
    assert _ours(text) == _reference(text)


@needs_saia
@settings(max_examples=300, deadline=None)
@given(st.text(max_size=200))
def test_fuzz_claim_parity_arbitrary_text(text):
    assert _ours(text) == _reference(text)


@needs_saia
@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120), st.sampled_from(["2026-04-01T10:00:00Z", "2026-12-31T23:59:59+05:30", "2026-02-28T00:00:00"]))
def test_fuzz_temporal_parity(text, anchor):
    assert resolve_temporal(text, anchor) == saia.normalize_temporal_reference(text, anchor)
    assert temporal_expressions(text) == saia._extract_temporal_expressions(text)
    assert strip_temporal_tokens(text) == saia._strip_temporal_tokens(text)


@needs_ref_chunker
@settings(max_examples=100, deadline=None)
@given(
    st.lists(st.text(alphabet="abcdef .!?", min_size=1, max_size=40), max_size=30).map(" ".join),
    st.integers(min_value=1, max_value=300),
    st.integers(min_value=0, max_value=5),
)
def test_fuzz_chunker_parity(text, budget, overlap):
    assert chunk_text(text, budget, overlap) == REF_CHUNK(text, budget, overlap)


# --- serial hash-replay fuzz: the no-Spark oracle vs the distributed ops ---

@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(
            alphabet=st.characters(
                codec="utf-8",
                categories=("Lu", "Ll", "Nd", "Zs", "Po"),
                include_characters=" \t\n  ",
            ),
            min_size=0,
            max_size=120,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_fuzz_serial_hash_replays_match_spark(spark, texts):
    """Unicode-whitespace-heavy fuzz: the pure-Python simhash/minhash
    replays must track the JVM operators byte-for-byte (Java \\s is
    ASCII-only; U+00A0/U+2003 must NOT be collapsed)."""
    from sage_spark.kernel.expected import expected_minhash_candidates, expected_simhash
    from sage_spark.operators.dedup import minhash_lsh_candidates, with_simhash

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")

    exp_sim = {r["doc_id"]: r["simhash"] for r in expected_simhash(rows)}
    got_sim = {r["doc_id"]: r["simhash"] for r in with_simhash(df, "text").select("doc_id", "simhash").collect()}
    assert exp_sim == got_sim

    from pyspark.sql import functions as F

    sdf = df.withColumn("doc_id", F.col("doc_id").cast("string"))
    exp_pairs = {(r["id_a"], r["id_b"]) for r in expected_minhash_candidates([(str(i), t) for i, t in rows], bands=8)}
    got_pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(sdf, "text", "doc_id", shingle_len=5, num_hashes=64, bands=8).collect()
    }
    assert exp_pairs == got_pairs
