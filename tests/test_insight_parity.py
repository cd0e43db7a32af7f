"""Differential tests: the insight preview + display decoration vs the
reference (saia.py:1654-1695 preview assembly, 1945-2084 decoration),
pinned by the reference's own goldens (tests/test_saia.py:819-926).

Every case that calls the reference runs only where its ``app/saia.py`` is
present; the blank-message case checks the kernel alone.
"""

from __future__ import annotations

import pytest

from sage_spark.kernel.insight import (
    collect_entity_ids,
    decorate_claim_for_insight,
    decorate_fact_for_insight,
    display_label_from_fields,
    load_entity_display_names,
    preview_message_claims,
    render_record_display_text,
)

from .ref_oracle import RefSession
from .test_kernel_parity import CATALOG, REF_SESSION, SENTENCES, needs_saia, saia

_VOLATILE = {"created_at", "claim_id", "canonical_key"}

_DECORATED_FIELDS = (
    "claim_type",
    "predicate",
    "normalized_text",
    "display_text",
    "subject_display",
    "object_display",
    "preview_only",
    "source_doc_id",
    "value_text",
    "temporal_start",
)


def _message(content: str, message_id: str = "m-preview") -> dict:
    return {
        "id": message_id,
        "content": content,
        "source": "chat_message",
        "sender_id": "u1",
        "receiver_id": "u2",
        "conversation_id": "direct:u1:u2",
        "conversation_type": "direct",
        "group_id": None,
        "sent_at": "2026-04-12T08:29:06.790Z",
        "is_ai_response": False,
    }


def _ref_preview(message: dict) -> list[dict]:
    claims = saia._preview_message_claims(REF_SESSION, message["id"], message)
    names = saia._load_entity_display_names(
        REF_SESSION, saia._collect_entity_ids(claims, [], [], [])
    )
    for claim in claims:
        saia._decorate_claim_for_insight(claim, names)
    return claims


def _our_preview(message: dict) -> list[dict]:
    claims = preview_message_claims(message, CATALOG)
    names = load_entity_display_names(CATALOG, collect_entity_ids(claims, [], [], []))
    for claim in claims:
        decorate_claim_for_insight(claim, names)
    return claims


@needs_saia
@pytest.mark.parametrize("sentence", SENTENCES)
def test_preview_decoration_parity(sentence):
    """Every sentence of the extraction battery, through the preview +
    decorate path: display_text, subject/object display labels, grounding
    reference display names, and preview flags must all match the
    reference byte-for-byte."""
    expected = _ref_preview(_message(sentence))
    actual = _our_preview(_message(sentence))
    assert len(actual) == len(expected)
    for got, ref in zip(actual, expected):
        for field in _DECORATED_FIELDS:
            assert got.get(field) == ref.get(field), field
        got_refs = got["grounding"].get("references") or []
        ref_refs = ref["grounding"].get("references") or []
        assert [r.get("display_name") for r in got_refs] == [
            r.get("display_name") for r in ref_refs
        ]
        assert got["grounding"].get("temporal_expressions") == ref["grounding"].get(
            "temporal_expressions"
        )


@needs_saia
def test_preview_golden_sharing_report():
    """The reference's pinned preview golden (tests/test_saia.py:819-876)
    with this dimension's display names (u1/u2 have no stored names, so
    labels fall back to ids — asserted against the reference live)."""
    message = _message("I'll be sharing the report to you by 8pm today.")
    ours = _our_preview(message)
    theirs = _ref_preview(message)
    assert len(ours) == len(theirs) == 1
    assert ours[0]["preview_only"] is True
    assert ours[0]["source_doc_id"] == "chat-msg-m-preview"
    assert ours[0]["facts"] == []
    assert ours[0]["display_text"] == theirs[0]["display_text"]
    assert ours[0]["grounding"]["temporal_expressions"] == ["8pm", "today"]
    refs = ours[0]["grounding"]["references"]
    assert refs[0]["raw"] == "I" and refs[1]["raw"] == "you"


@needs_saia
def test_preview_golden_with_named_senders():
    """The golden's exact display-name scenario: senders whose dimension
    rows carry names must render as those names in the display text
    ('Alice will share report to Bob on ...')."""
    persons = [
        {"id": "u1", "name": "Alice", "email": "", "is_user": True},
        {"id": "u2", "name": "Bob", "email": "", "is_user": True},
    ]
    from sage_spark.kernel.entities import EntityCatalog

    catalog = EntityCatalog(persons, [])
    session = RefSession(persons, [])
    message = _message("I'll be sharing the report to you by 8pm today.")

    theirs = saia._preview_message_claims(session, message["id"], message)
    names = saia._load_entity_display_names(
        session, saia._collect_entity_ids(theirs, [], [], [])
    )
    for claim in theirs:
        saia._decorate_claim_for_insight(claim, names)

    ours = preview_message_claims(message, catalog)
    our_names = load_entity_display_names(catalog, collect_entity_ids(ours, [], [], []))
    for claim in ours:
        decorate_claim_for_insight(claim, our_names)

    assert len(ours) == len(theirs) == 1
    expected_text = "Alice will share report to Bob on 2026-04-12T20:00:00+00:00"
    assert theirs[0]["normalized_text"] == expected_text  # the pinned golden
    assert ours[0]["normalized_text"] == expected_text
    assert ours[0]["display_text"] == theirs[0]["display_text"] == expected_text
    by_role = {r["role"]: r for r in ours[0]["grounding"]["references"]}
    assert by_role["subject"]["display_name"] == "Alice"
    assert by_role["object"]["display_name"] == "Bob"


def test_empty_and_blank_messages_produce_no_preview():
    assert preview_message_claims(_message(""), CATALOG) == []
    assert preview_message_claims(_message("   "), CATALOG) == []


@needs_saia
def test_fact_decoration_parity():
    """decorate_fact_for_insight / render_record_display_text across every
    claim-type template, vs the reference on identical records."""
    facts = [
        {
            "claim_type": "REPORTS_TO",
            "subject_entity_id": "EMP002",
            "object_entity_id": "EMP001",
            "payload_json": "{}",
        },
        {
            "claim_type": "STATUS_UPDATE",
            "subject_key": "server",
            "value_text": "down",
            "payload_json": "{}",
        },
        {
            "claim_type": "APPROVAL_STATE",
            "subject_key": "travel-request",
            "object_entity_id": "EMP003",
            "payload_json": "{}",
        },
        {
            "claim_type": "ASSIGNMENT_STATE",
            "subject_entity_id": "EMP002",
            "value_text": "inactive",
            "payload_json": '{"assignment_target": "project-a"}',
        },
        {
            "claim_type": "MEETING_EVENT",
            "value_text": "quarterly review",
            "temporal_start": "2026-05-04T00:00:00+00:00",
            "payload_json": "{}",
        },
        {
            "claim_type": "TASK_ASSIGNMENT",
            "subject_entity_id": "EMP004",
            "object_entity_id": "EMP002",
            "value_text": "send report",
            "temporal_start": "2026-04-02T00:00:00+00:00",
            "payload_json": '{"verb": "send", "recipient_relation": "to"}',
        },
        {
            "claim_type": "REQUEST",
            "subject_entity_id": "u1",
            "object_entity_id": "u2",
            "value_text": "review the budget sheet",
            "payload_json": "{}",
        },
        {"claim_type": "SOMETHING_ELSE", "summary": "fallback summary", "payload_json": "{}"},
    ]
    ids = collect_entity_ids(facts)
    assert ids == sorted(saia._collect_entity_ids(facts))
    names = load_entity_display_names(CATALOG, ids)
    ref_names = saia._load_entity_display_names(REF_SESSION, ids)
    assert names == ref_names
    for fact in facts:
        mine = dict(fact)
        theirs = dict(fact)
        decorate_fact_for_insight(mine, names)
        saia._decorate_fact_for_insight(theirs, ref_names)
        assert mine["display_summary"] == theirs["display_summary"], fact["claim_type"]
        assert mine["subject_display"] == theirs["subject_display"]
        assert mine["object_display"] == theirs["object_display"]
        assert mine["display_summary"] == render_record_display_text(fact, names)


# --- fuzz: the display renderer over arbitrary record shapes ---------------

from hypothesis import given, settings, strategies as st  # noqa: E402

_opt_text = st.one_of(st.none(), st.text(max_size=24))
_claim_types = st.sampled_from(
    ["TASK_ASSIGNMENT", "REPORTS_TO", "APPROVAL_STATE", "STATUS_UPDATE",
     "ASSIGNMENT_STATE", "MEETING_EVENT", "REQUEST", "OTHER", None]
)
_payloads = st.one_of(
    st.none(),
    st.just("{}"),
    st.just("not json"),
    st.fixed_dictionaries(
        {},
        optional={
            "verb": st.sampled_from(["send", "review", "do", "zz", ""]),
            "recipient_relation": st.sampled_from(["to", "with", ""]),
            "assignment_target": st.sampled_from(["project-a", "x_y", "", "12"]),
        },
    ).map(lambda d: __import__("json").dumps(d)),
)
_record = st.fixed_dictionaries(
    {"claim_type": _claim_types, "payload_json": _payloads},
    optional={
        "subject_entity_id": _opt_text,
        "subject_key": _opt_text,
        "subject_raw": _opt_text,
        "object_entity_id": _opt_text,
        "object_key": _opt_text,
        "object_raw": _opt_text,
        "value_text": _opt_text,
        "temporal_start": _opt_text,
        "normalized_text": _opt_text,
        "summary": _opt_text,
    },
)
_names = st.dictionaries(st.text(min_size=1, max_size=8), st.text(min_size=1, max_size=12), max_size=4)


@needs_saia
@settings(max_examples=400, deadline=None)
@given(_record, _names)
def test_fuzz_display_render_parity(record, names):
    """render_record_display_text + both label fallbacks must equal the
    reference byte-for-byte on arbitrary record shapes (missing fields,
    junk payload JSON, empty strings, unknown claim types)."""
    mine, theirs = dict(record), dict(record)
    assert render_record_display_text(mine, names) == saia._render_record_display_text(
        theirs, names
    )
    for role in ("subject", "object"):
        got = display_label_from_fields(
            entity_id=record.get(f"{role}_entity_id"),
            key=record.get(f"{role}_key"),
            raw=record.get(f"{role}_raw"),
            display_names=names,
        )
        exp = saia._display_label_from_fields(
            entity_id=record.get(f"{role}_entity_id"),
            key=record.get(f"{role}_key"),
            raw=record.get(f"{role}_raw"),
            display_names=names,
        )
        assert got == exp
