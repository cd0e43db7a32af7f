"""Null-field defaults of stage 3's row function, called directly (no Spark).

``kernel/claims.document_claims`` is what extract_claims_stage maps over
every documents row; these are the rows whose nullable columns
(DOCUMENTS_SCHEMA) are null or whose content is gated out.
"""

from __future__ import annotations

import pytest

from sage_spark.datagen import build_groups, build_persons
from sage_spark.kernel.claims import document_claims
from sage_spark.kernel.entities import EntityCatalog

RUN_TS = "2026-05-01T00:00:00+00:00"
CATALOG = EntityCatalog(build_persons(10, 7), build_groups())


def _doc(**overrides) -> dict:
    row = {
        "doc_id": "d1",
        "content": "EMP002 reports to EMP001. The build server is down.",
        "sender": "EMP001",
        "receivers": ["EMP002"],
        "conversation_id": "direct:EMP001:EMP002",
        "conversation_type": "direct",
        "group_id": None,
        "message_id": "m1",
        "source": "chat_message",
        "timestamp": "2026-04-01T10:00:00+00:00",
    }
    row.update(overrides)
    return row


def _claims(**overrides) -> list[dict]:
    return document_claims(_doc(**overrides), CATALOG, RUN_TS)


def test_null_timestamp_defaults_to_epoch():
    claims = _claims(timestamp=None)
    assert claims
    assert all(c["sent_at"] == "1970-01-01T00:00:00+00:00" for c in claims)


def test_null_source_is_an_eligible_chat_message():
    claims = _claims(source=None)
    assert claims
    assert [c["claim_id"] for c in claims] == [c["claim_id"] for c in _claims(source="chat_message")]


def test_null_sender_and_receivers_do_not_raise():
    assert isinstance(_claims(sender=None, receivers=None), list)


@pytest.mark.parametrize("overrides", [{"sender": "sage"}, {"content": " \n\t "}])
def test_gated_rows_yield_no_claims(overrides):
    assert _claims(**overrides) == []
