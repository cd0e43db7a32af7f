"""Differential tests: sage_spark.kernel.retrieval vs the reference's
read-side functions (services.py) on identical inputs.

Every case calls the reference, so the module runs only where the reference
checkout's ``app/services.py`` (and the ``app/saia.py`` its loader installs)
is present."""

from __future__ import annotations

import sys
import types
from datetime import datetime, timezone

import pytest

from .ref_oracle import has_reference, load_reference_saia, needs_reference

_SERVICES_FILES = ("app/saia.py", "app/services.py")
needs_services = needs_reference(*_SERVICES_FILES)
pytestmark = needs_services


def _load_reference_services():
    if "app.services" in sys.modules:
        return sys.modules["app.services"]
    # services.py imports langchain + the app.utils runtime; stub them
    for name in ("langchain_core", "langchain_core.output_parsers", "langchain_core.prompts", "langchain_groq"):
        mod = types.ModuleType(name)
        sys.modules.setdefault(name, mod)
    class _AnyStub:
        def __init__(self, *a, **k):
            pass

        def __or__(self, other):
            return self

        @classmethod
        def from_template(cls, *a, **k):
            return cls()

    sys.modules["langchain_core.output_parsers"].JsonOutputParser = _AnyStub
    sys.modules["langchain_core.output_parsers"].StrOutputParser = _AnyStub
    sys.modules["langchain_core.prompts"].ChatPromptTemplate = _AnyStub
    sys.modules["langchain_groq"].ChatGroq = _AnyStub
    load_reference_saia()  # installs the app package + fake app.utils
    fake_utils = sys.modules["app.utils"]
    fake_utils.GROQ_API_KEY = None
    fake_utils.GROQ_MODEL = "none"
    fake_utils.EMBEDDING_MODEL = "none"
    import app.services as services  # noqa: PLC0415

    return services


services = _load_reference_services() if has_reference(*_SERVICES_FILES) else None

from sage_spark.kernel import retrieval as R  # noqa: E402

QUERIES = [
    "What did I promise to send Bob?",
    "Who reports to Alice Johnson?",
    "Why is Project Phoenix delayed?",
    "Tell me everything about the budget approvals",
    "When is the meeting tomorrow?",
    "brief: status of the server",
    "Walk me through the deployment pipeline history",
    "What is due this week and who owns it?",
    "who all approved what and when?",
    "alice@example.com sent me something",
    "schedule for the weekend",
    "Is the API gateway down?",
    "compare the old and new roadmap",
    "random words with no intent",
    "What am I working on?",
]


@pytest.mark.parametrize("query", QUERIES)
def test_classify_query_parity(query):
    assert R.classify_query(query) == services._classify_query(query)


@pytest.mark.parametrize("query", QUERIES)
def test_focus_terms_parity(query):
    assert R.focus_terms(query) == services._extract_query_focus_terms(query)


@pytest.mark.parametrize("query", QUERIES)
def test_answer_mode_parity(query):
    for trace in (
        None,
        {"query_type": services._classify_query(query), "result_count": 4, "max_hop_count": 2},
        {"query_type": services._classify_query(query), "result_count": 1, "max_hop_count": 0},
    ):
        assert R.select_answer_mode(query, trace) == services._select_answer_mode(query, trace)


NOW = datetime(2026, 5, 1, tzinfo=timezone.utc)


def _rows():
    return [
        {
            "chunk_id": "d1-chunk-0",
            "chunk_summary": "Bob reports to Alice in the new org",
            "similarity": 0.82,
            "d": {"doc_id": "d1", "subject": "Org update", "sender": "EMP001", "timestamp": "2026-04-28T10:00:00+00:00"},
        },
        {
            "fact_id": "f1",
            "fact_summary": "EMP002 will send report to EMP001",
            "similarity": 0.64,
            "f": {
                "status": "current",
                "claim_type": "TASK_ASSIGNMENT",
                "subject_entity_id": "EMP002",
                "object_entity_id": "EMP001",
                "canonical_key": "assignment::direct:EMP001:EMP002::send-report",
                "last_seen_at": "2026-04-30T09:00:00+00:00",
            },
        },
        {
            "fact_id": "f2",
            "fact_summary": "server is down",
            "similarity": 0.91,
            "f": {"status": "superseded", "claim_type": "STATUS_UPDATE", "subject_key": "server",
                   "first_seen_at": "2026-03-01T00:00:00+00:00"},
        },
    ]


def test_rank_and_merge_parity(monkeypatch):
    monkeypatch.setattr(services, "_utcnow", lambda: NOW)
    terms = ["bob", "report"]
    ours_chunks = [R.rank_chunk_row(_rows()[0], now=NOW, terms=terms, reports_to_lookup=True)]
    ref_chunks = [services._prepare_chunk_result(_rows()[0], focus_terms=terms, reports_to_lookup=True)]
    assert ours_chunks[0]["rank_score"] == pytest.approx(ref_chunks[0]["rank_score"])
    assert ours_chunks[0]["focus_match_score"] == ref_chunks[0]["focus_match_score"]

    kwargs = dict(query_type="task_commitment_lookup", user_id="EMP002", personalized_lookup=True, exact_match=True)
    for row in _rows()[1:]:
        ours = R.rank_fact_row(row, now=NOW, terms=terms, **kwargs)
        ref = services._prepare_fact_result(row, focus_terms=terms, **kwargs)
        assert ours["rank_score"] == pytest.approx(ref["rank_score"])

    ours_facts = [R.rank_fact_row(r, now=NOW, terms=terms, **kwargs) for r in _rows()[1:]]
    ref_facts = [services._prepare_fact_result(r, focus_terms=terms, **kwargs) for r in _rows()[1:]]

    ours_merged = R.merge_ranked(ours_chunks, ours_facts, limit=5)
    ref_merged = services._merge_ranked_results(ref_chunks, ref_facts, limit=5)
    assert [r.get("fact_id") or r.get("chunk_id") for r in ours_merged] == [
        r.get("fact_id") or r.get("chunk_id") for r in ref_merged
    ]

    ours_combined = R.combine_ranked(ours_chunks, ours_facts, query_type="task_commitment_lookup", terms=terms)
    ref_combined = services._combine_ranked_results(
        ref_chunks, ref_facts, query_type="task_commitment_lookup", focus_terms=terms
    )
    assert [r.get("fact_id") or r.get("chunk_id") for r in ours_combined] == [
        r.get("fact_id") or r.get("chunk_id") for r in ref_combined
    ]
