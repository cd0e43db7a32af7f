"""Tests for graph-navigation operators + P8/F6 kernel parity."""

from __future__ import annotations

from pyspark.sql import functions as F

from sage_spark.kernel.retrieval import (
    convert_iso_timestamps_to_ist,
    format_timestamp_ist,
    is_displayable_trace_entity,
)
from sage_spark.operators.graph import (
    expand_one_hop,
    facts_with_evidence,
    ist_display,
)

from .test_retrieval_parity import needs_services, services


@needs_services
def test_displayable_entity_parity():
    cases = [
        "Alice Johnson", "EMP001", "currentuser", "unknown", "sage", "chat-msg-42",
        "d1-chunk-3", "assignment::direct:a:b::send-report", "direct:a:b",
        "message-attachment-9", "12345", "a" * 40, "0" * 64, "", "  ", "réunion",
        "Chat Message 7", "group:g1", "groupX", "Node",
    ]
    for case in cases:
        assert is_displayable_trace_entity(case) == services._is_displayable_trace_entity(case), case


@needs_services
def test_ist_formatting_parity():
    samples = [
        "2026-04-01T10:00:00+00:00",
        "2026-04-01T10:00:00Z",
        "2026-12-31T23:45:10.123+05:30",
        "not a timestamp",
    ]
    for s in samples:
        assert format_timestamp_ist(s) == services._format_timestamp_as_ist(s), s
    text = "due 2026-04-01T10:00:00Z and later 2026-04-02T12:30:00+00:00 maybe"
    assert convert_iso_timestamps_to_ist(text) == services._convert_iso_timestamps_to_ist_text(text)


def test_ist_display_column_matches_kernel(spark):
    df = spark.createDataFrame(
        [("2026-04-01T10:00:00+00:00",), ("2026-12-31T23:45:10+00:00",)], "ts string"
    )
    rows = df.select("ts", ist_display(F.col("ts")).alias("ist")).collect()
    for r in rows:
        assert r["ist"] == format_timestamp_ist(r["ts"])


def test_expand_one_hop(spark):
    edges = spark.createDataFrame(
        [("a", "b", "SENT"), ("c", "a", "RECEIVED_BY"), ("b", "c", "SENT")],
        "src string, dst string, type string",
    )
    seeds = spark.createDataFrame([("a",)], "id string")
    out = {(r["neighbor"], r["direction"]) for r in expand_one_hop(seeds, edges).collect()}
    assert out == {("b", "out"), ("c", "in")}


def test_facts_with_evidence_picks_first_doc(spark):
    facts = spark.createDataFrame([("f1", "k1")], "fact_id string, canonical_key string")
    edges = spark.createDataFrame(
        [("c1", "f1", "SUPPORTS"), ("c2", "f1", "SUPPORTS"), ("c3", "f1", "CONTRADICTS")],
        "claim_id string, fact_id string, relation_type string",
    )
    claims = spark.createDataFrame(
        [("c1", "d2"), ("c2", "d1"), ("c3", "d0")], "claim_id string, doc_id string"
    )
    docs = spark.createDataFrame(
        [("d1", "u1", "t1"), ("d2", "u2", "t2")], "doc_id string, url string, timestamp string"
    )
    out = facts_with_evidence(facts, edges, claims, docs).collect()
    assert len(out) == 1 and out[0]["evidence_doc_id"] == "d1"  # min doc_id among SUPPORTS


def test_chat_conversation_id_derivation_matches_log(spark):
    """The stable-conversation-id rule (chat_store.py:42-52) re-derived from
    endpoints must reproduce the logged conversation_id for every message in
    the synthetic corpus."""
    from sage_spark.datagen import synth_webtext
    from sage_spark.operators.chat import messages_from_webtext

    webtext, _ = synth_webtext(spark, 200, n_persons=20, seed=7)
    msgs = messages_from_webtext(webtext)
    mismatches = msgs.filter(F.col("conversation_id") != F.col("derived_conversation_id")).count()
    assert mismatches == 0


def test_chat_participations_and_access(spark):
    """Direct conversations admit exactly their two endpoints; group
    conversations admit every observed member; the two-hop access check
    returns a user's messages and nothing else (backend.py:564-574)."""
    from sage_spark.operators.chat import (
        memberships,
        message_access,
        messages_from_webtext,
        participations,
    )
    from sage_spark.schema import WEBTEXT_SCHEMA
    from datetime import datetime

    def page(i, sender, receivers, ctype, gid):
        cid = f"group:{gid}" if ctype == "group" else "direct:" + ":".join(sorted([sender, receivers[0]]))
        return (
            f"https://chat.example/{i}", datetime(2026, 4, 1 + i), None, f"hello {i}", "en",
            sender, receivers, cid, ctype, gid, f"m{i}", "chat_message",
        )

    webtext = spark.createDataFrame(
        [
            page(0, "u1", ["u2"], "direct", None),
            page(1, "u2", ["u1"], "direct", None),
            page(2, "u3", ["u4", "u5"], "group", "g1"),
            page(3, "u4", ["u3"], "direct", None),
            (
                "https://chat.example/4", datetime(2026, 4, 9), None, "ask sage", "en",
                "u1", ["sage"], "sage:u1", "sage", None, "m4", "chat_message",
            ),
        ],
        WEBTEXT_SCHEMA,
    )
    msgs = messages_from_webtext(webtext)
    parts = participations(msgs)
    got = {(r["person_id"], r["conversation_id"]) for r in parts.collect()}
    assert got == {
        ("u1", "direct:u1:u2"), ("u2", "direct:u1:u2"),
        ("u3", "group:g1"), ("u4", "group:g1"), ("u5", "group:g1"),
        ("u3", "direct:u3:u4"), ("u4", "direct:u3:u4"),
        ("u1", "sage:u1"), ("sage", "sage:u1"),
    }
    mem = {(r["person_id"], r["group_id"]) for r in memberships(msgs).collect()}
    assert mem == {("u3", "g1"), ("u4", "g1"), ("u5", "g1")}

    acc_u5 = {r["message_id"] for r in message_access(msgs, parts, "u5").collect()}
    assert acc_u5 == {"m2"}  # group member sees the group message, nothing else
    acc_u1 = {r["message_id"] for r in message_access(msgs, parts, "u1").collect()}
    assert acc_u1 == {"m0", "m1", "m4"}  # incl. the user's own sage thread


def test_pagerank_properties_and_replay_agreement(spark):
    """Ranks sum to 1, the sink everyone points to ranks highest, and the
    distributed recurrence equals the serial replay to float precision."""
    from sage_spark.kernel.expected import expected_pagerank
    from sage_spark.operators.pagerank import pagerank

    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"), ("a", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r["v"]: r["rank"] for r in pagerank(df, iterations=25).collect()}
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert max(got, key=got.get) == "hub"
    exp = {r["v"]: r["rank"] for r in expected_pagerank(edges, iterations=25)}
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-9, v


def test_pagerank_early_exit_converges_to_fixed_point(spark, monkeypatch):
    """tol-based early exit must land on the same fixed point as a long
    exact run (contraction bound |r_k - r_inf|_1 <= delta*d/(1-d)), and
    sparser checkpoint cadence must not change values at all."""
    import sage_spark.operators.pagerank as pr_mod
    from sage_spark.operators.pagerank import pagerank

    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"), ("a", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    exact = {r["v"]: r["rank"] for r in pagerank(df, iterations=60).collect()}
    early = {r["v"]: r["rank"] for r in pagerank(df, iterations=60, tol=1e-10).collect()}
    assert abs(sum(early.values()) - 1.0) < 1e-9
    for v in exact:
        assert abs(early[v] - exact[v]) < 1e-6, v
    # cadence-only change (tol=None) is bit-stable vs per-iteration checkpoints
    monkeypatch.setattr(pr_mod, "_CHECKPOINT_EVERY", 1)
    a = {r["v"]: r["rank"] for r in pagerank(df, iterations=7).collect()}
    monkeypatch.setattr(pr_mod, "_CHECKPOINT_EVERY", 4)
    b = {r["v"]: r["rank"] for r in pagerank(df, iterations=7).collect()}
    assert a == b


def test_pagerank_is_personalized_pagerank_seeded_everywhere(spark):
    """PageRank is the special case of personalized PageRank whose teleport
    vector is uniform over every vertex: the two operators share one
    recurrence, so seeding PPR with the whole vertex set must reproduce
    PageRank, on a graph with dangling vertices and one without."""
    from sage_spark.operators.pagerank import pagerank, personalized_pagerank

    graphs = [
        [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"), ("a", "b"), ("b", "c"), ("c", "sink")],
        [("a", "b"), ("b", "c"), ("c", "a"), ("c", "b")],
    ]
    for edges in graphs:
        df = spark.createDataFrame(edges, "src string, dst string")
        verts = sorted({v for edge in edges for v in edge})
        pr = {r["v"]: r["rank"] for r in pagerank(df, iterations=15).collect()}
        ppr = {r["v"]: r["rank"] for r in personalized_pagerank(df, verts, iterations=15).collect()}
        assert set(pr) == set(ppr) == set(verts)
        for v in verts:
            assert abs(pr[v] - ppr[v]) < 1e-12, v


def test_facts_as_of_boundary_semantics(spark):
    """Processing-time travel boundaries: a fact is visible from its
    first_seen_at INCLUSIVE until its superseded_at EXCLUSIVE (at the
    supersede instant the replacement is already current)."""
    from sage_spark.operators.canonicalize import facts_as_of

    t0, t1, t2, t3 = (
        "2026-05-01T00:00:00+00:00",
        "2026-05-02T00:00:00+00:00",
        "2026-05-03T00:00:00+00:00",
        "2026-05-04T00:00:00+00:00",
    )
    facts = spark.createDataFrame(
        [("A", t1, t2), ("B", t1, None), ("C", t2, None)],
        "fact_id string, first_seen_at string, superseded_at string",
    )
    snap = lambda ts: {r["fact_id"] for r in facts_as_of(facts, ts).collect()}  # noqa: E731
    assert snap(t0) == set()
    assert snap(t1) == {"A", "B"}
    assert snap("2026-05-02T12:00:00+00:00") == {"A", "B"}
    assert snap(t2) == {"B", "C"}
    assert snap(t3) == {"B", "C"}


def test_personalized_pagerank_replay_and_properties(spark):
    """PPR: mass conserves at 1, ranks concentrate near the seed, a
    disconnected seed still holds teleport mass, and the distributed
    recurrence equals the serial replay to float precision."""
    import random

    from sage_spark.kernel.expected import expected_personalized_pagerank
    from sage_spark.operators.pagerank import personalized_pagerank

    edges = [("a", "hub"), ("b", "hub"), ("c", "hub"), ("hub", "a"), ("a", "b"), ("b", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {
        r["v"]: r["rank"]
        for r in personalized_pagerank(df, ["a"], iterations=25).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-9
    assert got["a"] == max(got.values())  # teleport target dominates
    exp = {
        r["v"]: r["rank"]
        for r in expected_personalized_pagerank(edges, ["a"], iterations=25)
    }
    for v in exp:
        assert abs(got[v] - exp[v]) < 1e-9, v

    # a seed with no edges keeps all its teleport mass and ranks anyway
    lone = {
        r["v"]: r["rank"]
        for r in personalized_pagerank(df, ["ghost"], iterations=10).collect()
    }
    assert abs(lone["ghost"] - 1.0) < 1e-9
    assert abs(sum(lone.values()) - 1.0) < 1e-9

    # random-graph parity, two seeds
    rng = random.Random(11)
    redges = sorted(
        {
            (f"v{rng.randrange(25)}", f"v{rng.randrange(25)}")
            for _ in range(70)
        }
    )
    redges = [(a, b) for a, b in redges if a != b]
    rdf = spark.createDataFrame(redges, "src string, dst string")
    seeds = ["v0", "v1"]
    g = {
        r["v"]: r["rank"]
        for r in personalized_pagerank(rdf, seeds, iterations=20).collect()
    }
    e = {
        r["v"]: r["rank"]
        for r in expected_personalized_pagerank(redges, seeds, iterations=20)
    }
    assert set(g) == set(e)
    for v in e:
        assert abs(g[v] - e[v]) < 1e-9, v
