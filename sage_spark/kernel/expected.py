"""Pure-Python (no Spark) replay of the synthetic KG pipeline.

The driver's DuckDB oracle needs ANSI-SQL-checkable expected rows for the KG
queries, but the extraction cascade is not SQL-expressible. So the expected
output of the whole pipeline over the deterministic synthetic corpus is
produced single-threaded with zero Spark machinery: generate pages ->
extract text -> extract claims -> chunk -> replay fact mutations. The
results are written to parquet once and the oracle SQL is a plain SELECT
over them.

Stages 1-3 call the same per-document row functions the Spark operators map
over Arrow batches (``pagetext.document_row``, ``chunks.document_chunks``,
``claims.document_claims``), so this replay checks the distributed plan
(mapInPandas batching and partitioning, the min-url first-per-doc and
per-claim_id dedupes, the repartition+sort fact replay) against a serial
run of the same row functions. The row functions themselves are guarded by
the committed golden of this replay (tests/test_oracle_golden.py) and by
differential parity against the reference (tests/test_kernel_parity.py,
test_fuzz_parity.py).

Reference anchors: extraction cascade app/saia.py:243-634, mutation loop
app/saia.py:1015-1230, chunking app/utils.py:109-140.
"""

from __future__ import annotations

from typing import Any

from ..datagen import build_groups, build_persons, make_page
from .chunks import chunk_id_for, document_chunks
from .claims import document_claims
from .entities import EntityCatalog
from .facts import replay_key_mutations
from .pagetext import document_row
from .text import fallback_summary

# The columns each KG contract query selects (__spark_entry__.py q_kg_claims,
# q_kg_chunks, q_kg_facts_current) and the oracle compares them on.
CLAIM_COLS = [
    "doc_id", "claim_id", "claim_type", "predicate", "subject_key", "object_key",
    "value_text", "temporal_start", "canonical_key", "normalized_text",
]
CHUNK_COLS = ["chunk_id", "doc_id", "seq", "summary"]
FACT_COLS = [
    "fact_id", "canonical_key", "claim_type", "predicate", "subject_key",
    "object_key", "value_text", "status", "support_count",
]


def expected_documents(
    n_docs: int, n_persons: int, seed: int, *, n_groups: int = 8, lang_filter: str | None = "en"
) -> list[dict[str, Any]]:
    """Stage-1 replay: ``document_row`` per page + first-per-doc dedupe (min
    url), mirroring extract_documents + _first_per_doc."""
    persons = build_persons(n_persons, seed)
    by_doc: dict[str, dict[str, Any]] = {}
    for i in range(n_docs):
        page = make_page(i, seed, persons, n_groups)
        if lang_filter and page["lang"] != lang_filter:
            continue
        row = document_row(page)
        prev = by_doc.get(row["doc_id"])
        if prev is None or row["url"] < prev["url"]:
            by_doc[row["doc_id"]] = row
    return sorted(by_doc.values(), key=lambda r: r["doc_id"])


def expected_claims(
    documents: list[dict[str, Any]], n_persons: int, seed: int, *, run_ts: str
) -> list[dict[str, Any]]:
    """Stage-3 replay: ``document_claims`` per document, one row per claim,
    against a catalog built from the generator's persons and groups."""
    catalog = EntityCatalog(build_persons(n_persons, seed), build_groups())
    return [c for doc in documents for c in document_claims(doc, catalog, run_ts)]


def expected_chunks(documents: list[dict[str, Any]]) -> list[dict[str, Any]]:
    """Stage-2 replay: ``document_chunks`` per document, as build_chunks
    (embed=False) emits them."""
    out: list[dict[str, Any]] = []
    for doc in documents:
        for seq, piece in enumerate(document_chunks(doc["content"] or "")):
            out.append(
                {
                    "chunk_id": chunk_id_for(doc["doc_id"], seq),
                    "doc_id": doc["doc_id"],
                    "seq": seq,
                    "summary": fallback_summary(piece),
                }
            )
    return out


def expected_facts_and_edges(
    claims: list[dict[str, Any]], *, seen_at: str
) -> tuple[list[dict[str, Any]], list[dict[str, Any]]]:
    """Stage-4 replay: group by canonical_key, order by the pipeline's
    deterministic arrival order (sent_at, doc_id, claim_seq), and run the
    same mutation state machine serially."""
    groups: dict[str, list[dict[str, Any]]] = {}
    for claim in claims:
        groups.setdefault(claim["canonical_key"], []).append(claim)
    facts: list[dict[str, Any]] = []
    edges: list[dict[str, Any]] = []
    for key in sorted(groups):
        ordered = sorted(
            groups[key], key=lambda c: (c.get("sent_at") or "", c.get("doc_id") or "", c.get("claim_seq") or 0)
        )
        outcome = replay_key_mutations([], ordered, seen_at)
        facts.extend(outcome.facts)
        edges.extend(outcome.edges)
    return facts, edges


def expected_insight(
    documents: list[dict[str, Any]],
    claims: list[dict[str, Any]],
    facts: list[dict[str, Any]],
    edges: list[dict[str, Any]],
    display_names: dict[str, str],
) -> list[dict[str, Any]]:
    """Serial replay of the message-insight assembly (saia.py:1296-1410 +
    display decoration 1998-2084): nested loops over the evidence-link
    rules, claim/fact/replacement chains, and the kernel display renderer —
    an independent algorithm from operators/insight.py's join pipeline."""
    from .insight import display_label_from_fields, render_record_display_text

    claims_by_doc: dict[str, list[dict[str, Any]]] = {}
    for claim in claims:
        claims_by_doc.setdefault(claim["doc_id"], []).append(claim)
    edges_by_claim: dict[str, list[dict[str, Any]]] = {}
    for edge in edges:
        edges_by_claim.setdefault(edge["claim_id"], []).append(edge)
    fact_by_id = {f["fact_id"]: f for f in facts}
    prev_by_replacement: dict[str, list[dict[str, Any]]] = {}
    for f in facts:
        if f.get("superseded_by_fact_id"):
            prev_by_replacement.setdefault(f["superseded_by_fact_id"], []).append(f)

    out: list[dict[str, Any]] = []
    for doc in documents:
        mids: list[str] = []
        did = doc["doc_id"]
        if did.startswith("chat-msg-"):
            mids.append(did[len("chat-msg-"):])
        for link in ("origin_message_id", "linked_message_id"):
            mid = doc.get(link)
            if mid and mid not in mids:
                mids.append(mid)
        for mid in mids:
            for claim in claims_by_doc.get(did, []):
                subject_display = display_label_from_fields(
                    entity_id=claim.get("subject_entity_id"),
                    key=claim.get("subject_key"),
                    raw=claim.get("subject_raw"),
                    display_names=display_names,
                )
                object_display = display_label_from_fields(
                    entity_id=claim.get("object_entity_id"),
                    key=claim.get("object_key"),
                    raw=claim.get("object_raw"),
                    display_names=display_names,
                )
                display_text = render_record_display_text(claim, display_names)
                base = {
                    "message_id": mid,
                    "source_doc_id": did,
                    "claim_id": claim["claim_id"],
                    "claim_type": claim["claim_type"],
                    "subject_display": subject_display,
                    "object_display": object_display,
                    "display_text": display_text,
                }
                claim_edges = edges_by_claim.get(claim["claim_id"], [])
                if not claim_edges:
                    out.append(
                        {
                            **base,
                            "relation_type": None,
                            "fact_id": None,
                            "canonical_key": None,
                            "fact_status": None,
                            "support_count": None,
                            "previous_fact_id": None,
                        }
                    )
                    continue
                for edge in claim_edges:
                    fact = fact_by_id.get(edge["fact_id"], {})
                    prevs: list[dict[str, Any] | None] = [None]
                    if edge["relation_type"] == "SUPPORTS":
                        linked = prev_by_replacement.get(edge["fact_id"])
                        if linked:
                            prevs = list(linked)
                    for prev in prevs:
                        out.append(
                            {
                                **base,
                                "relation_type": edge["relation_type"],
                                "fact_id": edge["fact_id"],
                                "canonical_key": fact.get("canonical_key"),
                                "fact_status": fact.get("status"),
                                "support_count": fact.get("support_count"),
                                "previous_fact_id": prev.get("fact_id") if prev else None,
                            }
                        )
    return out


def expected_chat(
    n_docs: int, n_persons: int, seed: int, *, n_groups: int = 8
) -> tuple[list[dict[str, Any]], list[dict[str, Any]], list[dict[str, Any]]]:
    """Serial replay of the chat graph derivations (operators/chat.py):
    returns (messages, conversations, participations). Conversation ids are
    re-derived from the endpoints per chat_store.py:42-52."""
    persons = build_persons(n_persons, seed)
    messages: list[dict[str, Any]] = []
    for i in range(n_docs):
        page = make_page(i, seed, persons, n_groups)
        sender = page["sender_id"]
        receivers = list(page["receiver_ids"])
        ctype = page["conversation_type"]
        if ctype == "direct":
            a, b = sorted([sender, receivers[0]])
            derived = f"direct:{a}:{b}"
        elif ctype == "group":
            derived = f"group:{page['group_id']}"
        else:
            derived = f"sage:{sender}"
        messages.append(
            {
                "message_id": page["message_id"],
                "conversation_id": page["conversation_id"] or derived,
                "derived_conversation_id": derived,
                "conversation_type": ctype,
                "sender_id": sender,
                "receiver_id": receivers[0] if receivers else None,
                "group_id": page["group_id"],
                "receivers": receivers,
                "sent_at": str(page["warc_ts"]),
            }
        )
    convs: dict[str, dict[str, Any]] = {}
    for m in sorted(messages, key=lambda m: (m["sent_at"], m["message_id"])):
        c = convs.setdefault(
            m["conversation_id"],
            {
                "conversation_id": m["conversation_id"],
                "conversation_type": m["conversation_type"],
                "group_id": m["group_id"],
                "n_messages": 0,
                "updated_at": m["sent_at"],
            },
        )
        c["n_messages"] += 1
        c["updated_at"] = max(c["updated_at"], m["sent_at"])
    members: set[tuple[str, str]] = set()
    for m in messages:
        if m["conversation_type"] == "group":
            members.add((m["sender_id"], m["group_id"]))
            for r in m["receivers"]:
                members.add((r, m["group_id"]))
    parts: set[tuple[str, str]] = set()
    for m in messages:
        if m["conversation_type"] == "direct":
            parts.add((m["sender_id"], m["conversation_id"]))
            parts.add((m["receiver_id"], m["conversation_id"]))
    group_convs = {
        (m["group_id"], m["conversation_id"]) for m in messages if m["conversation_type"] == "group"
    }
    for person, gid in members:
        for g2, conv in group_convs:
            if g2 == gid:
                parts.add((person, conv))
    participation_rows = [{"person_id": p, "conversation_id": c} for p, c in sorted(parts)]
    return messages, sorted(convs.values(), key=lambda c: c["conversation_id"]), participation_rows


def read_subset_marker(message_id: str) -> bool:
    """Deterministic, engine-portable rule for which messages get recipient
    HAS_READ edges in the graded scenario: first sha256 hex digit < '8'
    (reproducible in Spark as substring(sha2(id,256),1,1) and in any serial
    replay — no xxhash dependence, per the oracle-typing protocol)."""
    import hashlib

    return hashlib.sha256(message_id.encode()).hexdigest()[0] in "01234567"


def expected_unread_counts(
    messages: list[dict[str, Any]],
    participation_rows: list[dict[str, Any]],
    user_id: str,
) -> list[dict[str, Any]]:
    """Serial replay of read_edges(mark_recipient_read for marker messages)
    + unread_counts (operators/chat.py; reference chat_store.py:589-609,
    1039-1046): nested loops, independent of the join pipeline."""
    parts_by_conv: dict[str, set[str]] = {}
    for p in participation_rows:
        parts_by_conv.setdefault(p["conversation_id"], set()).add(p["person_id"])
    reads: set[tuple[str, str]] = set()
    for m in messages:
        reads.add((m["sender_id"], m["message_id"]))
        if read_subset_marker(m["message_id"]):
            for person in parts_by_conv.get(m["conversation_id"], set()):
                if person != m["sender_id"]:
                    reads.add((person, m["message_id"]))
    user_convs = sorted(
        {p["conversation_id"] for p in participation_rows if p["person_id"] == user_id}
    )
    counts = {c: 0 for c in user_convs}
    for m in messages:
        if (
            m["conversation_id"] in counts
            and m["sender_id"] != user_id
            and (user_id, m["message_id"]) not in reads
        ):
            counts[m["conversation_id"]] += 1
    return [{"conversation_id": c, "unread_count": counts[c]} for c in user_convs]


def expected_simhash(docs: list[tuple[Any, str]]) -> list[dict[str, Any]]:
    """Serial replay of operators/dedup.with_simhash: distinct word tokens ->
    Spark-compatible xxhash64 -> per-bit majority vote -> signed 64-bit
    SimHash. A bit-exact differential check of the JVM's shift/bit plan."""
    import re

    from .xxhash import spark_xxhash64

    out = []
    for doc_id, text in docs:
        seen: set[str] = set()
        tokens: list[str] = []
        for t in re.findall(r"[a-z0-9]+", (text or "").lower()):
            if t not in seen:
                seen.add(t)
                tokens.append(t)
        hashes = [spark_xxhash64(t) for t in tokens]
        n = len(hashes)
        if n == 0:
            out.append({"doc_id": doc_id, "simhash": 0})
            continue
        value = 0
        for bit in range(64):
            vote = sum((h >> bit) & 1 for h in hashes)
            if vote * 2 >= n:
                value += (1 << bit) if bit < 63 else -(1 << 63)
        out.append({"doc_id": doc_id, "simhash": value})
    return out


_MERSENNE31 = (1 << 31) - 1


def _char_shingles(text: str, n: int) -> list[str]:
    # mirror operators/textstats.char_ngrams exactly: Spark's regexp_replace
    # uses JAVA \s == [ \t\n\x0B\f\r] (ASCII only), so the replay must NOT
    # use Python's unicode-aware \s (it would also collapse U+00A0 etc.)
    import re

    lowered = re.sub(r"[ \t\n\x0b\f\r]+", " ", (text or "").lower())
    if len(lowered) < n:
        return [lowered]
    seen: set[str] = set()
    out: list[str] = []
    for i in range(len(lowered) - n + 1):
        s = lowered[i : i + n]
        if s not in seen:
            seen.add(s)
            out.append(s)
    return out


def expected_minhash_candidates(
    docs: list[tuple[str, str]], *, shingle_len: int = 5, num_hashes: int = 64, bands: int = 8,
    max_bucket_size: int = 256,
) -> list[dict[str, Any]]:
    """Serial replay of operators/dedup.minhash_lsh_candidates: shingle ->
    xxhash64 -> mersenne-field hash family minima -> banded bucket ids ->
    within-bucket pairs (sorted, capped). Differentially checks the whole
    signature/banding plan including Spark's ANSI long arithmetic."""
    from .minhash import hash_family
    from .xxhash import spark_xxhash64

    rows_per_band = num_hashes // bands
    family = [hash_family(i) for i in range(num_hashes)]
    buckets: dict[tuple[int, int], list[str]] = {}
    for doc_id, text in docs:
        hs = [spark_xxhash64(s) % _MERSENNE31 for s in _char_shingles(text, shingle_len)]
        if not hs:
            continue
        sig = [min((h * a + b) % _MERSENNE31 for h in hs) for a, b in family]
        for band in range(bands):
            vals = sig[band * rows_per_band : (band + 1) * rows_per_band]
            bucket = spark_xxhash64(":".join(str(v) for v in vals))
            buckets.setdefault((band, bucket), []).append(str(doc_id))
    pairs: set[tuple[str, str]] = set()
    for ids in buckets.values():
        if len(ids) < 2:
            continue
        members = sorted(ids)[:max_bucket_size]
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                pairs.add((members[i], members[j]))
    return [{"id_a": a, "id_b": b} for a, b in sorted(pairs)]


def expected_ivf_topk(
    vecs: list[tuple[int, list[float]]],
    query: list[float],
    *,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 8,
) -> list[dict[str, Any]]:
    """Serial replay of operators/similarity.ivf_topk: xxhash64 prefilter ->
    top-n_cells-by-hash centroids -> left-fold dot-product cell assignment ->
    n_probe nearest cells -> exact cosine top-k. Every float accumulation is
    a left fold to mirror Spark's aggregate() element order exactly."""
    import math

    from .xxhash import spark_xxhash64

    def dot(a: list[float], b: list[float]) -> float:
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    hs = [(spark_xxhash64(str(vid)), vid, [float(x) for x in emb]) for vid, emb in vecs]
    pre = [t for t in hs if t[0] % 16 == 0]
    pool = pre if len(pre) >= n_cells else hs
    centroids = [t[2] for t in sorted(pool, key=lambda t: t[0])[:n_cells]]
    qnorm = math.sqrt(sum(v * v for v in query)) or 1.0

    def similarity(emb: list[float]) -> float:
        nrm = 0.0
        for x in emb:
            nrm += x * x
        return dot(emb, query) / (math.sqrt(nrm) * qnorm)

    if centroids:
        probe = sorted(range(len(centroids)), key=lambda i: -sum(a * b for a, b in zip(query, centroids[i])))[:n_probe]
        probe_set = set(probe)

        def in_probe(emb: list[float]) -> bool:
            scores = [dot(c, emb) for c in centroids]
            return scores.index(max(scores)) in probe_set

        pool_vecs = [(vid, emb) for _, vid, emb in hs if in_probe(emb)]
    else:
        pool_vecs = [(vid, emb) for _, vid, emb in hs]
    scored = sorted(((similarity(emb), vid) for vid, emb in pool_vecs), key=lambda t: (-t[0], t[1]))[:k]
    return [{"vec_id": vid, "similarity": round(sim, 6)} for sim, vid in scored]


def expected_pagerank(
    edges: list[tuple[str, str]], *, damping: float = 0.85, iterations: int = 20
) -> list[dict[str, Any]]:
    """Serial replay of operators/pagerank.pagerank (set-semantics edges,
    uniform dangling redistribution, fixed iteration count)."""
    eset = sorted(set(edges))
    verts = sorted({a for a, _ in eset} | {b for _, b in eset})
    n = len(verts)
    if n == 0:
        return []
    out_deg: dict[str, int] = {}
    for a, _ in eset:
        out_deg[a] = out_deg.get(a, 0) + 1
    rank = {v: 1.0 / n for v in verts}
    for _ in range(iterations):
        dangling = sum(r for v, r in rank.items() if v not in out_deg)
        summed = {v: 0.0 for v in verts}
        for a, b in eset:
            summed[b] += rank[a] / out_deg[a]
        rank = {
            v: (1.0 - damping) / n + damping * (summed[v] + dangling / n) for v in verts
        }
    return [{"v": v, "rank": rank[v]} for v in verts]


def expected_facts_with_evidence(
    facts: list[dict[str, Any]], edges: list[dict[str, Any]], claims: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """J8 replay: current facts joined to their first supporting document
    (min doc_id), mirroring operators/graph.facts_with_evidence."""
    doc_of = {c["claim_id"]: c["doc_id"] for c in claims}
    best: dict[str, str] = {}
    for e in edges:
        if e["relation_type"] != "SUPPORTS":
            continue
        doc = doc_of.get(e["claim_id"])
        if doc is None:
            continue
        cur = best.get(e["fact_id"])
        if cur is None or doc < cur:
            best[e["fact_id"]] = doc
    return [
        {"fact_id": f["fact_id"], "canonical_key": f["canonical_key"], "evidence_doc_id": best.get(f["fact_id"])}
        for f in facts
        if f.get("status") == "current"
    ]


def expected_fact_diff(
    new_claims: list[dict[str, Any]], current_facts: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Serial replay of operators/incremental.fact_diff: nested loop over
    each promotable new claim vs the key's current facts (the shape of the
    reference's compute_diff, under_development/saia.py:117-146)."""
    from .claims import promotable
    from .facts import facts_equal

    by_key: dict[str, list[dict[str, Any]]] = {}
    for f in current_facts:
        if f.get("status") == "current":
            by_key.setdefault(f["canonical_key"], []).append(f)
    # the operator groups by (claim_id, doc_id, canonical_key) and ORs the
    # equality flag across every (claim row x live fact) pair — duplicate
    # claim rows that disagree on equality fields must MERGE (any match =>
    # confirmed, min matched fact id), not last-row-wins
    merged: dict[tuple, dict[str, Any]] = {}
    for c in new_claims:
        if not promotable(c):
            continue
        live = by_key.get(c["canonical_key"], [])
        matched = sorted(f["fact_id"] for f in live if facts_equal(f, c))
        key = (c["claim_id"], c["doc_id"], c["canonical_key"])
        slot = merged.setdefault(key, {"live": bool(live), "matched": []})
        slot["matched"].extend(matched)
    out: list[dict[str, Any]] = []
    for (claim_id, doc_id, canonical_key), slot in merged.items():
        if not slot["live"]:
            change, existing = "added", None
        elif slot["matched"]:
            change, existing = "confirmed", min(slot["matched"])
        else:
            change = "contradicted"
            existing = min(f["fact_id"] for f in by_key[canonical_key])
        out.append(
            {
                "claim_id": claim_id,
                "doc_id": doc_id,
                "canonical_key": canonical_key,
                "change": change,
                "existing_fact_id": existing,
            }
        )
    return sorted(out, key=lambda r: (r["claim_id"], r["doc_id"], r["canonical_key"]))


def expected_impact_radius(
    seeds: list[str], edges: list[tuple[str, str]], *, max_depth: int = 2
) -> list[dict[str, Any]]:
    """Serial BFS replay of operators/incremental.impact_radius: min-hop
    depth over the undirected, self-loop-free edge set."""
    adj = _undirected_adjacency(edges)
    depth: dict[str, int] = {s: 0 for s in set(seeds)}
    frontier = set(depth)
    for d in range(1, max_depth + 1):
        nxt = set()
        for v in frontier:
            for w in adj.get(v, ()):
                if w not in depth:
                    depth[w] = d
                    nxt.add(w)
        frontier = nxt
    return [{"entity_id": v, "depth": d} for v, d in sorted(depth.items())]


def _undirected_adjacency(edges: list[tuple[str, str]]) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = {}
    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    return adj


def expected_label_propagation(
    edges: list[tuple[str, str]], *, iterations: int = 5
) -> list[dict[str, Any]]:
    """Serial replay of operators/communities.label_propagation: synchronous
    rounds, most-frequent neighbour label, ties to the smallest label."""
    from collections import Counter

    adj = _undirected_adjacency(edges)
    labels = {v: v for v in adj}
    for _ in range(iterations):
        nxt = {}
        for v, neigh in adj.items():
            votes = Counter(labels[n] for n in neigh)
            best = max(votes.items(), key=lambda kv: (kv[1], _NegStr(kv[0])))
            nxt[v] = best[0]
        labels = nxt
    return [{"entity": v, "community": c} for v, c in sorted(labels.items())]


class _NegStr:
    """Reverse-ordering wrapper so max() breaks count ties on the SMALLEST
    label (expected_label_propagation)."""

    __slots__ = ("s",)

    def __init__(self, s: str) -> None:
        self.s = s

    def __lt__(self, other: "_NegStr") -> bool:
        return self.s > other.s


def expected_core_numbers(edges: list[tuple[str, str]]) -> list[dict[str, Any]]:
    """Serial peeling replay for operators/communities.core_numbers: the
    classic min-degree peel computes the exact k-core number, which is the
    fixed point of the distributed H-index iteration (Lü et al. 2016)."""
    adj = _undirected_adjacency(edges)
    deg = {v: len(n) for v, n in adj.items()}
    core: dict[str, int] = {}
    remaining = set(adj)
    level = 0
    while remaining:
        v = min(remaining, key=lambda x: (deg[x], x))
        level = max(level, deg[v])  # the peel level never decreases
        core[v] = level
        remaining.discard(v)
        for w in adj[v]:
            if w in remaining:
                deg[w] -= 1
    return [{"entity": v, "core": c} for v, c in sorted(core.items())]


def expected_personalized_pagerank(
    edges: list[tuple[str, str]],
    seeds: list[str],
    *,
    damping: float = 0.85,
    iterations: int = 20,
) -> list[dict[str, Any]]:
    """Serial replay of operators/pagerank.personalized_pagerank: teleport
    uniform over the seed set, dangling mass restarts at the seeds."""
    eset = sorted({(a, b) for a, b in edges})
    sset = sorted(set(seeds))
    verts = sorted({a for a, _ in eset} | {b for _, b in eset} | set(sset))
    p = {v: (1.0 / len(sset) if v in set(sset) else 0.0) for v in verts}
    out_deg: dict[str, int] = {}
    for a, _ in eset:
        out_deg[a] = out_deg.get(a, 0) + 1
    rank = dict(p)
    for _ in range(iterations):
        dangling = sum(r for v, r in rank.items() if v not in out_deg)
        summed = {v: 0.0 for v in verts}
        for a, b in eset:
            summed[b] += rank[a] / out_deg[a]
        rank = {
            v: (1.0 - damping) * p[v] + damping * (summed[v] + dangling * p[v])
            for v in verts
        }
    return [{"v": v, "rank": rank[v]} for v in verts]
