"""The seven-claim-type triple-extraction cascade.

Reference parity: app/saia.py:36-116 (token sets, verb map, patterns),
367-387 (extract_claims_from_text + order-preserving dedupe), 516-808
(the seven extractors), 811-870 (_base_claim), 954-976 (recipient
resolution), 1015-1070 (canonical key, dedupe key, claim id), 1581-1636
(span split + continuation merge + event-phrase canonicalization),
1607-1628 / 1716-1767 (commitment body post-processing), 2085-2131
(grounding payload).

All functions are pure: (sentence, context, catalog) -> claim dicts.
``document_claims`` is the per-document row function of stage 3: the Spark
stage in operators/extraction.py maps it over Arrow batches, and the serial
oracle (kernel/expected.py) and tools/profile_extract.py call it directly.
"""

from __future__ import annotations

import hashlib
import json
import re
from typing import Any, Optional

from .entities import (
    EntityCatalog,
    MessageContext,
    Resolution,
    group_or_scope_subject,
    resolution_label,
)

# every resolution in the cascade goes through the per-catalog memo
# (entities.resolve_reference_cached): same pure functions, dict-hit fast
from .entities import resolve_reference_cached as resolve_reference  # noqa: E402
from .entities import resolved_sender_cached as resolved_sender  # noqa: E402
from .temporal import resolve_temporal, strip_temporal_tokens, temporal_expressions
from .text import clean_message_text, collapse_ws, slug

# --- thresholds & gates (saia.py:27-33) -------------------------------------
ELIGIBLE_SOURCES = {"chat_message", "message_attachment"}
NON_CANONICAL_TYPES = {"REQUEST"}
MIN_CANONICAL_CONFIDENCE = 0.80

# --- lexical tables (saia.py:40-64) ------------------------------------------
CONTINUATION_PREFIXES = {"for", "regarding", "about", "re", "under", "within", "on", "by", "at"}
VERB_BASE_FORMS = {
    "send": "send", "sending": "send",
    "share": "share", "sharing": "share",
    "review": "review", "reviewing": "review",
    "prepare": "prepare", "preparing": "prepare",
    "update": "update", "updating": "update",
    "schedule": "schedule", "scheduling": "schedule",
    "deliver": "deliver", "delivering": "deliver",
    "discuss": "discuss", "discussing": "discuss",
    "confirm": "confirm", "confirming": "confirm",
    "provide": "provide", "providing": "provide",
}
_VERB_ALT = "|".join(sorted((re.escape(v) for v in VERB_BASE_FORMS), key=len, reverse=True))

# --- pattern surface (saia.py:66-116) ----------------------------------------
_TOKEN = r"[A-Za-z0-9][A-Za-z0-9_\-]*"
_PHRASE = rf"{_TOKEN}(?:\s+{_TOKEN}){{0,5}}"
_SCOPED_PHRASE = rf"(?:the\s+|our\s+|my\s+)?{_PHRASE}"
_CAPITALIZED_NAME = r"[A-Z][A-Za-z0-9_\-]*(?:\s+[A-Z][A-Za-z0-9_\-]*)*|EMP\d{3}"

REQUEST_RE = re.compile(r"^\s*(?:can|could|would|will)\s+you\s+(?P<action>[^?.!]+)\??$", re.IGNORECASE)
REPORTS_TO_REL_RE = re.compile(r"\breports\s+to\b", re.IGNORECASE)
APPROVAL_ACTIVE_RE = re.compile(
    rf"\b(?P<subject>{_SCOPED_PHRASE})\s+(?P<verb>approved|approves|authorized|authorised)\s+(?P<object>[^.?!]+)",
    re.IGNORECASE,
)
APPROVAL_PASSIVE_RE = re.compile(
    rf"\b(?P<object>{_SCOPED_PHRASE})\s+is\s+(?P<status>approved|authorized|authorised)\b",
    re.IGNORECASE,
)
STATUS_RE = re.compile(
    rf"\b(?P<subject>{_SCOPED_PHRASE})\s+is\s+(?P<status>on\s+track|delayed|blocked|complete|completed|pending|down|offline|degraded|up|unavailable)\b",
    re.IGNORECASE,
)
MEETING_NOUN_RE = re.compile(r"\b(?P<event>(?:[A-Za-z]+\s+){0,3}(?:meeting|call|discussion|review))\b", re.IGNORECASE)
MEET_VERB_RE = re.compile(
    r"\b(?:let'?s|let us|can we|could we|should we|shall we|please)?\s*meet(?:\s+with\s+(?P<counterparty>[^?.!,]+))?\b",
    re.IGNORECASE,
)
ASSIGN_START_RE = re.compile(
    rf"\b(?P<subject>{_PHRASE})\s+is\s+(?:currently\s+)?(?:assigned\s+to|working\s+on)\s+(?P<object>[^.?!]+)\b",
    re.IGNORECASE,
)
ASSIGN_END_RE = re.compile(
    rf"\b(?P<subject>{_PHRASE})\s+is\s+no\s+longer\s+(?:assigned\s+to|working\s+on)\s+(?P<object>[^.?!]+)\b",
    re.IGNORECASE,
)
COMMIT_FIRST_PERSON_RE = re.compile(
    rf"\bI(?:'ll|\s+will)(?:\s+be)?\s+(?P<verb>{_VERB_ALT})\s+(?P<body>[^?.!]+)",
    re.IGNORECASE,
)
COMMIT_NAMED_RE = re.compile(
    rf"\b(?P<subject>{_CAPITALIZED_NAME})\s+(?:will|should|must)(?:\s+be)?\s+(?P<verb>{_VERB_ALT})\s+(?P<body>[^?.!]+)",
    re.IGNORECASE,
)
_SPAN_SPLIT_RE = re.compile(r"(?<=[.!?])\s+")
_TRAILING_NOW_RE = re.compile(r"\bnow\b$", re.IGNORECASE)
_CONTINUATION_STOP_RE = re.compile(
    r"\b(?:i|you|we|they|he|she|it|can|could|would|will|should|must|reports|approved|assigned|meeting|meet)\b"
)
_QUALIFIER_FRAGMENT_RE = re.compile(
    r"^(?P<prefix>for|regarding|about|re|under|within|on)\s+(?P<context>[A-Za-z0-9][^;,.!?]*)$",
    re.IGNORECASE,
)
# Precompiled forms of the formerly module-cached inline patterns (identical
# pattern text + flags; re.sub/re.search with a string pattern pays a cache
# lookup + flag parse per call on the per-claim hot path).
_WE_RE = re.compile(r"\bwe\b", re.IGNORECASE)
_LETS_RE = re.compile(r"\blet'?s\b", re.IGNORECASE)
_SEMI_SPLIT_RE = re.compile(r"\s*;\s*")
_LEADING_YOU_RE = re.compile(r"^\s*you\b")
_REL_YOU_RE = re.compile(r"\b(?P<relation>to|with|for)\s+you\b")
_LEADING_NAME_RE = re.compile(rf"^\s*(?P<name>{_CAPITALIZED_NAME})\b")
_REL_NAME_RE = re.compile(rf"\b(?P<relation>to|with|for)\s+(?P<name>{_CAPITALIZED_NAME})\b")
_LEADING_YOU_CI_RE = re.compile(r"^\s*you\b", re.IGNORECASE)
_REL_YOU_CI_RE = re.compile(r"\b(?:to|with|for)\s+you\b", re.IGNORECASE)
_DANGLING_PREP_PAIR_RE = re.compile(
    r"\b(?:by|at|on|before|after|around)\s+(for|regarding|about|re|under|within|on)\b",
    re.IGNORECASE,
)
_TRAILING_INSTEAD_RE = re.compile(r"(?:,\s*)?\binstead\b\s*$", re.IGNORECASE)
_TRAILING_PREP_RE = re.compile(r"\b(?:by|before|after|at|on|to|for|with|around)\b\s*$", re.IGNORECASE)
_LEADING_PREP_RE = re.compile(r"^\s*(?:to|for|with)\b", re.IGNORECASE)
_QUALIFIER_CASE_RE = re.compile(r"\b(For|Regarding|About|Re|Under|Within|On)\b")
_LEADING_ARTICLE_RE = re.compile(r"^(?:the|a|an)\s+", re.IGNORECASE)


def canonical_json(obj: Any) -> str:
    """Canonical JSON blob — must byte-match the reference's
    json.dumps(..., sort_keys=True) (saia.py:595-603 et al.); never use
    Spark's to_json for these columns."""
    return json.dumps(obj, sort_keys=True)


_EMPTY_PAYLOAD_JSON = canonical_json({})


# --- span segmentation (saia.py:1581-1604) -----------------------------------

def split_claim_spans(text: str) -> list[str]:
    pieces = [p.strip() for p in _SPAN_SPLIT_RE.split(text) if p.strip()]
    spans: list[str] = []
    for piece in pieces:
        core = piece.strip().rstrip(".!?").strip()
        if not core:
            continue
        if spans and _is_continuation(core):
            spans[-1] = f"{spans[-1]}; {core}"
        else:
            spans.append(core)
    return spans


def _is_continuation(fragment: str) -> bool:
    tokens = collapse_ws(fragment).split()
    if len(tokens) < 3 or tokens[0].lower() not in CONTINUATION_PREFIXES:
        return False
    return not _CONTINUATION_STOP_RE.search(" ".join(tokens).lower())


# --- claim assembly (saia.py:811-870) -----------------------------------------

def _assemble_claim(
    ctx: MessageContext,
    span_text: str,
    *,
    claim_type: str,
    predicate: str,
    subject: Resolution,
    obj: Optional[Resolution],
    value_text: Optional[str],
    graph_worthy: bool,
    extraction_confidence: float,
    canonical_confidence: float,
    normalized_text: str,
    temporal: Optional[dict] = None,
    created_at: str = "",
) -> dict[str, Any]:
    temporal = temporal or resolve_temporal(span_text, ctx.sent_at, ctx.timezone)
    status = "resolved"
    if subject.status != "resolved":
        status = subject.status
    if obj is not None and obj.status != "resolved":
        status = obj.status if status == "resolved" else "partial"
    references = [
        {
            "role": "subject",
            "raw": subject.raw,
            "resolved_key": subject.key,
            "entity_id": subject.entity_id,
            "entity_type": subject.entity_type,
            "status": subject.status,
            "display_name": subject.display_name,
        }
    ]
    if obj is not None:
        references.append(
            {
                "role": "object",
                "raw": obj.raw,
                "resolved_key": obj.key,
                "entity_id": obj.entity_id,
                "entity_type": obj.entity_type,
                "status": obj.status,
                "display_name": obj.display_name,
            }
        )
    grounding = {
        "source_kind": ctx.source_kind,
        "conversation_type": ctx.conversation_type,
        "scope_type": ctx.scope_type,
        "scope_id": ctx.scope_id,
        "anchor_sent_at": ctx.sent_at,
        "sender_id": ctx.sender_id,
        "receiver_ids": list(ctx.receiver_ids),
        "group_id": ctx.group_id,
        "references": references,
        "temporal_expressions": temporal_expressions(span_text),
        "temporal_start": temporal.get("temporal_start"),
        "temporal_end": temporal.get("temporal_end"),
        "temporal_granularity": temporal.get("temporal_granularity"),
        "timezone": temporal.get("timezone") or ctx.timezone,
    }
    return {
        "claim_type": claim_type,
        "predicate": predicate,
        "subject_raw": subject.raw,
        "subject_key": subject.key,
        "subject_entity_id": subject.entity_id,
        "subject_entity_type": subject.entity_type,
        "object_raw": obj.raw if obj else None,
        "object_key": obj.key if obj else None,
        "object_entity_id": obj.entity_id if obj else None,
        "object_entity_type": obj.entity_type if obj else None,
        "grounding_json": canonical_json(grounding),
        "value_text": value_text,
        "payload_json": _EMPTY_PAYLOAD_JSON,
        "scope_type": ctx.scope_type,
        "scope_id": ctx.scope_id,
        "temporal_start": temporal.get("temporal_start"),
        "temporal_end": temporal.get("temporal_end"),
        "temporal_granularity": temporal.get("temporal_granularity"),
        "timezone": temporal.get("timezone") or ctx.timezone,
        "normalized_text": normalized_text,
        "source_span_text": span_text,
        "graph_worthy": graph_worthy,
        "resolution_status": status,
        "promotion_status": "pending",
        "mutation_action": "awaiting_decision",
        "extraction_confidence": extraction_confidence,
        "canonical_confidence": canonical_confidence,
        "created_at": created_at,
    }


# --- the seven extractors ------------------------------------------------------

def _requests(span: str, ctx: MessageContext, catalog: Optional[EntityCatalog], created_at: str) -> list[dict]:
    """REQUEST (saia.py:516-536): anchored "can/could/would/will you <action>";
    never canonical."""
    m = REQUEST_RE.match(span)
    if not m:
        return []
    target = resolve_reference("you", ctx, catalog, allow_pronouns=True)
    action = collapse_ws(m.group("action"))
    label = target.key or target.raw or "recipient"
    claim = _assemble_claim(
        ctx,
        span,
        claim_type="REQUEST",
        predicate="REQUEST_ACTION",
        subject=resolved_sender(ctx, catalog),
        obj=target,
        value_text=action,
        graph_worthy=False,
        extraction_confidence=0.75,
        canonical_confidence=0.0,
        normalized_text=f"{ctx.sender_id} requested {label} to {action}",
        created_at=created_at,
    )
    claim["promotion_status"] = "skipped_noncanonical"
    return [claim]


def _reports_to(span: str, ctx: MessageContext, catalog: Optional[EntityCatalog], created_at: str) -> list[dict]:
    """REPORTS_TO (saia.py:539-567): split on the relation phrase, resolve
    both sides without pronoun handling, drop a trailing "now" qualifier."""
    rel = REPORTS_TO_REL_RE.search(span)
    if not rel:
        return []
    left = span[: rel.start()].strip(" ,.")
    right = span[rel.end():].strip(" ,.")
    left = _TRAILING_NOW_RE.sub("", left).strip(" ,.")
    if not left or not right:
        return []
    subject = resolve_reference(left, ctx, catalog, allow_pronouns=False)
    obj = resolve_reference(right, ctx, catalog, allow_pronouns=False)
    return [
        _assemble_claim(
            ctx,
            span.strip(),
            claim_type="REPORTS_TO",
            predicate="REPORTS_TO",
            subject=subject,
            obj=obj,
            value_text=None,
            graph_worthy=True,
            extraction_confidence=0.96,
            canonical_confidence=0.96 if subject.entity_id and obj.entity_id else 0.55,
            normalized_text=(
                f"{resolution_label(subject, fallback=left)} reports to "
                f"{resolution_label(obj, fallback=right)}"
            ),
            created_at=created_at,
        )
    ]


def _approvals(span: str, ctx: MessageContext, catalog: Optional[EntityCatalog], created_at: str) -> list[dict]:
    """APPROVAL_STATE, active + passive voice (saia.py:570-629)."""
    claims: list[dict] = []
    for m in APPROVAL_ACTIVE_RE.finditer(span):
        approver = resolve_reference(m.group("subject"), ctx, catalog, allow_pronouns=False)
        target_text = collapse_ws(m.group("object").rstrip(".?!"))
        target = resolve_reference(target_text, ctx, catalog, allow_pronouns=False)
        target_key = target.key or slug(target_text)
        normalized = f"{resolution_label(target, fallback=target_key)} is approved"
        if approver.key:
            normalized += f" by {resolution_label(approver, fallback=approver.key)}"
        claim = _assemble_claim(
            ctx,
            m.group(0),
            claim_type="APPROVAL_STATE",
            predicate="APPROVED",
            subject=target,
            obj=approver,
            value_text="approved",
            graph_worthy=True,
            extraction_confidence=0.92,
            canonical_confidence=0.88 if target.key else 0.55,
            normalized_text=normalized,
            created_at=created_at,
        )
        claim["payload_json"] = canonical_json(
            {
                "approval_target": target_key,
                "approval_state": "approved",
                "approver_id": approver.entity_id,
                "approver_key": approver.key,
            }
        )
        claims.append(claim)
    for m in APPROVAL_PASSIVE_RE.finditer(span):
        target_text = collapse_ws(m.group("object").rstrip(".?!"))
        target = resolve_reference(target_text, ctx, catalog, allow_pronouns=False)
        target_key = target.key or slug(target_text)
        claim = _assemble_claim(
            ctx,
            m.group(0),
            claim_type="APPROVAL_STATE",
            predicate="APPROVED",
            subject=target,
            obj=None,
            value_text="approved",
            graph_worthy=True,
            extraction_confidence=0.9,
            canonical_confidence=0.86 if target.key else 0.55,
            normalized_text=f"{resolution_label(target, fallback=target_key)} is approved",
            created_at=created_at,
        )
        claim["payload_json"] = canonical_json(
            {"approval_target": target_key, "approval_state": "approved"}
        )
        claims.append(claim)
    return claims


def _statuses(span: str, ctx: MessageContext, catalog: Optional[EntityCatalog], created_at: str) -> list[dict]:
    """STATUS_UPDATE (saia.py:632-653)."""
    claims: list[dict] = []
    for m in STATUS_RE.finditer(span):
        subject = resolve_reference(m.group("subject"), ctx, catalog, allow_pronouns=False)
        value = collapse_ws(m.group("status").lower())
        claims.append(
            _assemble_claim(
                ctx,
                m.group(0),
                claim_type="STATUS_UPDATE",
                predicate="STATUS",
                subject=subject,
                obj=None,
                value_text=value,
                graph_worthy=True,
                extraction_confidence=0.86,
                canonical_confidence=0.82 if subject.key else 0.6,
                normalized_text=f"{resolution_label(subject, fallback=slug(m.group('subject')))} is {value}",
                created_at=created_at,
            )
        )
    return claims


def _assignments(span: str, ctx: MessageContext, catalog: Optional[EntityCatalog], created_at: str) -> list[dict]:
    """ASSIGNMENT_STATE, end-pattern first (saia.py:656-693)."""
    claims: list[dict] = []
    for pattern, state, phrasing in (
        (ASSIGN_END_RE, "inactive", "is no longer assigned to"),
        (ASSIGN_START_RE, "active", "is assigned to"),
    ):
        for m in pattern.finditer(span):
            subject = resolve_reference(m.group("subject"), ctx, catalog, allow_pronouns=False)
            target_text = collapse_ws(m.group("object").rstrip(".?!"))
            target = resolve_reference(target_text, ctx, catalog, allow_pronouns=False)
            target_key = target.key or slug(target_text)
            claim = _assemble_claim(
                ctx,
                m.group(0),
                claim_type="ASSIGNMENT_STATE",
                predicate="ASSIGNED_TO",
                subject=subject,
                obj=target,
                value_text=state,
                graph_worthy=True,
                extraction_confidence=0.9 if state == "inactive" else 0.88,
                canonical_confidence=0.86 if subject.key and target.key else 0.6,
                normalized_text=(
                    f"{resolution_label(subject, fallback=slug(m.group('subject')))} "
                    f"{phrasing} {resolution_label(target, fallback=target_key)}"
                ),
                created_at=created_at,
            )
            claim["payload_json"] = canonical_json(
                {"assignment_state": state, "assignment_target": target_key}
            )
            claims.append(claim)
    return claims


def _canonical_event_phrase(text: str) -> str:
    """Drop leading filler tokens from the event noun phrase (saia.py:1631-1636)."""
    tokens = collapse_ws(text).split()
    filler = {"we", "i", "they", "have", "has", "had", "a", "an", "the"}
    while len(tokens) > 1 and tokens[0].lower() in filler:
        tokens = tokens[1:]
    return " ".join(tokens) or "meeting"


def _meetings(span: str, ctx: MessageContext, catalog: Optional[EntityCatalog], created_at: str) -> list[dict]:
    """MEETING_EVENT (saia.py:696-733)."""
    event: Optional[str] = None
    noun_match = MEETING_NOUN_RE.search(span)
    if noun_match:
        event = _canonical_event_phrase(noun_match.group("event"))
    else:
        verb_match = MEET_VERB_RE.search(span)
        if verb_match:
            counterparty = collapse_ws(verb_match.group("counterparty") or "")
            event = f"meeting with {counterparty}" if counterparty else "meeting"
    if not event:
        return []
    temporal = resolve_temporal(span, ctx.sent_at, ctx.timezone)
    subject_raw = None
    if _WE_RE.search(span) or _LETS_RE.search(span):
        subject_raw = "we"
    subject = group_or_scope_subject(ctx, catalog, raw=subject_raw)
    normalized = event
    if temporal.get("temporal_start"):
        normalized = f"{event} scheduled for {temporal['temporal_start']}"
    claim = _assemble_claim(
        ctx,
        noun_match.group(0) if noun_match else span.strip(),
        claim_type="MEETING_EVENT",
        predicate="SCHEDULED_FOR",
        subject=subject,
        obj=None,
        value_text=event,
        graph_worthy=True,
        extraction_confidence=0.84,
        canonical_confidence=0.84 if temporal.get("temporal_start") else 0.6,
        normalized_text=normalized,
        temporal=temporal,
        created_at=created_at,
    )
    claim["payload_json"] = canonical_json({"event_signature": slug(event)})
    return [claim]


# --- commitment body post-processing (saia.py:1607-1628, 1716-1779) -----------

def _split_context_fragments(body: str) -> tuple[str, list[str]]:
    parts = [collapse_ws(p) for p in _SEMI_SPLIT_RE.split(body) if collapse_ws(p)]
    if not parts:
        return body, []
    main = parts[0]
    fragments: list[str] = []
    for extra in parts[1:]:
        qualifier = _QUALIFIER_FRAGMENT_RE.match(extra)
        if qualifier:
            context = collapse_ws(qualifier.group("context"))
            if context:
                fragments.append(f"{qualifier.group('prefix').lower()} {context}")
            continue
        main = collapse_ws(f"{main} {extra}")
    return main, fragments


def _recipient_of(body: str, ctx: MessageContext, catalog: Optional[EntityCatalog]) -> tuple[Resolution, Optional[str]]:
    """Recipient detection inside a commitment body (saia.py:954-976)."""
    lowered = body.lower()
    if _LEADING_YOU_RE.match(lowered):
        return resolve_reference("you", ctx, catalog, allow_pronouns=True), None
    rel_you = _REL_YOU_RE.search(lowered)
    if rel_you:
        return (
            resolve_reference("you", ctx, catalog, allow_pronouns=True),
            rel_you.group("relation").lower(),
        )
    leading = _LEADING_NAME_RE.match(body)
    if leading:
        return resolve_reference(leading.group("name"), ctx, catalog, allow_pronouns=False), None
    related = _REL_NAME_RE.search(body)
    if related:
        return (
            resolve_reference(related.group("name"), ctx, catalog, allow_pronouns=False),
            related.group("relation").lower(),
        )
    return Resolution(raw="", key=None, entity_id=None, entity_type=None, status="resolved"), None


def _drop_recipient_tokens(text: str, recipient_raw: Optional[str], relation: Optional[str]) -> str:
    """saia.py:1716-1747."""
    out = text
    if recipient_raw:
        normalized = collapse_ws(recipient_raw)
        out = re.sub(rf"^\s*{re.escape(normalized)}\b", "", out, flags=re.IGNORECASE)
        if relation:
            out = re.sub(
                rf"\b{re.escape(relation)}\s+{re.escape(normalized)}\b", "", out, flags=re.IGNORECASE
            )
        out = re.sub(rf"\b(?:to|with|for)\s+{re.escape(normalized)}\b", "", out, flags=re.IGNORECASE)
    else:
        out = _LEADING_YOU_CI_RE.sub("", out)
        out = _REL_YOU_CI_RE.sub("", out)
    return collapse_ws(out)


def _tidy_item_text(text: str) -> str:
    """Dangling-preposition / correction-marker cleanup (saia.py:1750-1767)."""
    cleaned = collapse_ws(text)
    cleaned = _DANGLING_PREP_PAIR_RE.sub(r"\1", cleaned)
    while cleaned:
        step = _TRAILING_INSTEAD_RE.sub("", cleaned)
        step = _TRAILING_PREP_RE.sub("", step)
        step = _LEADING_PREP_RE.sub("", step)
        step = collapse_ws(step)
        if step == cleaned:
            break
        cleaned = step
    return _QUALIFIER_CASE_RE.sub(lambda m: m.group(0).lower(), cleaned)


def _implicit_relation(verb: str) -> Optional[str]:
    """saia.py:1774-1779."""
    if verb in {"send", "share", "provide", "deliver"}:
        return "to"
    if verb in {"review", "discuss", "confirm"}:
        return "with"
    return None


def _commitment_claim(
    m: re.Match[str],
    ctx: MessageContext,
    catalog: Optional[EntityCatalog],
    subject: Resolution,
    created_at: str,
) -> list[dict]:
    """TASK_ASSIGNMENT assembly from one commitment match (saia.py:754-808)."""
    verb = VERB_BASE_FORMS.get((m.group("verb") or "").lower(), (m.group("verb") or "").lower())
    body = collapse_ws(m.group("body"))
    body, fragments = _split_context_fragments(body)
    temporal = resolve_temporal(body, ctx.sent_at, ctx.timezone)
    recipient, relation = _recipient_of(body, ctx, catalog)
    item = strip_temporal_tokens(body)
    item = _drop_recipient_tokens(item, recipient.raw, relation)
    item = _tidy_item_text(item)
    item = _LEADING_ARTICLE_RE.sub("", item, count=1)
    item = collapse_ws(item)
    if fragments:
        item = collapse_ws(" ".join([item, *fragments]))
    if not item:
        item = verb
    signature = slug(f"{verb} {item}")
    normalized = f"{resolution_label(subject, fallback=ctx.sender_id)} will {verb} {item}"
    if recipient.key:
        rel = relation or _implicit_relation(verb)
        recipient_text = resolution_label(recipient, fallback=recipient.key)
        normalized += f" {rel} {recipient_text}" if rel else f" {recipient_text}"
    if temporal.get("temporal_start"):
        normalized += f" on {temporal['temporal_start']}"
    claim = _assemble_claim(
        ctx,
        m.group(0),
        claim_type="TASK_ASSIGNMENT",
        predicate="TASK_COMMITMENT",
        subject=subject,
        obj=recipient,
        value_text=f"{verb} {item}",
        graph_worthy=True,
        extraction_confidence=0.88,
        canonical_confidence=0.88 if subject.entity_id and temporal.get("temporal_start") else 0.72,
        normalized_text=normalized,
        temporal=temporal,
        created_at=created_at,
    )
    claim["payload_json"] = canonical_json(
        {
            "task_signature": signature,
            "verb": verb,
            "item": item,
            "recipient_id": recipient.entity_id,
            "recipient_key": recipient.key,
            "recipient_relation": relation or _implicit_relation(verb),
            "context_fragments": list(fragments),
        }
    )
    return [claim]


def _commitments(span: str, ctx: MessageContext, catalog: Optional[EntityCatalog], created_at: str) -> list[dict]:
    """TASK_ASSIGNMENT: first-person then named-subject forms (saia.py:736-751)."""
    claims: list[dict] = []
    for m in COMMIT_FIRST_PERSON_RE.finditer(span):
        claims.extend(_commitment_claim(m, ctx, catalog, resolved_sender(ctx, catalog, raw="I"), created_at))
    for m in COMMIT_NAMED_RE.finditer(span):
        subject = resolve_reference(m.group("subject"), ctx, catalog, allow_pronouns=False)
        claims.extend(_commitment_claim(m, ctx, catalog, subject, created_at))
    return claims


_EXTRACTOR_CASCADE = (_requests, _reports_to, _approvals, _statuses, _assignments, _meetings, _commitments)

# Cheap necessary-condition gates on span.lower(): each extractor's trigger
# regex cannot match unless one of these literals occurs in the span (e.g.
# both APPROVAL patterns require approved/approves/authorized/authorised),
# so skipping the regex pass when the literal is absent cannot change the
# output. Pinned by test_extractor_gates_are_necessary_conditions.
_EXTRACTOR_GATES: dict[Any, tuple[str, ...]] = {
    _requests: ("you",),                                     # (can|could|would|will)\s+you
    _reports_to: ("reports",),                               # \breports\s+to\b
    _approvals: ("approv", "authori"),                       # approved|approves|authorized|authorised
    _statuses: (                                             # the STATUS_RE status alternation
        "track", "delayed", "blocked", "complete", "pending",
        "down", "offline", "degraded", "up", "unavailable",
    ),
    _assignments: ("assigned", "working"),                   # assigned\s+to | working\s+on
    _meetings: ("meet", "call", "discussion", "review"),     # MEETING_NOUN_RE / MEET_VERB_RE
    _commitments: ("'ll", "will", "should", "must"),         # I('ll|\s+will) / will|should|must
}
_GATED_CASCADE = tuple((ex, _EXTRACTOR_GATES[ex]) for ex in _EXTRACTOR_CASCADE)


# --- identities & keys (saia.py:1015-1070) ------------------------------------

def claim_dedupe_key(claim: dict[str, Any]) -> str:
    return "|".join(
        [
            claim["claim_type"],
            claim.get("predicate") or "",
            claim.get("subject_key") or claim.get("subject_raw") or "",
            claim.get("object_key") or claim.get("object_raw") or "",
            claim.get("value_text") or "",
            claim.get("temporal_start") or "",
            claim.get("normalized_text") or "",
        ]
    )


def claim_identity(doc_id: str, claim: dict[str, Any]) -> str:
    """Content-hash claim id (saia.py:1053-1065); deterministic ids are what
    make partition re-runs idempotent."""
    basis = "::".join(
        [
            doc_id,
            claim.get("source_span_text") or "",
            claim.get("claim_type") or "",
            claim.get("predicate") or "",
            claim.get("subject_key") or "",
            claim.get("object_key") or "",
            claim.get("value_text") or "",
        ]
    )
    return hashlib.sha256(basis.encode("utf-8")).hexdigest()


def canonical_key_for(claim: dict[str, Any]) -> str:
    """Per-type canonical-key templates (saia.py:1015-1037)."""
    claim_type = claim["claim_type"]
    subject_key = claim.get("subject_entity_id") or claim.get("subject_key") or "unknown"
    object_key = claim.get("object_entity_id") or claim.get("object_key") or "unknown"
    if claim_type == "REPORTS_TO":
        return f"reports_to::{subject_key}"
    payload = _payload_of(claim)
    if claim_type == "APPROVAL_STATE":
        target = payload.get("approval_target") or subject_key or object_key or slug(claim.get("value_text") or "approval")
        return f"approval::{target}"
    if claim_type == "TASK_ASSIGNMENT":
        signature = payload.get("task_signature") or slug(claim.get("value_text") or "task")
        return f"assignment::{claim.get('scope_id')}::{signature}"
    if claim_type == "ASSIGNMENT_STATE":
        return f"assignment_state::{subject_key}::{object_key}"
    if claim_type == "MEETING_EVENT":
        signature = payload.get("event_signature") or slug(claim.get("value_text") or "meeting")
        return f"meeting::{claim.get('scope_id')}::{signature}"
    if claim_type == "STATUS_UPDATE":
        return f"status::{subject_key}::general"
    return f"claim::{claim_type.lower()}::{subject_key}::{object_key}"


def _payload_of(claim: dict[str, Any]) -> dict[str, Any]:
    raw = claim.get("payload_json")
    if not raw or raw == _EMPTY_PAYLOAD_JSON:
        return {}
    if isinstance(raw, dict):
        return dict(raw)
    try:
        return json.loads(raw)
    except (TypeError, json.JSONDecodeError):
        return {}


# --- gates ---------------------------------------------------------------------

def source_eligible(ctx: MessageContext, text: str) -> bool:
    """Evidence-eligibility filter (saia.py:504-513). AI-authored content is
    excluded; this engine has no env override — the deterministic contract."""
    if not text.strip():
        return False
    if ctx.source not in ELIGIBLE_SOURCES and ctx.source_kind not in ELIGIBLE_SOURCES:
        return False
    if ctx.is_ai_response:
        return False
    if ctx.sender_id.lower() == "sage":
        return False
    return True


def promotable(claim: dict[str, Any]) -> bool:
    """Promotion gate K2 (saia.py:390-399)."""
    if claim.get("claim_type") in NON_CANONICAL_TYPES:
        return False
    if not claim.get("graph_worthy"):
        return False
    if claim.get("resolution_status") != "resolved":
        return False
    return float(claim.get("canonical_confidence") or 0.0) >= MIN_CANONICAL_CONFIDENCE


# --- entry point -----------------------------------------------------------------

def extract_claims(
    text: str,
    ctx: MessageContext,
    catalog: Optional[EntityCatalog] = None,
    *,
    created_at: str = "",
) -> list[dict[str, Any]]:
    """Run the fixed extractor cascade over each claim span with
    order-preserving dedupe (saia.py:367-387). ``created_at`` is the audit
    timestamp stamped on each claim; callers pass the run's processing
    anchor so re-runs are byte-stable (the reference stamps wall-clock).

    Output claims additionally carry claim_id and canonical_key (the
    reference assigns these in its persistence loop, saia.py:276-277).
    """
    claims: list[dict[str, Any]] = []
    seen: set[str] = set()
    for span in split_claim_spans(text):
        low = span.lower()
        for extractor, gate in _GATED_CASCADE:
            for tok in gate:
                if tok in low:
                    break
            else:
                continue
            for claim in extractor(span, ctx, catalog, created_at):
                key = claim_dedupe_key(claim)
                if key in seen:
                    continue
                seen.add(key)
                claims.append(claim)
    for claim in claims:
        claim["claim_id"] = claim_identity(ctx.doc_id, claim)
        claim["canonical_key"] = canonical_key_for(claim)
    return claims


def document_claims(doc: dict[str, Any], catalog: Optional[EntityCatalog], run_ts: str) -> list[dict[str, Any]]:
    """Stage 3 for one documents row: grounding context (a null sender,
    receivers, timestamp or source takes the default below), text cleanup,
    the eligibility gate, the cascade, then doc_id/claim_seq/sent_at stamped
    on each claim. ``run_ts`` is the claims' created_at."""
    ctx = MessageContext(
        doc_id=doc["doc_id"],
        sender_id=doc["sender"] or "",
        receiver_ids=tuple(doc["receivers"]) if doc["receivers"] is not None else (),
        message_id=doc["message_id"],
        conversation_id=doc["conversation_id"],
        conversation_type=doc["conversation_type"],
        group_id=doc["group_id"],
        sent_at=doc["timestamp"] or "1970-01-01T00:00:00+00:00",
        source=doc["source"] or "chat_message",
        source_kind=doc["source"] or "chat_message",
    )
    cleaned = clean_message_text(doc["content"] or "")
    if not source_eligible(ctx, cleaned):
        return []
    claims = extract_claims(cleaned, ctx, catalog, created_at=run_ts)
    for seq, claim in enumerate(claims):
        claim["doc_id"] = ctx.doc_id
        claim["claim_seq"] = seq
        claim["sent_at"] = ctx.sent_at
    return claims
