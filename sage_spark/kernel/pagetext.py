"""Stage 1's row functions: one webtext row -> one documents row.

The input is a webtext row (url, warc_ts, html, text, lang + grounding
sidecar; ``datagen.make_page`` builds one). The north rule requires the
extracted text to be byte-identical per url on every run, so the html ->
text rule is pure bytes -> str with no environment dependence, and the
doc_id is the sha256 of that text. ``extract_documents`` maps
``document_row`` over Arrow batches and the serial oracle
(kernel/expected.py) calls it per page, so both build the same row.
"""

from __future__ import annotations

from html import unescape
from html.parser import HTMLParser
from typing import Any

from .chunks import content_doc_id
from .text import fallback_summary

# Tags whose content never contributes page text.
_HTML_SKIP_TAGS = {"script", "style", "noscript", "template", "head"}
# Block-level tags that force a line break in the extracted text.
_HTML_BLOCK_TAGS = {
    "p", "div", "br", "li", "ul", "ol", "table", "tr", "h1", "h2", "h3",
    "h4", "h5", "h6", "header", "footer", "section", "article", "blockquote", "pre",
}


class _TextCollector(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.parts: list[str] = []
        self._skip_depth = 0

    def handle_starttag(self, tag: str, attrs: Any) -> None:
        if tag in _HTML_SKIP_TAGS:
            self._skip_depth += 1
        elif tag in _HTML_BLOCK_TAGS:
            self.parts.append("\n")

    def handle_endtag(self, tag: str) -> None:
        if tag in _HTML_SKIP_TAGS and self._skip_depth > 0:
            self._skip_depth -= 1
        elif tag in _HTML_BLOCK_TAGS:
            self.parts.append("\n")

    def handle_data(self, data: str) -> None:
        if self._skip_depth == 0:
            self.parts.append(data)


def text_from_html(html_bytes: bytes | bytearray | memoryview | None) -> str:
    """Deterministic html -> text: decode utf-8 (replacement on errors), drop
    script/style subtrees, break on block tags, collapse whitespace within
    lines, join non-empty lines with a single newline. The rule is frozen so
    the same bytes always produce the same text (golden-hash tested).
    """
    if html_bytes is None:
        return ""
    raw = bytes(html_bytes).decode("utf-8", errors="replace")
    collector = _TextCollector()
    collector.feed(raw)
    collector.close()
    joined = unescape("".join(collector.parts))
    lines = [" ".join(line.split()) for line in joined.split("\n")]
    return "\n".join(line for line in lines if line)


def document_text(html_bytes: bytes | bytearray | memoryview | None, text: str | None) -> str:
    """Stage 1's text rule for one page: the html wins when present,
    otherwise the given text ("" when that is null too)."""
    return text_from_html(html_bytes) if html_bytes is not None else (text or "")


def document_row(page: dict[str, Any]) -> dict[str, Any]:
    """The documents row (DOCUMENTS_SCHEMA plus ``message_id``) of one
    webtext row. ``warc_ts`` is a naive UTC timestamp; a null one (None, or
    pandas' NaT, which is unequal to itself) gives a null ``timestamp``."""
    content = document_text(page["html"], page["text"])
    ts = page["warc_ts"]
    receivers = page["receiver_ids"]
    return {
        "doc_id": content_doc_id(content),
        "url": page["url"],
        "sender": page["sender_id"],
        "receivers": None if receivers is None else list(receivers),
        "subject": None,
        "content": content,
        "summary": fallback_summary(content),
        "timestamp": None if ts is None or ts != ts else ts.isoformat() + "+00:00",
        "source": page["source"],
        "conversation_type": page["conversation_type"],
        "conversation_id": page["conversation_id"],
        "group_id": page["group_id"],
        "lang": page["lang"],
        "message_id": page["message_id"],
    }
