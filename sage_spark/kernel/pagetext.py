"""Byte-deterministic page/document text extraction (stage 1 of the pipeline).

The north rule requires the extracted text to be byte-identical per url on
every run. All extraction here is pure bytes -> str with no environment
dependence.

Reference parity: app/utils.py:85-88 (PDF page join), 91-106 (DOCX XML walk),
app/document_ingestion.py:79-80 (TXT read), app/pipeline.py:62-132
(message-header parse), app/document_ingestion.py:21,94-109 (ID-mapping parse).
"""

from __future__ import annotations

import io
import re
import zipfile
from html import unescape
from html.parser import HTMLParser
from typing import Any, Optional
from xml.etree import ElementTree

_ID_MAPPING_RE = re.compile(r"^(EMP\d+)\s*:\s*(.*?)\s*\((.*?)\)\s*$")
_DOCX_NS = {"w": "http://schemas.openxmlformats.org/wordprocessingml/2006/main"}

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
    lines, join non-empty lines with a single newline.

    This is the engine's web-page analog of the reference's file-format
    extractors; the rule is frozen so the same bytes always produce the same
    text (golden-hash tested).
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


def text_from_txt(raw: bytes | bytearray | memoryview | None) -> str:
    """UTF-8 decode, matching Path.read_text(encoding='utf-8')
    (document_ingestion.py:79-80)."""
    if raw is None:
        return ""
    return bytes(raw).decode("utf-8")


def text_from_docx(raw: bytes | bytearray | memoryview | None) -> str:
    """DOCX body text: w:t runs joined with '' per paragraph, paragraphs
    joined with newline (utils.py:91-106) — byte-identical rule."""
    if raw is None:
        return ""
    with zipfile.ZipFile(io.BytesIO(bytes(raw))) as archive:
        with archive.open("word/document.xml") as doc_xml:
            root = ElementTree.fromstring(doc_xml.read())
    paragraphs: list[str] = []
    for para in root.findall(".//w:p", _DOCX_NS):
        runs = [node.text for node in para.findall(".//w:t", _DOCX_NS) if node.text]
        if runs:
            paragraphs.append("".join(runs))
    return "\n".join(paragraphs)


def join_pdf_pages(page_texts: list[str | None]) -> str:
    """The PDF page-join rule itself (utils.py:85-88): page texts joined with
    single spaces, falsy pages skipped. Pure and reader-independent, so the
    rule is golden-testable without a PDF library."""
    return " ".join([t for t in page_texts if t])


def text_from_pdf(
    raw: bytes | bytearray | memoryview | None,
    *,
    reader_factory=None,
    allow_basic_fallback: bool = False,
) -> str:
    """PDF text extraction = decode pages with pypdf (or any injected
    ``reader_factory(stream) -> obj with .pages[*].extract_text()``), then
    the join rule above. pypdf is not in this container, so the default
    decode is gated; the Spark-side plumbing and the join rule are real.

    ``allow_basic_fallback=True`` opts into the pure-stdlib extractor below
    when pypdf is absent. It is NOT byte-identical to pypdf's layout logic
    (the parity contract holds only on the pypdf path), so the opt-in is
    explicit."""
    if raw is None:
        return ""
    if reader_factory is None:
        try:
            from pypdf import PdfReader as reader_factory  # noqa: PLC0415, N813
        except ImportError as exc:  # pragma: no cover - environment without pypdf
            if allow_basic_fallback:
                return text_from_pdf_basic(raw)
            raise NotImplementedError(
                "PDF text extraction requires pypdf, which is not installed in "
                "this environment; install pypdf on the executors to enable it "
                "(or pass allow_basic_fallback=True for the approximate "
                "stdlib extractor)"
            ) from exc
    reader = reader_factory(io.BytesIO(bytes(raw)))
    return join_pdf_pages([page.extract_text() for page in reader.pages])


_PDF_STREAM_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n(.*?)endstream", re.DOTALL)
_PDF_TEXT_BLOCK_RE = re.compile(rb"BT(.*?)ET", re.DOTALL)
# one text-showing op: a literal (..) or hex <..> string followed by
# Tj / ' / ", or a TJ array; plus the newline-advancing positioning ops
_PDF_SHOW_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)\s*(?:Tj|'|\")"  # (literal) Tj
    rb"|<[0-9A-Fa-f\s]*>\s*(?:Tj|'|\")"  # <hex> Tj
    rb"|\[(?:\\.|[^\]])*\]\s*TJ"  # [ ... ] TJ
    rb"|T\*|TD|Td",
    re.DOTALL,
)
_PDF_STR_IN_ARRAY_RE = re.compile(rb"\((?:\\.|[^\\()])*\)|<[0-9A-Fa-f\s]*>", re.DOTALL)
_PDF_ESCAPE_RE = re.compile(rb"\\([nrtbf()\\]|[0-7]{1,3})")
_PDF_ESCAPE_MAP = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _pdf_literal_bytes(token: bytes) -> bytes:
    """Decode one PDF string token — ``(literal)`` with escapes/octals, or
    ``<hex>`` — to raw bytes."""
    if token.startswith(b"("):
        body = token[1:-1]
        return _PDF_ESCAPE_RE.sub(
            lambda m: _PDF_ESCAPE_MAP.get(m.group(1))
            or bytes([int(m.group(1), 8) & 0xFF]),
            body,
        )
    hexbody = re.sub(rb"\s", b"", token[1:-1])
    if len(hexbody) % 2:
        hexbody += b"0"
    return bytes.fromhex(hexbody.decode("ascii"))


def text_from_pdf_basic(raw: bytes | bytearray | memoryview | None) -> str:
    """Approximate pure-stdlib PDF text extraction: walks every content
    stream (plain or FlateDecode via zlib), pulls the strings shown by the
    Tj / ' / " / TJ operators inside BT..ET text blocks (literal and hex
    forms, escape/octal decoding), and treats T*/Td/TD line advances as
    newlines. Each content stream is one "page" for the reference's
    space-join rule (utils.py:85-88). Handles single-byte encodings only
    (no CMap/ToUnicode) — the explicitly-opt-in stand-in for pypdf, not a
    parity path."""
    if raw is None:
        return ""
    data = bytes(raw)
    pages: list[str] = []
    for m in _PDF_STREAM_RE.finditer(data):
        params, body = m.group(1), m.group(2)
        if body.endswith(b"\r\n"):
            body = body[:-2]
        elif body.endswith(b"\n") or body.endswith(b"\r"):
            body = body[:-1]
        if b"/FlateDecode" in params:
            import zlib

            try:
                body = zlib.decompress(body)
            except zlib.error:
                continue
        elif b"/Filter" in params:
            continue  # unsupported filter (DCT, LZW, ...): skip the stream
        parts: list[str] = []
        for block in _PDF_TEXT_BLOCK_RE.finditer(body):
            for op in _PDF_SHOW_RE.finditer(block.group(1)):
                tok = op.group(0)
                if tok in (b"T*", b"TD", b"Td"):
                    if parts and not parts[-1].endswith("\n"):
                        parts.append("\n")
                    continue
                if tok.rstrip().endswith(b"TJ"):
                    arr = tok[: tok.rindex(b"]")]
                    text = b"".join(
                        _pdf_literal_bytes(s.group(0))
                        for s in _PDF_STR_IN_ARRAY_RE.finditer(arr)
                    )
                else:
                    str_end = max(tok.rfind(b")"), tok.rfind(b">"))
                    text = _pdf_literal_bytes(tok[: str_end + 1])
                parts.append(text.decode("latin-1"))
        page = "".join(parts).strip()
        if page:
            pages.append(page)
    return join_pdf_pages(pages)


def extract_page_text(payload: bytes | None, media_type: str = "html") -> str:
    dispatch = {
        "html": text_from_html,
        "txt": text_from_txt,
        "docx": text_from_docx,
        "pdf": text_from_pdf,
    }
    handler = dispatch.get(media_type)
    if handler is None:
        raise ValueError(f"unsupported media type: {media_type}")
    return handler(payload)


def parse_id_mappings(text: str) -> list[dict[str, str]]:
    """Parse the "ID Mappings" dimension format (document_ingestion.py:94-109):
    one ``EMP###: Name (Role)`` per line, header line "IDs" skipped."""
    out: list[dict[str, str]] = []
    for line in text.splitlines():
        line = line.strip()
        if not line or line.lower().startswith("ids"):
            continue
        m = _ID_MAPPING_RE.match(line)
        if m:
            out.append({"id": m.group(1), "name": m.group(2), "role": m.group(3)})
    return out


_HEADER_KEYS = {
    "sender id": "sender",
    "receiver": "receivers",
    "subject": "subject",
    "sent time": "timestamp",
    "attachment": "attachment_name",
}


def parse_message_headers(text: str) -> dict[str, Any]:
    """Line-oriented message-file parse (pipeline.py:62-132): ``Sender ID:``,
    ``Receiver:``, ``Subject:``, ``Message:``, ``Sent Time:``,
    ``Attachment:`` headers with a multi-line body; falls back to
    body-after-subject and synthesizes a 5-word subject when missing."""
    fields: dict[str, Any] = {
        "sender": None,
        "receivers": [],
        "subject": None,
        "content": None,
        "timestamp": None,
        "attachment_name": None,
    }
    body_lines: list[str] = []
    in_message = False
    after_subject: list[str] = []
    saw_subject = False
    for line in text.splitlines():
        stripped = line.strip()
        lowered = stripped.lower()
        matched_header: Optional[str] = None
        for prefix, field_name in _HEADER_KEYS.items():
            if lowered.startswith(prefix + ":"):
                matched_header = field_name
                value = stripped[len(prefix) + 1:].strip()
                if field_name == "receivers":
                    fields["receivers"] = [r.strip() for r in value.split(",") if r.strip()]
                else:
                    fields[field_name] = value or None
                in_message = False
                if field_name == "subject":
                    saw_subject = True
                break
        if matched_header:
            continue
        if lowered.startswith("message:"):
            in_message = True
            first = stripped[len("message:"):].strip()
            if first:
                body_lines.append(first)
            continue
        if in_message:
            body_lines.append(line.rstrip())
        elif saw_subject and stripped:
            after_subject.append(stripped)

    content = "\n".join(body_lines).strip()
    if not content and after_subject:
        content = "\n".join(after_subject).strip()
    fields["content"] = content or None
    if not fields["subject"] and content:
        fields["subject"] = " ".join(content.split()[:5])
    return fields
