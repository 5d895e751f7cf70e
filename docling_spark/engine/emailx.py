"""RFC-822 email extraction (stdlib ``email`` package — no mail-parser).

Re-expression of the reference's email backend
(docling/backend/email_backend.py:90-176): Subject becomes the title;
``From: ...``, ``To: ...``, ``Date: ...`` become text items (addresses
formatted ``Name <addr>`` or bare ``addr``, joined ", "; date ISO-8601 when
parseable, raw otherwise); the body is the text/plain parts split into
paragraphs on blank lines, falling back to text/html parts routed through
the HTML engine (email_backend.py:99-131), then the raw payload.

Pure Python; runs inside the extraction pandas UDF.
"""

from __future__ import annotations

import re
from email.header import decode_header
from email.parser import Parser
from email.utils import getaddresses, parsedate_to_datetime

from docling_spark.engine.htmlx import new_items, result

_PARA_SPLIT = re.compile(r"\n\s*\n+")

# header sniff for format routing: at least two of these at line starts in
# the header block (before the first blank line)
_HEADER_KEYS = ("from:", "to:", "subject:", "date:", "mime-version:",
                "received:", "message-id:", "cc:")


class EmailError(ValueError):
    pass


def looks_like_email(text: str) -> bool:
    head = text.split("\n\n", 1)[0]
    if ":" not in head:  # no colon → no header line possible (exact gate)
        return False
    hits = 0
    for ln in head.lower().splitlines():
        if ln.startswith(_HEADER_KEYS):
            hits += 1
            if hits >= 2:
                return True
    return False


def _format_addresses(raw: str | None) -> str:
    """mailparser-style address formatting (email_backend.py:77-90)."""
    if not raw:
        return ""
    formatted = []
    for name, addr in getaddresses([raw]):
        if not (name or addr):
            continue
        formatted.append(f"{name} <{addr}>" if name else addr)
    return ", ".join(formatted)


def _date_text(raw: str | None) -> str:
    if not raw:
        return ""
    try:
        d = parsedate_to_datetime(raw)
        return d.isoformat() if d else raw.strip()
    except (TypeError, ValueError):
        return raw.strip()


def _split_paragraphs(text: str) -> list[str]:
    return [p.strip() for p in _PARA_SPLIT.split(text.strip()) if p.strip()]


def _decode_hdr(raw: str | None) -> str:
    """Raw header → text; RFC-2047 encoded-words decoded only when present
    (the compat32 policy keeps headers as raw strings — the default policy's
    header registry costs ~70% of parse time and is unneeded here)."""
    if not raw:
        return ""
    if "=?" not in raw:
        return raw
    parts = []
    for chunk, charset in decode_header(raw):
        if isinstance(chunk, bytes):
            chunk = chunk.decode(charset or "utf-8", errors="replace")
        parts.append(chunk)
    return "".join(parts)


def _part_text(part) -> str | None:
    payload = part.get_payload(decode=True)
    if payload is None:
        raw = part.get_payload()
        return raw if isinstance(raw, str) else None
    charset = part.get_content_charset() or "utf-8"
    try:
        return payload.decode(charset, errors="replace")
    except LookupError:
        return payload.decode("utf-8", errors="replace")


def _body_paragraphs(msg) -> list[str]:
    plains: list[str] = []
    htmls: list[str] = []
    parts = msg.walk() if msg.is_multipart() else [msg]
    for part in parts:
        if part.is_multipart():
            continue
        # attachments are not body text (mailparser's text_plain excludes
        # them); they stay opaque — the multimodal binary-column path
        disp = (part.get("Content-Disposition") or "").lower()
        if disp.startswith("attachment") or part.get_filename():
            continue
        ctype = part.get_content_type()
        if ctype not in ("text/plain", "text/html"):
            continue
        payload = _part_text(part)
        if payload is None:
            continue
        if ctype == "text/plain":
            plains.append(payload)
        else:
            htmls.append(payload)
    if plains:
        out: list[str] = []
        for p in plains:
            out.extend(_split_paragraphs(p))
        return out
    if htmls:
        from docling_spark.engine.htmlx import extract_html

        out = []
        for h in htmls:
            md, _items = extract_html(h)
            out.extend(_split_paragraphs(md))
        return out
    # raw fallback (reference email_backend.py _get_body_paragraphs falls
    # back to mail.body): a message with no text/plain or text/html part —
    # e.g. an unlabeled or exotic content type — still yields its decoded
    # top-level payload rather than losing the body (ADVICE r1)
    if not msg.is_multipart():
        raw = _part_text(msg)
        if raw and raw.strip():
            return _split_paragraphs(raw)
    return []


def extract_email(payload: str) -> tuple[str, list[dict], dict]:
    """email payload → (markdown_text, items, metrics) in the engine's
    flat item schema."""
    if not looks_like_email(payload):
        raise EmailError("not an RFC-822 message (missing header block)")
    msg = Parser().parsestr(payload)

    subject = _decode_hdr(msg.get("Subject")).strip()
    from_text = _format_addresses(_decode_hdr(msg.get("From")))
    to_text = _format_addresses(_decode_hdr(msg.get("To")))
    date_text = _date_text(msg.get("Date"))
    paragraphs = _body_paragraphs(msg)

    items = new_items()
    out_parts: list[str] = []
    pos = 0
    parent = 0

    def _append(label: str, text: str, rendered: str, par: int) -> int:
        nonlocal pos
        if out_parts:
            pos += 2
        span = (pos, pos + len(rendered))
        pos = span[1]
        out_parts.append(rendered)
        idx = len(items)
        items.append(
            dict(item_idx=idx, parent_idx=par, label=label,
                 level=1 if par == 0 else 2, text=text,
                 content_layer="body", span_start=span[0], span_end=span[1])
        )
        return idx

    if subject:
        parent = _append("title", subject, "# " + subject, 0)
    for meta in (f"From: {from_text}" if from_text else "",
                 f"To: {to_text}" if to_text else "",
                 f"Date: {date_text}" if date_text else ""):
        if meta:
            _append("text", meta, meta, parent)
    for p in paragraphs:
        _append("text", p, p, parent)

    return result(items, "\n\n".join(out_parts))
