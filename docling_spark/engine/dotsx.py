"""dots.ocr / dots.mocr JSON payload → item table.

Re-expression of the reference's dots VLM-output parser
(docling/utils/dots_utils.py, exercised by tests/test_dots_parser.py):
a JSON array of ``{"bbox": [x1,y1,x2,y2], "category": Label,
"text": ...}`` elements.  Truncation-tolerant cleanup (strip leading
garbage before ``[``, close the array after the last ``}``); elements
with a missing/malformed bbox are dropped; Tables arrive as HTML and
reuse the HTML engine's grid; consecutive List-item elements group into
one list; Page-header/footer classify as furniture; Pictures carry no
text.  Title/Section-header texts drop a leading markdown hash run the
model sometimes emits (the reference stores it verbatim, which doubles
the hashes in its own md export — normalized here).
"""

from __future__ import annotations

import json
import re

from docling_spark.engine.htmlx import (
    HtmlExtractor,
    Item,
    _mk_item,
    new_items,
    result,
)

_FURNITURE = {"Page-header", "Page-footer"}
_HASH_RE = re.compile(r"^#{1,6}\s+")


def _clean_json(raw: str) -> str:
    """Best-effort cleanup of truncated model output
    (dots_utils.py:_clean_json)."""
    idx = raw.find("[")
    if idx == -1:
        return "[]"
    raw = raw[idx:]
    stripped = raw.rstrip()
    if not stripped.endswith("]"):
        last = stripped.rfind("}")
        if last == -1:
            return "[]"
        raw = stripped[:last + 1] + "]"
    return raw


def extract_dots(payload: str) -> tuple[str, list[Item], dict]:
    """payload (dots.ocr JSON) → (extracted_text, items, metrics)."""
    items = new_items()
    if not payload or not payload.strip():
        return result(items, "")
    try:
        elements = json.loads(_clean_json(payload))
    except json.JSONDecodeError:
        elements = []
    if not isinstance(elements, list):
        elements = []

    hstack: list[int] = []
    list_group: int | None = None
    n_seen = n_kept = 0

    def parent() -> int:
        return hstack[-1] if hstack else 0

    for elem in elements:
        if not isinstance(elem, dict):
            continue
        n_seen += 1
        bbox = elem.get("bbox")
        if not isinstance(bbox, list) or len(bbox) != 4:
            continue
        try:
            [float(v) for v in bbox]
        except (TypeError, ValueError):
            continue
        n_kept += 1
        category = elem.get("category", "")
        text = str(elem.get("text", "") or "")
        if category != "List-item":
            list_group = None
        if category == "Table":
            ex = HtmlExtractor()
            sub = ex.extract(text)
            tbl = next((it for it in sub if it["label"] == "table"), None)
            if tbl is not None:
                idx = _mk_item(items, parent(), "table", 1, tbl["text"],
                               "body")
                for k in ("num_rows", "num_cols"):
                    if k in tbl:
                        items[idx][k] = tbl[k]
        elif category == "Picture":
            _mk_item(items, parent(), "picture", 1, "", "body")
        elif category == "Title":
            t = _HASH_RE.sub("", " ".join(text.split()))
            idx = _mk_item(items, 0, "title", 1, t, "body")
            items[idx]["_hlevel"] = 1
            hstack[:] = [idx]
        elif category == "Section-header":
            t = _HASH_RE.sub("", " ".join(text.split()))
            idx = _mk_item(items, 0, "section_header", 1, t, "body")
            items[idx]["_hlevel"] = 2
            hstack[:] = [idx]
        elif category == "List-item":
            if list_group is None:
                list_group = _mk_item(items, parent(), "list", 1, "list",
                                      "body")
            _mk_item(items, list_group, "list_item", 2,
                     " ".join(text.split()), "body")
        elif category == "Formula":
            t = " ".join(text.split())
            if t:
                _mk_item(items, parent(), "formula", 1, t, "body")
        else:
            layer = "furniture" if category in _FURNITURE else "body"
            t = " ".join(text.split())
            if t:
                _mk_item(items, parent(), "text", 1, t, layer)

    n_body = sum(1 for it in items[1:] if it["content_layer"] == "body")
    return result(
        items, parse_score=(n_kept / n_seen) if n_seen else 1.0,
        boilerplate_ratio=(
            1.0 - n_body / max(len(items) - 1, 1) if len(items) > 1
            else 0.0
        ),
    )
