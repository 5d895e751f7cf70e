"""chandra-ocr-2 payload → item table.

Re-expression of the reference's chandra VLM-output parser
(docling/utils/chandra_utils.py, exercised by tests/test_chandra_vlm.py
over tests/data/html_chandra/sources): the model emits HTML where each
layout element is a top-level
``<div data-bbox="x0 y0 x1 y1" data-label="Label">content</div>``
(bboxes in 0-1000 normalized space).  Divs with a missing/malformed
bbox or missing label are dropped (chandra_utils.py malformed-div
rule); unknown labels fall back to plain text; ``Table`` divs reuse the
HTML engine's table grid, ``List-Group`` divs split into list items,
``Page-Header``/``Page-Footer`` classify as furniture.

Same family as the DeepSeek-OCR parser (engine/deepseekx.py): the VLM
inference itself is out of scope, its textual OUTPUT format is a scan.
"""

from __future__ import annotations

import re

from docling_spark.engine.htmlx import (
    HtmlExtractor,
    Item,
    _mk_item,
    new_items,
    result,
)

_DIV_RE = re.compile(r"<div\s+([^>]*?)>(.*?)</div>", re.DOTALL)
_BBOX_RE = re.compile(r'data-bbox="(\d+)\s+(\d+)\s+(\d+)\s+(\d+)"')
_LABEL_RE = re.compile(r'data-label="([^"]+)"')
_TAG_RE = re.compile(r"<[^>]+>")
_LI_RE = re.compile(r"<li[^>]*>(.*?)</li>", re.DOTALL)

# chandra label → item label (+ content layer); unknown → ("text", body)
_LABELS = {
    "Text": ("text", "body"),
    "Title": ("title", "body"),
    "Section-Header": ("section_header", "body"),
    "Table": ("table", "body"),
    "Figure": ("picture", "body"),
    "Image": ("picture", "body"),
    "Diagram": ("picture", "body"),
    "Caption": ("caption", "body"),
    "Footnote": ("text", "body"),
    "Page-Header": ("text", "furniture"),
    "Page-Footer": ("text", "furniture"),
    "List-Group": ("list", "body"),
    "Equation-Block": ("formula", "body"),
    "Chemical-Block": ("formula", "body"),
    "Code-Block": ("code", "body"),
    "Form": ("text", "body"),
    "Table-Of-Contents": ("text", "body"),
    "Complex-Block": ("text", "body"),
    "Bibliography": ("text", "body"),
    "Blank-Page": ("text", "body"),
}


def _strip_tags(html: str) -> str:
    return " ".join(_TAG_RE.sub(" ", html).split())


def looks_like_chandra(text: str) -> bool:
    head = text[:4096]
    return "data-bbox=" in head and "data-label=" in head


def extract_chandra(payload: str) -> tuple[str, list[Item], dict]:
    """payload (chandra-ocr-2 HTML) → (extracted_text, items, metrics)."""
    items = new_items()
    hstack: list[int] = []  # current section parent

    def parent() -> int:
        return hstack[-1] if hstack else 0

    n_divs = n_kept = 0
    for m in _DIV_RE.finditer(payload):
        attrs, inner = m.group(1), m.group(2)
        n_divs += 1
        bm = _BBOX_RE.search(attrs)
        lm = _LABEL_RE.search(attrs)
        if bm is None or lm is None:
            continue  # malformed-div rule: both attributes required
        n_kept += 1
        label, layer = _LABELS.get(lm.group(1), ("text", "body"))
        if label == "table":
            ex = HtmlExtractor()
            sub = ex.extract(inner)
            tbl = next((it for it in sub if it["label"] == "table"), None)
            if tbl is not None:
                idx = _mk_item(items, parent(), "table", 1, tbl["text"],
                               layer)
                for k in ("num_rows", "num_cols"):
                    if k in tbl:
                        items[idx][k] = tbl[k]
            continue
        if label == "list":
            gidx = _mk_item(items, parent(), "list", 1, "list", layer)
            for li in _LI_RE.finditer(inner):
                t = _strip_tags(li.group(1))
                if t:
                    _mk_item(items, gidx, "list_item", 2, t, layer)
            continue
        text = _strip_tags(inner)
        if not text and label != "picture":
            continue
        if label == "picture":
            _mk_item(items, parent(), "picture", 1, "", layer)
            if text:
                _mk_item(items, parent(), "caption", 1, text, layer)
            continue
        idx = _mk_item(items, parent(), label, 1, text, layer)
        if label == "title":
            items[idx]["_hlevel"] = 1
            hstack[:] = [idx]
        elif label == "section_header":
            hm = re.search(r"<h(\d)", inner)
            items[idx]["_hlevel"] = max(2, int(hm.group(1)) if hm else 2)
            hstack[:] = [idx]

    return result(
        items, parse_score=(n_kept / n_divs) if n_divs else 1.0,
        boilerplate_ratio=(
            1.0 - sum(1 for it in items[1:]
                      if it["content_layer"] == "body")
            / max(len(items) - 1, 1) if len(items) > 1 else 0.0
        ),
    )
