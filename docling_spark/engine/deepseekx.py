"""DeepSeek-OCR annotated-markdown payload → item table.

Re-expression of the reference's DeepSeek-OCR page parser
(docling/utils/deepseekocr_utils.py:231-389 parse_deepseekocr_markdown):
VLM output lines of the form ``<|ref|>label<|/ref|><|det|>[[x1,y1,x2,y2]]
<|/det|>`` (or bare ``label[[...]]``) announce the NEXT content line(s) as
an annotated item. Unannotated content is dropped (it belongs to no
detected region). Pinned against tests/data/md_deepseek groundtruth.

Labels: text, title (leading #s stripped), sub_title (level from #s),
table (inner <table> HTML → grid), table_caption/figure_caption (attach
to the preceding or following table/figure), figure/image (placeholder),
header/footer (furniture).
"""

from __future__ import annotations

import re

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result

_ANNOT_RE = re.compile(
    r"^(?:<\|ref\|>)?(\w+)(?:<\|/ref\|>)?(?:<\|det\|>)?"
    r"\[\[([0-9., ]+)\]\](?:<\|/det\|>)?\s*$"
)
_SNIFF_RE = re.compile(r"<\|ref\|>\w+<\|/ref\|><\|det\|>\[\[")

_FURNITURE = {"header", "footer"}
_CAPTIONS = {"table_caption", "figure_caption", "image_caption"}
_MEDIA = {"figure", "image"}


def looks_like_deepseek(text: str) -> bool:
    return bool(_SNIFF_RE.search(text[:8192]))


def _table_html_to_md(html: str) -> str:
    from docling_spark.engine.htmlx import HtmlExtractor

    items = HtmlExtractor(infer_furniture=False).extract(html)
    for it in items:
        if it["label"] == "table":
            return it["text"]
    return ""


def _collect_content(lines: list[str], i: int, label: str,
                     visited: set[int]) -> tuple[str, int]:
    out: list[str] = []
    if label == "table":
        started = False
        ii = i
        while ii < len(lines):
            line = lines[ii]
            if "<table" in line.lower():
                started = True
            if started:
                visited.add(ii)
                out.append(line.rstrip())
            if started and "</table>" in line.lower():
                break
            ii += 1
        return "\n".join(out), i
    while i < len(lines):
        line = lines[i].strip()
        if line:
            if _ANNOT_RE.match(line):
                break
            visited.add(i)
            out.append(lines[i].rstrip())
            i += 1
            if label not in _MEDIA:
                break
        else:
            i += 1
            if out:
                break
    return "\n".join(out), i


def _clean_hashes(content: str) -> tuple[int, str]:
    n = 0
    for ch in content:
        if ch == "#":
            n += 1
        else:
            break
    return n, content[n:].strip()


def extract_deepseek(payload: str) -> tuple[str, list[Item], dict]:
    """payload → (extracted_text, items, metrics)."""
    lines = payload.split("\n")
    annotations: list[tuple[str, str]] = []
    visited: set[int] = set()
    i = 0
    while i < len(lines):
        if i in visited:
            i += 1
            continue
        m = _ANNOT_RE.match(lines[i].strip())
        if m:
            label = m.group(1)
            coords = m.group(2).split(",")
            if len(coords) == 4:
                i += 1
                content, i = _collect_content(lines, i, label, visited)
                annotations.append((label, content))
                continue
        i += 1

    items = new_items()

    def _text_md(t: str) -> str:
        t = " ".join(t.split())
        return (t.replace("&", "&amp;").replace("<", "&lt;")
                .replace(">", "&gt;").replace("_", "\\_"))

    for idx, (label, content) in enumerate(annotations):
        # a caption directly after its table/figure was consumed there
        if label in _CAPTIONS and idx > 0:
            prev = annotations[idx - 1][0]
            if (label == "table_caption" and prev == "table") or \
                    (label == "figure_caption" and prev == "figure") or \
                    (label == "image_caption" and prev == "image"):
                continue
        layer = "furniture" if label in _FURNITURE else "body"
        caption_after = None
        if label in ("table", "figure", "image") and \
                idx + 1 < len(annotations):
            nxt_label, nxt_content = annotations[idx + 1]
            if nxt_label == f"{label}_caption":
                caption_after = nxt_content
        if label == "title":
            _n, clean = _clean_hashes(content)
            idx2 = _mk_item(items, 0, "title", 1, _text_md(clean), layer)
            items[idx2]["_hlevel"] = 1
        elif label == "sub_title":
            n, clean = _clean_hashes(content)
            level = max(1, n - 1) if n > 1 else 1
            idx2 = _mk_item(items, 0, "section_header", 1,
                            _text_md(clean), layer)
            items[idx2]["_hlevel"] = level + 1
        elif label == "table":
            if caption_after:
                _mk_item(items, 0, "caption", 1, _text_md(caption_after),
                         layer)
            md = _table_html_to_md(content)
            if md:
                _mk_item(items, 0, "table", 1, md, layer)
        elif label in _MEDIA:
            if caption_after:
                _mk_item(items, 0, "caption", 1, _text_md(caption_after),
                         layer)
            _mk_item(items, 0, "picture", 1, "", layer)
        else:  # text / caption-without-owner / header / footer
            t = _text_md(content)
            if t:
                lbl = "caption" if label in _CAPTIONS else "text"
                _mk_item(items, 0, lbl, 1, t, layer)

    return result(items)
