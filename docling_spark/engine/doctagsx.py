"""DocTags payload → item table (the inverse of engine/serialize.py).

The reference's VLM conversion pipeline turns a SmolDocling-style
DocTags answer into a document via docling-core's DocTagsDocument
(docling/pipeline/vlm_pipeline.py:447-465,
``DoclingDocument.load_from_doctags``); the grammar is the one our
DocTags sink emits and is pinned here against the reference's own
parallel groundtruth exports: for every ``<doc>.doctags.txt`` the
re-serialized markdown must equal the sibling ``<doc>.md``
(tests/test_doctagsx_groundtruth.py).

Grammar handled (observed across the 61 reference groundtruth files):

- ``<doctag>`` blocks; ``<page_break>`` page separators
- ``<loc_N>`` provenance tokens (stripped, page_no kept per item)
- text-bearing items: text, title, section_header_level_N (md heading
  rank N+1), list_item, caption, footnote, formula (empty text →
  not-decoded marker), checkbox_selected/_unselected,
  page_header/page_footer (furniture layer)
- ``<ordered_list>`` / ``<unordered_list>`` groups of list_items
- ``<code>`` with an optional ``<_language_>`` token and an optional
  nested ``<caption>`` (rendered AFTER the block in md, unlike
  pictures/tables where the caption renders before)
- ``<picture>`` with nested ``<caption>`` and optional classifier
  tokens; ``<otsl>`` grids (fcel/ched/rhed/ecel + lcel/ucel/xcel span
  continuations + nl) with nested ``<caption>``; spanned grid
  positions repeat their owning cell's text, exactly the md table
  export's fill

Unknown angle-bracket sequences inside an item's body (literal
``<td>`` in running text, e.g. the OTSL paper) are content, not
markup: only the declared top-level tags delimit items.
"""

from __future__ import annotations

import re

from docling_spark.engine.htmlx import _mk_item, new_items, result


class DocTagsError(ValueError):
    pass


_LOC_RE = re.compile(r"<loc_\d+>")
_LANG_RE = re.compile(r"^<_([^_>]+)_>")

# text-bearing leaf tags → (item label, content layer)
_LEAF = {
    "text": ("text", "body"),
    "paragraph": ("text", "body"),
    "title": ("title", "body"),
    "caption": ("caption", "body"),
    "footnote": ("footnote", "body"),
    "formula": ("formula", "body"),
    "checkbox_selected": ("checkbox_selected", "body"),
    "checkbox_unselected": ("checkbox_unselected", "body"),
    "page_header": ("page_header", "furniture"),
    "page_footer": ("page_footer", "furniture"),
    "list_item": ("list_item", "body"),
}

_TOP_TAGS = sorted(
    list(_LEAF) + ["section_header_level_\\d+", "ordered_list",
                   "unordered_list", "otsl", "picture", "code",
                   "page_break"],
    key=len, reverse=True)
_TOP_RE = re.compile("<(" + "|".join(_TOP_TAGS) + ")>")

_CAPTION_RE = re.compile(r"<caption>(.*?)</caption>", re.S)
_OTSL_CELL_RE = re.compile(r"<(fcel|ched|rhed|ecel|lcel|ucel|xcel|nl)>")


def _clean(text: str) -> str:
    return _LOC_RE.sub("", text).strip()


def _md_escape(text: str) -> str:
    """docling-core md-export escaping (same rules as jsonx._md_piece):
    HTML-escape &/</>, backslash-escape bare underscores. Applied to
    every text part except code (verbatim fenced) and formula (verbatim
    LaTeX) — pinned by the reference's literal ``<td>`` running text
    (2305.03393v1.md → ``&lt;td&gt;``) and ``QIBM\\_DB\\_SECADM``
    (redp5110_sampled.md)."""
    text = (text.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))
    return re.sub(r"(?<!\\)_", r"\\_", text)


def _ctext(text: str) -> str:
    return _md_escape(_clean(text))


def _otsl_grid(body: str) -> str:
    """OTSL cell tokens → markdown pipe grid. Span continuations copy
    the owning cell's text (lcel ← left, ucel ← above, xcel ← both),
    matching the md table export's repeated fill; the dash separator
    follows row 0."""
    rows: list[list[str]] = [[]]
    parts = _OTSL_CELL_RE.split(body)
    # parts = [prefix, tag, content, tag, content, ...]
    for i in range(1, len(parts), 2):
        tag = parts[i]
        content = _clean(parts[i + 1]) if i + 1 < len(parts) else ""
        row = rows[-1]
        if tag == "nl":
            rows.append([])
            continue
        if tag in ("fcel", "ched", "rhed"):
            cell = content
        elif tag == "ecel":
            cell = ""
        elif tag == "lcel":
            cell = row[-1] if row else ""
        else:  # ucel / xcel: copy from the row above, same column
            prev = rows[-2] if len(rows) > 1 else []
            c = len(row)
            cell = prev[c] if c < len(prev) else ""
        # md table cells escape ONLY the pipe delimiter — underscores
        # stay raw in the export (redp5110_sampled.md QIBM_DB_DDMDRDA)
        row.append(cell.replace("|", "&#124;"))
    grid = [r for r in rows if r]
    if not grid:
        return ""
    ncols = max(len(r) for r in grid)
    lines = []
    for ri, r in enumerate(grid):
        padded = r + [""] * (ncols - len(r))
        lines.append("| " + " | ".join(padded) + " |")
        if ri == 0:
            lines.append("| " + " | ".join("-" for _ in padded) + " |")
    return "\n".join(lines)


def extract_doctags(payload: str) -> tuple[str, list[dict], dict]:
    """payload → (extracted_text, items, metrics)."""
    if "<doctag>" not in payload:
        raise DocTagsError("no <doctag> block")
    # one <doctag> block per PAGE (the VLM pipeline's shape,
    # vlm_pipeline.py:447-465: DocTagsDocument.from_doctags_and_image_pairs
    # assigns a page per block) — join blocks with an explicit page_break
    # so the page counter advances between them
    body = "\n<page_break>\n".join(
        m.group(1) for m in
        re.finditer(r"<doctag>(.*?)(?:</doctag>|$)", payload, re.S))

    items = new_items()
    page = 1
    n_pages = 1

    def leaf(label: str, layer: str, text: str, parent: int = 0,
             level: int = 1) -> int:
        idx = _mk_item(items, parent, label, level, text, layer)
        items[idx]["page_no"] = page
        return idx

    pos = 0
    stray_list: int | None = None  # open implicit group for bare list_items
    while True:
        m = _TOP_RE.search(body, pos)
        if m is None:
            break
        tag = m.group(1)
        pos = m.end()
        if tag == "page_break":
            page += 1
            n_pages += 1
            continue
        if tag != "list_item":
            stray_list = None
        close = f"</{tag}>"
        end = body.find(close, pos)
        if end < 0:
            end = len(body)
        content = body[pos:end]
        pos = end + len(close) if end < len(body) else len(body)

        if tag.startswith("section_header_level_"):
            hlevel = int(tag.rsplit("_", 1)[1])
            idx = leaf("section_header", "body", _ctext(content))
            # md heading rank is level+1 (docling-core md serializer;
            # level 1 → '##'), carried via the html-engine's _hlevel
            items[idx]["_hlevel"] = hlevel + 1
        elif tag in ("ordered_list", "unordered_list"):
            gtext = "ordered list" if tag == "ordered_list" else "list"
            gidx = leaf("list", "body", gtext)
            for lm in re.finditer(r"<list_item>(.*?)</list_item>",
                                  content, re.S):
                leaf("list_item", "body", _ctext(lm.group(1)),
                     parent=gidx, level=2)
        elif tag == "picture":
            cap = _CAPTION_RE.search(content)
            cap_idx = None
            if cap and _clean(cap.group(1)):
                cap_idx = leaf("caption", "body", _ctext(cap.group(1)))
            idx = leaf("picture", "body", "")
            if cap_idx is not None:
                items[idx]["_cap_ref"] = cap_idx
        elif tag == "otsl":
            cap = _CAPTION_RE.search(content)
            if cap and _clean(cap.group(1)):
                # table captions render BEFORE the grid in md
                leaf("caption", "body", _ctext(cap.group(1)))
            grid = _otsl_grid(_CAPTION_RE.sub("", content))
            leaf("table", "body", grid)
        elif tag == "code":
            cap = _CAPTION_RE.search(content)
            code_body = _CAPTION_RE.sub("", content)
            code_text = _LOC_RE.sub("", code_body)
            lang = None
            lm = _LANG_RE.match(code_text.strip())
            if lm:
                lang = lm.group(1)
                code_text = _LANG_RE.sub("", code_text.strip(), count=1)
            idx = leaf("code", "body", code_text.strip())
            if lang and lang != "unknown":
                items[idx]["code_language"] = lang
            if cap and _clean(cap.group(1)):
                # code captions render AFTER the block in md
                leaf("caption", "body", _ctext(cap.group(1)))
        elif tag == "formula":
            leaf("formula", "body", _clean(content))
        elif tag == "list_item":
            # a bare list_item outside a group: consecutive ones share
            # one implicit unordered group
            if stray_list is None:
                stray_list = leaf("list", "body", "list")
            leaf("list_item", "body", _ctext(content),
                 parent=stray_list, level=2)
        else:
            label, layer = _LEAF[tag]
            leaf(label, layer, _ctext(content))

    n_body = sum(1 for it in items[1:] if it["content_layer"] == "body")
    return result(
        items, pages_parsed=n_pages,
        boilerplate_ratio=round(1.0 - n_body / max(len(items) - 1, 1), 6),
    )
