"""AsciiDoc extraction: regex line parser → item tree → markdown.

Re-expression of the reference's AsciiDoc backend
(docling/backend/asciidoc_backend.py:86-457), porting its exact rules:

- title ``= `` (level 0), section headers ``==+`` with the parent-level
  stack (asciidoc_backend.py:120-131) — including its quirk that a header
  whose parent level is unset attaches to the ROOT and therefore
  serializes after the main tree (visible in the reference groundtruth
  asciidoc_02.md);
- lists with indent-driven nesting via the parents/indents dicts
  (asciidoc_backend.py:133-170); ordered markers render as ``-`` in md
  (the reference's list groups don't track numbering);
- tables: ``|===`` fences or bare ``|...|`` lines; cell format specifiers
  (``^.^h|``) stripped (asciidoc_backend.py:363-375); rows padded to the
  widest row; row 0 is the header;
- ``image::path[attrs]`` pictures (root-attached, like the reference),
  ``.Caption`` lines with multiline accumulation, blank-line-flushed
  multiline paragraphs.

Markdown serialization matches docling-core's export for this item mix
(verified bit-for-bit against tests/data/asciidoc/groundtruth/*.md):
``&``/``<``/``>`` html-escaped and ``_`` backslash-escaped; captions
render before their table/picture; no unicode cleaning (unlike HTML).

Pure Python; runs inside the extraction pandas UDF.
"""

from __future__ import annotations

import re

from docling_spark.engine.htmlx import new_items, result

_CELL_SPEC = r"(?:\d+(?:\.\d+)?[*+])*[<^>]?(?:\.[<^>])?[adehlms]?"

_TITLE_RE = re.compile(r"^= ")
_SECTION_RE = re.compile(r"^(=+)\s+(.*)")
_IS_SECTION_RE = re.compile(r"^==+\s+")
_LIST_DETECT_RE = re.compile(r"^(\s)*(\*|-|\d+\.|\w+\.) ")
_LIST_PARSE_RE = re.compile(r"^(\s*)(\*|-|\d+\.)\s+(.*)")
_TABLE_LINE_RE = re.compile(rf"^{_CELL_SPEC}\|.*\|")
_CELL_SPEC_STRIP_RE = re.compile(rf"(^|\s){_CELL_SPEC}(?=\|)")
_PICTURE_RE = re.compile(r"^image::")
_CAPTION_RE = re.compile(r"^\.(.+)")


def _mk(items: list[dict], parent: int, label: str, text: str) -> int:
    level = items[parent]["level"] + 1 if parent >= 0 else 0
    idx = len(items)
    items.append(
        dict(item_idx=idx, parent_idx=parent, label=label, level=level,
             text=text, content_layer="body", span_start=-1, span_end=-1)
    )
    return idx


def extract_asciidoc(payload: str) -> tuple[str, list[dict], dict]:
    lines = payload.split("\n")
    items = new_items()
    # level → item_idx (None = unset), mirroring the reference's parents dict
    parents: dict[int, int | None] = {i: None for i in range(10)}
    indents: dict[int, int | None] = {i: None for i in range(10)}

    def cur_level() -> int:
        for k in range(1, 10):
            if parents[k] is None:
                return k - 1
        return 0

    def cur_parent() -> int:
        for k in range(1, 10):
            if parents[k] is None:
                p = parents[k - 1]
                return p if p is not None else 0
        return 0

    in_list = False
    in_table = False
    text_data: list[str] = []
    table_data: list[list[str]] = []
    caption_data: list[str] = []
    pending_caption: int | None = None

    def flush_caption() -> int | None:
        nonlocal caption_data
        if caption_data:
            idx = _mk(items, cur_parent(), "caption", " ".join(caption_data))
            caption_data = []
            return idx
        return None

    def flush_table() -> None:
        nonlocal in_table, table_data
        cap = flush_caption()
        ncols = max((len(r) for r in table_data), default=0)
        grid = [r + [""] * (ncols - len(r)) for r in table_data]
        md_lines = []
        for ri, row in enumerate(grid):
            md_lines.append("| " + " | ".join(row) + " |")
            if ri == 0:
                md_lines.append("| " + " | ".join("-" for _ in row) + " |")
        t = _mk(items, cur_parent(), "table", "\n".join(md_lines))
        if cap is not None:
            items[t]["caption_idx"] = cap
        in_table = False
        table_data = []

    for line in lines:
        if _TITLE_RE.match(line):
            parents[0] = _mk(items, 0, "title", line[2:].strip())

        elif _IS_SECTION_RE.match(line):
            m = _SECTION_RE.match(line)
            level = m.group(1).count("=") - 1
            p = parents[level - 1]
            parents[level] = _mk(items, p if p is not None else 0,
                                 "section_header", m.group(2).strip())
            items[parents[level]]["header_level"] = level
            for k in range(level + 1, 10):
                parents[k] = None

        elif _LIST_DETECT_RE.match(line):
            m = _LIST_PARSE_RE.match(line)
            if m:
                indent, text = len(m.group(1)), m.group(3).strip()
            else:
                indent, text = 0, line
            level = cur_level()
            if not in_list:
                in_list = True
                p = parents[level]
                parents[level + 1] = _mk(items, p if p is not None else 0,
                                         "list", "list")
                indents[level + 1] = indent
            elif in_list and indents[level] is not None and indent > indents[level]:
                p = parents[level]
                parents[level + 1] = _mk(items, p if p is not None else 0,
                                         "list", "list")
                indents[level + 1] = indent
            elif in_list and indents[level] is not None and indent < indents[level]:
                while indents[level] is not None and indent < indents[level]:
                    parents[level] = None
                    indents[level] = None
                    level -= 1
            _mk(items, cur_parent(), "list_item", text)

        elif in_list:  # non-list line closes the list (line consumed,
            # mirroring the reference's elif chain)
            in_list = False
            parents[cur_level()] = None

        elif line.strip() == "|===" and not in_table:
            in_table = True

        elif _TABLE_LINE_RE.match(line):
            in_table = True
            stripped = _CELL_SPEC_STRIP_RE.sub(r"\1", line)
            table_data.append([c.strip() for c in stripped.split("|")[1:]])

        elif in_table:
            flush_table()

        elif _PICTURE_RE.match(line):
            cap = flush_caption()
            p = _mk(items, 0, "picture", "")
            if cap is not None:
                items[p]["caption_idx"] = cap

        elif _CAPTION_RE.match(line) and not caption_data:
            caption_data.append(_CAPTION_RE.match(line).group(1))

        elif line.strip() and caption_data:
            caption_data.append(line.strip())

        elif not line.strip() and text_data:
            _mk(items, cur_parent(), "text", " ".join(text_data))
            text_data = []

        elif line.strip():
            text_data.append(line.strip())

    if text_data:
        _mk(items, cur_parent(), "text", " ".join(text_data))
    if in_table and table_data:
        flush_table()

    return result(items, _serialize_md(items))


def _escape(text: str) -> str:
    return (
        text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("_", "\\_")
    )


def _serialize_md(items: list[dict]) -> str:
    by_parent: dict[int, list[dict]] = {}
    for it in items:
        if it["parent_idx"] >= 0:
            by_parent.setdefault(it["parent_idx"], []).append(it)
    captioned = {
        it["caption_idx"] for it in items if it.get("caption_idx") is not None
    }
    blocks: list[str] = []

    def list_block(it: dict, depth: int) -> list[str]:
        out = []
        for k in by_parent.get(it["item_idx"], []):
            if k["label"] == "list_item":
                out.append("    " * depth + "- " + _escape(k["text"]))
                for sub in by_parent.get(k["item_idx"], []):
                    if sub["label"] == "list":
                        out.extend(list_block(sub, depth + 1))
            elif k["label"] == "list":
                out.extend(list_block(k, depth + 1))
        return out

    def walk(it: dict) -> None:
        label = it["label"]
        if label == "title":
            blocks.append("# " + _escape(it["text"]))
        elif label == "section_header":
            blocks.append("#" * (it.get("header_level", it["level"]) + 1)
                          + " " + _escape(it["text"]))
        elif label in ("text", "caption"):
            if it["item_idx"] in captioned:
                return  # rendered just before its table/picture
            blocks.append(_escape(it["text"]))
        elif label == "list":
            blocks.append("\n".join(list_block(it, 0)))
            return  # children consumed
        elif label == "table":
            cap = it.get("caption_idx")
            if cap is not None:
                blocks.append(_escape(items[cap]["text"]))
            blocks.append(it["text"])
        elif label == "picture":
            cap = it.get("caption_idx")
            if cap is not None:
                blocks.append(_escape(items[cap]["text"]))
            blocks.append("<!-- image -->")
        for k in by_parent.get(it["item_idx"], []):
            if label != "list":
                walk(k)

    for it in by_parent.get(0, []):
        walk(it)
    return "\n\n".join(b for b in blocks if b)
