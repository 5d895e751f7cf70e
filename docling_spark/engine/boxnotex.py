"""Box Notes payload → item table.

Re-expression of the reference BoxNote backend (docling/backend/
boxnote_backend.py): a Box Note is ProseMirror JSON
(``{"doc": {"type": "doc", "content": [...]}}``) — headings, paragraphs
of marked runs (strong/em/underline/strikethrough/link), bullet/ordered/
check lists with nesting, code blocks, tables with spans and rich cells,
images with alt/fileName captions. Pinned against
tests/data/boxnote/groundtruth.
"""

from __future__ import annotations

import json

from docling_spark.engine.htmlx import Item, _mk_item, _norm_href, new_items, result

_WEB_SCHEMES = ("http://", "https://")


class BoxNoteError(ValueError):
    pass


def _mark_info(marks: list) -> tuple[frozenset, str | None]:
    fmt = set()
    href = None
    for m in marks or []:
        t = m.get("type")
        if t == "strong":
            fmt.add("bold")
        elif t == "em":
            fmt.add("italic")
        elif t == "strikethrough":
            fmt.add("strike")
        elif t == "underline":
            fmt.add("underline")
        elif t == "link":
            h = (m.get("attrs") or {}).get("href") or ""
            if h.startswith(_WEB_SCHEMES):
                href = h
    return frozenset(fmt), href


def _piece(text: str, fmt: frozenset, href: str | None) -> str:
    """Run → md piece: the raw text keeps its spacing; markers wrap the
    stripped core (groundtruth: 'We shipped a ' + bold 'new' + ' parser.'
    joins to 'We shipped a  **new**  parser.' — double spaces from the
    raw run edges plus the single join space)."""
    core = text
    if fmt or href:
        core = core.strip()
        if "bold" in fmt:
            core = f"**{core}**"
        if "italic" in fmt:
            core = f"*{core}*"
        if "strike" in fmt:
            core = f"~~{core}~~"
        if href:
            core = f"[{core}]({_norm_href(href)})"
    return core


def _runs_md(content: list) -> str:
    pieces = []
    for node in content or []:
        t = node.get("type")
        if t == "text":
            txt = node.get("text") or ""
            if not txt.strip():
                continue
            fmt, href = _mark_info(node.get("marks") or [])
            pieces.append(_piece(txt, fmt, href))
        elif t == "hard_break":
            pieces.append("\n")
    return " ".join(p for p in pieces if p).strip()


def _plain_text(content: list) -> str:
    out = []
    for node in content or []:
        t = node.get("type")
        if t == "text":
            out.append(node.get("text") or "")
        elif t == "hard_break":
            out.append("\n")
    return "".join(out).strip("\n")


def extract_boxnote(payload: str) -> tuple[str, list[Item], dict]:
    """payload (Box Note JSON string) → (extracted_text, items, metrics)."""
    try:
        doc = json.loads(payload)
    except json.JSONDecodeError as exc:
        raise BoxNoteError(f"invalid JSON: {exc}") from exc
    root = (doc.get("doc") or {})
    if root.get("type") != "doc":
        raise BoxNoteError("not a Box Note payload (missing doc root)")

    items = new_items()

    def add_blocks(nodes: list, parent: int, level: int) -> None:
        for node in nodes or []:
            add_block(node, parent, level)

    def collapse_md(content: list) -> str:
        """Headings/list items reduce to ONE run (boxnote_backend.py
        _collapse): a single styled span keeps its style; MIXED spans fall
        back to plain joined text (formatting dropped)."""
        runs = [n for n in (content or [])
                if n.get("type") == "text" and (n.get("text") or "").strip()]
        if len(runs) == 1:
            fmt, href = _mark_info(runs[0].get("marks") or [])
            return _piece(runs[0].get("text") or "", fmt, href).strip()
        return "".join(
            (n.get("text") or "") if n.get("type") == "text" else
            ("\n" if n.get("type") == "hard_break" else "")
            for n in (content or [])
        ).strip()

    def split_item(item: dict):
        text = ""
        nested: list = []
        for child in item.get("content") or []:
            if not text and child.get("type") == "paragraph":
                text = collapse_md(child.get("content") or [])
            else:
                nested.append(child)
        return text, nested

    def cell_is_rich(blocks: list) -> bool:
        meaningful = [
            b for b in blocks
            if b.get("type") != "paragraph" or _runs_md(b.get("content") or [])
        ]
        if len(meaningful) > 1:
            return True
        if any(b.get("type") != "paragraph" for b in meaningful):
            return True
        for b in meaningful:
            for node in b.get("content") or []:
                if node.get("type") == "text" and node.get("marks"):
                    fmt, href = _mark_info(node["marks"])
                    if fmt or href:
                        return True
        return False

    def rich_cell_md(blocks: list) -> str:
        parts = []
        for b in blocks or []:
            t = b.get("type")
            if t == "paragraph":
                md = _runs_md(b.get("content") or [])
                if md:
                    parts.append(md.replace("\n", " "))
            elif t == "code_block":
                code = " ".join(_plain_text(b.get("content") or []).split())
                if code:
                    parts.append(code)
            elif t in ("bullet_list", "ordered_list", "check_list"):
                li_parts = []
                for k, it in enumerate(b.get("content") or []):
                    text, _n = split_item(it)
                    marker = f"{k + 1}." if t == "ordered_list" else "-"
                    li_parts.append(f"{marker} {text}")
                parts.append(" ".join(li_parts))
            elif t == "image":
                parts.append("<!-- image -->")
        return "  ".join(parts)

    def add_table(rows: list, parent: int, level: int) -> None:
        rows = [r for r in rows or [] if r.get("type") == "table_row"]
        if not rows:
            return
        occupied: dict[tuple[int, int], str] = {}
        for ri, row in enumerate(rows):
            ci = 0
            for cell in row.get("content") or []:
                if cell.get("type") not in ("table_cell", "table_header"):
                    continue
                while (ri, ci) in occupied:
                    ci += 1
                attrs = cell.get("attrs") or {}
                rs = attrs.get("rowspan") or 1
                cs = attrs.get("colspan") or 1
                blocks = cell.get("content") or []
                if cell_is_rich(blocks):
                    text = rich_cell_md(blocks)
                else:
                    text = " ".join(
                        " ".join(
                            _plain_text(b.get("content") or []).split())
                        for b in blocks if b.get("type") == "paragraph"
                    ).strip()
                for dr in range(rs):
                    for dc in range(cs):
                        occupied[(ri + dr, ci + dc)] = text
                ci += cs
        ncols = max((c for (_r, c) in occupied), default=-1) + 1
        md = []
        for ri in range(len(rows)):
            cells = [(occupied.get((ri, c), "") or "").replace("|", "&#124;")
                     for c in range(ncols)]
            md.append("| " + " | ".join(cells) + " |")
            if ri == 0:
                md.append("| " + " | ".join("-" for _ in range(ncols)) + " |")
        idx = _mk_item(items, parent, "table", level, "\n".join(md), "body")
        items[idx]["num_rows"] = len(rows)
        items[idx]["num_cols"] = ncols

    def add_list(list_type: str, list_items: list, parent: int,
                 level: int) -> None:
        gidx = _mk_item(
            items, parent, "list", level,
            "ordered list" if list_type == "ordered_list" else "list", "body")
        for it in list_items or []:
            text, nested = split_item(it)
            if it.get("type") == "check_list_item":
                mark = "x" if (it.get("attrs") or {}).get("checked") else " "
                li = _mk_item(items, gidx, "list_item", level + 1,
                              f"[{mark}] {text}".rstrip(), "body")
                items[li]["_marker"] = "-"
            else:
                li = _mk_item(items, gidx, "list_item", level + 1, text,
                              "body")
            for sub in nested:
                st = sub.get("type")
                if st in ("bullet_list", "ordered_list", "check_list"):
                    add_list(st, sub.get("content") or [], li, level + 2)
                else:
                    add_block(sub, gidx, level + 1)

    def add_block(node: dict, parent: int, level: int) -> None:
        t = node.get("type")
        content = node.get("content") or []
        if t == "heading":
            text = collapse_md(content)
            if text:
                hl = (node.get("attrs") or {}).get("level") or 1
                label = "title" if hl <= 1 else "section_header"
                idx = _mk_item(items, parent, label, level, text, "body")
                items[idx]["_hlevel"] = 1 if hl <= 1 else hl
        elif t == "paragraph":
            text = _runs_md(content)
            if text:
                _mk_item(items, parent, "text", level, text, "body")
        elif t in ("bullet_list", "ordered_list", "check_list"):
            add_list(t, content, parent, level)
        elif t == "code_block":
            code = _plain_text(content)
            if code:
                _mk_item(items, parent, "code", level, code, "body")
        elif t == "table":
            add_table(content, parent, level)
        elif t == "image":
            attrs = node.get("attrs") or {}
            label = attrs.get("alt") or attrs.get("fileName")
            if label:
                _mk_item(items, parent, "caption", level, label, "body")
            _mk_item(items, parent, "picture", level, "", "body")
        elif content:
            # blockquote / call_out_box wrappers keep their inner blocks
            add_blocks(content, parent, level)

    add_blocks(root.get("content") or [], 0, 1)
    return result(items)
