"""JSON-Docling payload → item table.

Deserializes the reference's lossless document JSON (DoclingDocument
schema: ``body`` tree of ``$ref``s into ``texts``/``groups``/``tables``/
``pictures`` — docling/backend/json/docling_json_backend.py reads the same
shape via model_validate) into the flat item schema, rendered by the
shared serializer. Pinned against the reference's parallel groundtruth
exports: for every ``<doc>.json`` the serialized markdown must equal the
sibling ``<doc>.md`` (tests/test_jsonx_groundtruth.py).
"""

from __future__ import annotations

import json as _json

from docling_spark.engine.htmlx import (
    Item,
    _mk_item,
    _norm_href,
    new_items,
    result,
)


class DoclingJsonError(ValueError):
    pass


def _fmt_set(node: dict) -> frozenset:
    f = node.get("formatting") or {}
    out = set()
    if f.get("bold"):
        out.add("bold")
    if f.get("italic"):
        out.add("italic")
    if f.get("strikethrough"):
        out.add("strike")
    if node.get("label") == "code":
        out.add("code")
    return frozenset(out)


def _md_piece(text: str, fmt: frozenset, href: str | None) -> str:
    """One inline element → md piece (same rules as the HTML engine's
    _runs_to_text fmt_one + link wrap). The stored text is emitted
    verbatim — the reference md serializer does not re-normalize
    whitespace at export time (latex groundtruth keeps multi-space runs,
    tabs, and blank lines inside one text item); html-origin documents
    already collapsed whitespace at parse time, so nothing changes for
    them."""
    txt = text or ""
    if not txt.strip():
        return ""
    if "code" in fmt:
        txt = "`" + txt + "`"
    else:
        import re as _re

        # an underscore already escaped in the stored text (latex source
        # carried the backslash) is not escaped again
        txt = (txt.replace("&", "&amp;").replace("<", "&lt;")
               .replace(">", "&gt;"))
        txt = _re.sub(r"(?<!\\)_", r"\\_", txt)
    if "code" not in fmt or fmt - {"code"}:
        # bold/italic/strike wrap code spans too (md corpus yaml
        # groundtruth: italic code renders *`formatted_code`*)
        if "bold" in fmt:
            txt = "**" + txt + "**"
        if "italic" in fmt:
            txt = "*" + txt + "*"
        if "strike" in fmt:
            txt = "~~" + txt + "~~"
    if href:
        txt = "[" + txt + "](" + _norm_href(str(href)) + ")"
    return txt


def _node_piece(node: dict) -> str:
    if node.get("md_rendered"):
        # our own JSON export: text is already-rendered markdown —
        # emitted verbatim, never re-escaped or re-normalized (latex
        # items carry significant interior whitespace and blank lines)
        return node.get("text", "")
    return _md_piece(node.get("text", ""), _fmt_set(node),
                     node.get("hyperlink"))


def _table_md(data: dict, rich: list[tuple[str, str]] | None = None
              ) -> tuple[str, int, int]:
    """Markdown table from the expanded grid. In-cell newlines become
    spaces (groundtruth table_02). ``rich`` carries the table's
    rich-cell-group renderings as (plain_text, formatted_md) pairs, in
    child order: each enriches the first row-major grid cell whose plain
    text matches (groundtruth html_heading_in_p: bold header cells live as
    formatted text items under rich_cell_group children)."""
    import re as _re

    grid = data.get("grid") or []
    if not grid:
        return "", 0, 0

    def cell_text(t: str) -> str:
        # paragraph breaks (2+ newlines) inside a cell collapse to ONE
        # space (groundtruth table_05); a single newline becomes a space
        # and keeps any adjacent one (table_02 vs html_heading_in_p)
        t = _re.sub(r" *\n{2,} *", " ", t)
        return t.replace("\n", " ")

    rendered: list[list[str]] = [
        [cell_text(c.get("text") or "") for c in row] for row in grid
    ]
    if rich:
        def squish(s: str) -> str:
            return "".join(s.split())

        def blank_span_copies(ri: int, ci: int) -> None:
            # a rich cell renders once; its row/col-span grid duplicates
            # blank out (same rule as the html engine's rich-cell grids)
            src = grid[ri][ci]
            anchor = (src.get("start_row_offset_idx"),
                      src.get("start_col_offset_idx"))
            for rj, row in enumerate(grid):
                for cj, c in enumerate(row):
                    if (rj, cj) != (ri, ci) and (
                            c.get("start_row_offset_idx"),
                            c.get("start_col_offset_idx")) == anchor:
                        rendered[rj][cj] = ""

        taken: set[tuple[int, int]] = set()
        for plain, formatted in rich:
            key = squish(plain)

            def find(match) -> bool:
                for ri, row in enumerate(rendered):
                    for ci, cell in enumerate(row):
                        if (ri, ci) in taken:
                            continue
                        if match(squish(cell)) and (key or formatted):
                            blank_span_copies(ri, ci)
                            rendered[ri][ci] = formatted
                            taken.add((ri, ci))
                            return True
                return False

            # exact squished match first; else the cell's get_text may be
            # a prefix of the rich content (img alts excluded from
            # get_text — wiki_duck 'Edit this classification' cells)
            if not find(lambda c: c == key):
                if key:
                    find(lambda c: bool(c) and key.startswith(c))
    md_lines = []
    ncols = max(len(r) for r in rendered)
    for ri, row in enumerate(rendered):
        cells = [c.replace("|", "&#124;") for c in row]
        cells += [""] * (ncols - len(cells))
        md_lines.append("| " + " | ".join(cells) + " |")
        if ri == 0:
            md_lines.append("| " + " | ".join("-" for _ in range(ncols)) + " |")
    return "\n".join(md_lines), len(rendered), ncols


class _Converter:
    def __init__(self, doc: dict):
        self.doc = doc
        self.items = new_items()
        self.rendered_captions: set[str] = set()

    def resolve(self, ref) -> dict:
        if isinstance(ref, dict):
            ref = ref.get("$ref") or ref.get("cref")
        if not isinstance(ref, str) or not ref.startswith("#/"):
            raise DoclingJsonError(f"bad ref {ref!r}")
        cur = self.doc
        for part in ref[2:].split("/"):
            cur = cur[int(part)] if part.isdigit() else cur[part]
        return cur

    def _layer(self, node: dict) -> str:
        return "furniture" if node.get("content_layer") == "furniture" \
            else "body"

    def _rich_cell(self, gnode: dict) -> tuple[str, str]:
        """rich_cell_group → (plain_key, formatted_md): blocks join with
        two spaces (the html engine's rich-cell flattening); nested lists
        render inline '-'/'N.' markers; pictures render the image
        placeholder (groundtruth table_03/04, wiki_duck cells)."""
        blocks: list[str] = []
        plains: list[str] = []

        def one(c: dict) -> None:
            lbl = c.get("label")
            if lbl == "picture":
                for cref in c.get("captions") or []:
                    cap = self.resolve(cref)
                    p = _md_piece(cap.get("text", ""), _fmt_set(cap), None)
                    if p:
                        self.rendered_captions.add(cap.get("self_ref", ""))
                        blocks.append(p)
                        # caption (img alt) text is NOT part of the host
                        # cell's get_text — keep it out of the match key
                blocks.append("<!-- image -->")
            elif lbl == "list":
                ordered = str(c.get("name", "")).startswith("ordered")
                parts = []
                for k, li_ref in enumerate(c.get("children", [])):
                    li = self.resolve(li_ref)
                    t = _node_piece(li).replace("\n", " ")
                    marker = f"{k + 1}." if ordered else "-"
                    parts.append(f"{marker} {t}".rstrip())
                    plains.append(li.get("text") or "")
                if parts:
                    blocks.append(" ".join(parts))
            elif lbl == "inline":
                sub = []
                for g in c.get("children", []):
                    gn = self.resolve(g)
                    p = _node_piece(gn).replace("\n", " ")
                    if p:
                        sub.append(p)
                    plains.append(gn.get("text") or "")
                if sub:
                    blocks.append(" ".join(sub))
            elif lbl == "code":
                t = " ".join((c.get("text") or "").split())
                if t:
                    blocks.append("``` " + t + " ```")
                plains.append(c.get("text") or "")
            elif lbl in ("section_header", "title"):
                hashes = "#" if lbl == "title" else \
                    "#" * (int(c.get("level", 1)) + 1)
                t = _node_piece(c).replace("\n", " ")
                if t:
                    blocks.append(hashes + " " + t)
                plains.append(c.get("text") or "")
            elif lbl == "table":
                cells = [
                    " ".join((cc.get("text") or "").split())
                    for rrow in (c.get("data") or {}).get("grid") or []
                    for cc in rrow
                ]
                flat = " ".join(x for x in cells if x)
                if flat:
                    blocks.append(flat)
                # the host cell's plain text is the nested table's
                # get_text flattening — key on it so the match lands on
                # the right cell, not the first empty one
                plains.append(flat)
            elif c.get("children") and not (c.get("text") or "").strip():
                for g in c.get("children", []):
                    one(self.resolve(g))
            else:
                p = _node_piece(c).replace("\n", " ")
                if p:
                    blocks.append(p)
                plains.append(c.get("text") or "")

        for ch in gnode.get("children", []):
            one(self.resolve(ch))
        return " ".join(" ".join(plains).split()), "  ".join(blocks)

    def _emit_captions(self, node: dict, parent: int, level: int) -> None:
        """Emit the node's captions unless already rendered: captions that
        are body-level siblings render at their own body position
        (groundtruth hyperlink_05 — they precede the picture there), while
        ref-only captions (e.g. img alt captions, example_01) emit here.
        Caption text drops its hyperlink (groundtruth hyperlink_05)."""
        for cref in node.get("captions") or []:
            cap = self.resolve(cref)
            ref = cap.get("self_ref", "")
            if ref in self.rendered_captions:
                continue
            text = _md_piece(cap.get("text", ""), _fmt_set(cap), None)
            if text:
                self.rendered_captions.add(ref)
                _mk_item(self.items, parent, "caption", level, text,
                         self._layer(cap))

    def walk(self, node: dict, parent: int, level: int) -> None:
        label = node.get("label")
        name = node.get("name", "")
        layer = self._layer(node)

        if node.get("self_ref") in self.rendered_captions:
            return

        if label in ("unspecified", "section") and node.get("children") is not None \
                and "text" not in node:
            for ch in node.get("children", []):
                self.walk(self.resolve(ch), parent, level)
            return

        if label in ("title", "section_header"):
            # an EMPTY heading's inline-group children ARE its text (md
            # corpus yaml groundtruth: partially-formatted heading =
            # empty text + one inline child); a heading with its own
            # text keeps every child as a real paragraph under it
            own = _node_piece(node)
            pieces = [own]
            rest: list[dict] = []
            for ch in node.get("children", []):
                c = self.resolve(ch)
                if not own and c.get("label") == "inline":
                    sub = [p for p in
                           (_node_piece(self.resolve(g))
                            for g in c.get("children", [])) if p]
                    if sub:
                        pieces.append(" ".join(sub))
                else:
                    rest.append(c)
            text = " ".join(p for p in pieces if p)
            idx = _mk_item(self.items, parent, label, level, text, layer)
            self.items[idx]["_hlevel"] = 1 if label == "title" else \
                int(node.get("level", 1)) + 1
            for c in rest:
                self.walk(c, idx, level + 1)
        elif label == "inline":
            pieces = []
            for ch in node.get("children", []):
                c = self.resolve(ch)
                p = _node_piece(c)
                if p:
                    pieces.append(p)
            text = " ".join(pieces)
            if text:
                _mk_item(self.items, parent, "text", level, text, layer)
        elif label == "list":
            lis = [self.resolve(ch) for ch in node.get("children", [])]
            if not lis:
                return
            # orderedness: our export names the group "ordered list";
            # docling-core's model instead marks each child
            # enumerated=true (md corpus .md.yaml groundtruth) — honor
            # both encodings. ALL children must agree: docling-core
            # renders per-item markers, so a mixed group must not be
            # promoted wholesale to numbered rendering
            ordered = name.startswith("ordered list") or all(
                li.get("enumerated") for li in lis
                if li.get("label") == "list_item"
            ) and any(li.get("enumerated") for li in lis)
            gidx = _mk_item(self.items, parent, "list", level,
                            "ordered list" if ordered else "list", layer)
            if ordered and name.startswith("ordered list start "):
                try:
                    self.items[gidx]["_start"] = int(name.rsplit(" ", 1)[1])
                except ValueError:
                    pass
            for li in lis:
                self.walk(li, gidx, level + 1)
        elif label == "list_item":
            # a list item's inline-group / bare-text children ARE its text
            # (groundtruth html_code_snippets, hyperlink_03): join their
            # pieces; only structural children (sub-lists, pictures) stay
            # as real children
            pieces = [_node_piece(node)]
            rest: list[dict] = []
            for ch in node.get("children", []):
                c = self.resolve(ch)
                cl = c.get("label")
                if cl == "inline":
                    sub = [
                        p for p in
                        (_node_piece(self.resolve(g))
                         for g in c.get("children", []))
                        if p
                    ]
                    if sub:
                        pieces.append(" ".join(sub))
                elif cl in ("text", "code") and not c.get("children"):
                    p = _node_piece(c)
                    if p:
                        pieces.append(p)
                else:
                    rest.append(c)
            text = " ".join(p for p in pieces if p)
            idx = _mk_item(self.items, parent, "list_item", level, text, layer)
            # restore the explicit marker the export emitted: without it
            # a re-imported ordered list re-numbers from the group start
            # ("3."/"4." collapse to "1."/"2.") and a literal "-" marker
            # item loses its bullet on the md round-trip
            marker = node.get("marker", "")
            if marker:
                self.items[idx]["_marker"] = marker
            for c in rest:
                self.walk(c, idx, level + 1)
        elif label == "code":
            self._emit_captions(node, parent, level)
            idx = _mk_item(self.items, parent, "code", level,
                           node.get("text", ""), layer)
            if node.get("code_language"):
                self.items[idx]["code_language"] = node["code_language"]
        elif label == "table":
            self._emit_captions(node, parent, level)
            rich: list[tuple[str, str]] = []
            for ch in node.get("children", []):
                c = self.resolve(ch)
                if str(c.get("name", "")).startswith("rich_cell_group"):
                    rich.append(self._rich_cell(c))
            text, nr, nc = _table_md(node.get("data") or {}, rich)
            if text:
                idx = _mk_item(self.items, parent, "table", level, text, layer)
                self.items[idx]["num_rows"] = nr
                self.items[idx]["num_cols"] = nc
        elif label == "picture":
            self._emit_captions(node, parent, level)
            _mk_item(self.items, parent, "picture", level, "", layer)
            # classification meta renders as its label; picture children
            # (e.g. a signature's inner text) are NOT serialized
            preds = (((node.get("meta") or {}).get("classification") or {})
                     .get("predictions") or [])
            if preds and preds[0].get("class_name"):
                _mk_item(self.items, parent, "text", level,
                         str(preds[0]["class_name"]).capitalize(), layer)
        elif label == "caption":
            self.rendered_captions.add(node.get("self_ref", ""))
            text = _md_piece(node.get("text", ""), _fmt_set(node), None)
            if text:
                _mk_item(self.items, parent, "caption", level, text, layer)
        elif label in ("checkbox_selected", "checkbox_unselected"):
            mark = "x" if label == "checkbox_selected" else " "
            text = _node_piece(node)
            _mk_item(self.items, parent, "text", level,
                     f"- [{mark}] {text}".rstrip(), layer)
        elif label in ("field_region", "field_item"):
            # form field containers (html_backend.py:4303-4380): empty-text
            # group items; the md serializer renders the missing-text marker
            idx = _mk_item(self.items, parent, label, level, "", layer)
            self._children(node, idx, level + 1)
        elif label in ("marker", "field_key", "field_value"):
            text = _node_piece(node)
            if text:
                _mk_item(self.items, parent, label, level, text, layer)
            self._children(node, parent, level)
        elif label == "formula":
            # display formula: raw LaTeX, never md-escaped; serialize_items
            # wraps it in $$..$$ (latex groundtruth example_02)
            text = node.get("text", "")
            if text:
                _mk_item(self.items, parent, "formula", level, text, layer)
            self._children(node, parent, level)
        else:  # generic text-bearing node
            text = _node_piece(node)
            if text:
                idx = _mk_item(self.items, parent, "text", level, text, layer)
                self._children(node, idx, level + 1)
            else:
                self._children(node, parent, level)

    def _children(self, node: dict, parent: int, level: int) -> None:
        for ch in node.get("children", []):
            self.walk(self.resolve(ch), parent, level)


def extract_docling_json(payload: str) -> tuple[str, list[Item], dict]:
    """payload (DoclingDocument JSON string) → (text, items, metrics)."""
    try:
        doc = _json.loads(payload)
    except _json.JSONDecodeError as exc:
        raise DoclingJsonError(f"invalid JSON: {exc}") from exc
    if doc.get("schema_name") != "DoclingDocument":
        raise DoclingJsonError("not a DoclingDocument payload")
    conv = _Converter(doc)
    body = doc.get("body") or {}
    for ch in body.get("children", []):
        conv.walk(conv.resolve(ch), 0, 1)
    return result(conv.items,
                  pages_parsed=max(len(doc.get("pages") or {}), 1))


def extract_docling_yaml(payload: str) -> tuple[str, list[Item], dict]:
    """DoclingDocument YAML payload (the CLI's save_as_yaml artifact,
    same model as the JSON export) → item table, by delegating to the
    JSON deserializer. Pinned against the reference's two ``.md.yaml``
    groundtruth exports (tests/test_yamlx_groundtruth.py)."""
    import yaml as _yaml

    try:
        doc = _yaml.safe_load(payload)
    except Exception as exc:
        raise DoclingJsonError(f"not valid YAML: {exc}") from None
    if not isinstance(doc, dict) or \
            doc.get("schema_name", "DoclingDocument") != "DoclingDocument":
        raise DoclingJsonError("not a DoclingDocument YAML")
    return extract_docling_json(_json.dumps(doc))
