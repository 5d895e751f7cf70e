"""Legacy GLM JSON payload → item table.

Re-expression of the reference's GLM converter
(docling/utils/glm_utils.py:70-361, ``to_docling_document``): the legacy
layout-model JSON carries flat ``page-elements`` whose ``iref`` paths
resolve into ``main-text`` / ``figures`` / ``tables`` payload arrays.
Semantics ported:

- iref resolution by path segments, ``#`` root marker, numeric indices
  (glm_utils.py:21-52)
- figure/table caption page-elements are SKIPPED at the top level
  (:106-112) and re-emitted as caption items when their owning
  figure/table is reached, slicing the caption text by the referenced
  page-element's span (:126-155, 175-204)
- table grids are flattened with first-occurrence span dedup
  (:55-67) and cell type flags (col_header/row_header/row_section,
  :217-244)
- consecutive ``list_item`` elements group under one list; every other
  element type closes the open list (:93, 295-302)
- ``formula`` elements store empty text with the source in ``orig``
  (:311-314); ``page_header``/``page_footer`` land in the furniture
  layer (:315-323)
- optional semantic-property name override for paragraphs when exactly
  one matching property row has confidence > 0.85 (:279-284)
- an unresolvable iref is a warning, not a failure (:117-120): the
  element is dropped, the open list closes, and parse_score decays.
"""

from __future__ import annotations

import json
import re

from docling_spark.engine.htmlx import _mk_item, new_items, result


class GlmError(ValueError):
    pass


_CAPTION_IREF_RE = re.compile(r"#/(figures|tables)/(\d+)/captions/")


def _resolve(paths: list[str], obj):
    """Path-segment resolution (glm_utils.py:21-52), iterative."""
    for seg in paths:
        if seg == "#":
            continue
        try:
            key: object = int(seg)
        except ValueError:
            key = seg
        if isinstance(key, str):
            if not isinstance(obj, dict) or key not in obj:
                return None
            obj = obj[key]
        else:
            if not isinstance(obj, list) or key >= len(obj):
                return None
            obj = obj[key]
    return obj


def _caption_items(items: list, doc: dict, obj: dict) -> tuple[str, int | None]:
    """Captions of a figure/table (glm_utils.py:126-155): each caption
    prov $ref resolves to a page-element whose span slices the caption
    text; returns (concatenated full text, first caption item_idx)."""
    text = ""
    first: int | None = None
    for caption in obj.get("captions", []):
        text += caption.get("text", "")
        for nprov in caption.get("prov", []):
            nelem = _resolve(str(nprov.get("$ref", "")).split("/"), doc)
            if nelem is None:
                continue
            si, sj = (list(nelem.get("span", [])) + [0, 0])[:2]
            cap_text = caption.get("text", "")[si:sj]
            idx = _mk_item(items, 0, "caption", 1, cap_text, "body")
            items[idx]["page_no"] = nelem.get("page")
            if first is None:
                first = idx
    return text, first


def _flatten_grid(grid: list[list[dict]]) -> list[dict]:
    """Span-keyed first-occurrence dedup (glm_utils.py:55-67)."""
    seen: set = set()
    out: list[dict] = []
    for row in grid:
        for cell in row:
            key = tuple(tuple(s) for s in cell.get("spans", []))
            if key not in seen:
                seen.add(key)
                out.append(cell)
    return out


def _table_md(obj: dict) -> tuple[str, int, int]:
    """Cell list → markdown pipe grid. Spanned cells repeat their text
    over the covered rectangle (the md projection of the reference's
    offset-range TableCells, glm_utils.py:228-250)."""
    nrows = int(obj.get("#-rows", 0))
    ncols = int(obj.get("#-cols", 0))
    grid = [["" for _ in range(ncols)] for _ in range(nrows)]
    for cell in _flatten_grid(obj.get("data", [])):
        # short/missing/null span lists degrade the cell, not the document
        r0, r1 = (list(cell.get("row-span") or []) + [0, 0])[:2]
        c0, c1 = (list(cell.get("col-span") or []) + [0, 0])[:2]
        txt = (cell.get("text", "") or "").replace("\r\n", " ") \
            .replace("\n", " ").replace("|", "&#124;").strip()
        for r in range(max(r0, 0), min(r1, nrows)):
            for c in range(max(c0, 0), min(c1, ncols)):
                grid[r][c] = txt
    lines = []
    for ri, row in enumerate(grid):
        lines.append("| " + " | ".join(row) + " |")
        if ri == 0:
            lines.append("| " + " | ".join("-" for _ in row) + " |")
    return "\n".join(lines) if nrows and ncols else "", nrows, ncols


def _add_children(items: list, parent: int, doc: dict, obj: dict,
                  pelem: dict) -> None:
    """payload.children of figure/form containers (glm_utils.py:332-361):
    cell texts join with spaces, \\x02 → '-', empties dropped."""
    payload = obj.get("payload") or {}
    for child in payload.get("children", []):
        c_text = " ".join(
            c.get("text", "").replace("\x02", "-").strip()
            for c in child.get("cells", [])
            if c.get("text", "").strip()
        )
        label = child.get("label", "text")
        if label == "section_header":
            idx = _mk_item(items, parent, "section_header",
                           items[parent]["level"] + 1, c_text, "body")
        else:
            idx = _mk_item(items, parent, label,
                           items[parent]["level"] + 1, c_text, "body")
        items[idx]["page_no"] = pelem.get("page")


def extract_glm(payload: str, update_name_label: bool = False
                ) -> tuple[str, list[dict], dict]:
    """payload → (extracted_text, items, metrics)."""
    try:
        doc = json.loads(payload)
    except Exception as exc:
        raise GlmError(f"not valid GLM JSON: {exc}") from None
    if not isinstance(doc, dict) or "page-elements" not in doc:
        raise GlmError("missing page-elements")

    # semantic property index: subj_path → rows (glm_utils.py:86-91)
    props: dict[str, list[dict]] = {}
    p = doc.get("properties")
    if isinstance(p, dict):
        headers = p.get("headers", [])
        for row in p.get("data", []):
            m = dict(zip(headers, row))
            if m.get("type") == "semantic":
                props.setdefault(str(m.get("subj_path")), []).append(m)

    items = new_items()

    current_list: int | None = None
    total = unresolved = 0

    for pelem in doc.get("page-elements", []):
        ptype = pelem.get("type")
        span = pelem.get("span", [0, 0])
        si, sj = (span + [0, 0])[:2]
        iref = pelem.get("iref")
        if iref is None:  # glm_utils.py:100-102
            continue
        if _CAPTION_IREF_RE.match(iref):  # glm_utils.py:106-112
            continue
        total += 1
        obj = _resolve(str(iref).split("/"), doc)
        if obj is None:  # glm_utils.py:117-120
            current_list = None
            unresolved += 1
            continue
        page = pelem.get("page")

        if ptype == "figure":
            current_list = None
            _, cap_ref = _caption_items(items, doc, obj)
            idx = _mk_item(items, 0, "picture", 1, "", "body")
            items[idx]["page_no"] = page
            if cap_ref is not None:
                items[idx]["_cap_ref"] = cap_ref
            _add_children(items, idx, doc, obj, pelem)
        elif ptype == "table":
            current_list = None
            _, cap_ref = _caption_items(items, doc, obj)
            md, nrows, ncols = _table_md(obj)
            label = pelem.get("name") or "table"
            idx = _mk_item(items, 0, label, 1, md, "body")
            items[idx]["page_no"] = page
            items[idx]["num_rows"] = nrows
            items[idx]["num_cols"] = ncols
            if cap_ref is not None:
                items[idx]["_cap_ref"] = cap_ref
        elif ptype in ("form", "key_value_region"):  # glm_utils.py:263-273
            current_list = None
            glabel = "form_area" if ptype == "form" else "key_value_area"
            idx = _mk_item(items, 0, glabel, 1, "", "body")
            items[idx]["page_no"] = page
            _add_children(items, idx, doc, obj, pelem)
        elif isinstance(obj, dict) and "text" in obj:
            text = (obj.get("text") or "")[si:sj]
            name_label = pelem.get("name", "text")
            if update_name_label and ptype == "paragraph":
                rows = props.get(str(iref), [])
                if len(rows) == 1 and \
                        float(rows[0].get("confidence", 0.0)) > 0.85:
                    name_label = rows[0].get("label", name_label)
            if name_label == "list_item":
                if current_list is None:
                    current_list = _mk_item(items, 0, "list", 1, "list",
                                            "body")
                idx = _mk_item(items, current_list, "list_item", 2, text,
                               "body")
            elif name_label == "section_header":
                current_list = None
                idx = _mk_item(items, 0, "section_header", 1, text, "body")
            elif name_label == "code":
                current_list = None
                idx = _mk_item(items, 0, "code", 1, text, "body")
            elif name_label == "formula":
                # empty text, source preserved in _raw (glm_utils.py:311-314)
                current_list = None
                idx = _mk_item(items, 0, "formula", 1, "", "body")
                items[idx]["_raw"] = text
            elif name_label in ("page_header", "page_footer"):
                current_list = None
                idx = _mk_item(items, 0, name_label, 1, text, "furniture")
            else:
                current_list = None
                idx = _mk_item(items, 0, name_label, 1, text, "body")
            items[idx]["page_no"] = page
        else:
            current_list = None
            unresolved += 1

    n_body = sum(1 for it in items[1:] if it["content_layer"] == "body")
    return result(
        items, pages_parsed=len(doc.get("page-dimensions", [])) or 1,
        parse_score=1.0 if total == 0 else
        round((total - unresolved) / total, 6),
        boilerplate_ratio=round(1.0 - n_body / max(len(items) - 1, 1), 6),
    )
