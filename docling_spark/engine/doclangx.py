"""DocLang XML payload → item table, and the inverse export sink.

DocLang is the reference's XML serialization of the document tree
(docling/backend/xml/doclang_backend.py routes it through docling-core's
``DocLangDocDeserializer``; the archive variant ``.dclx`` is a zip
holding the ``.dclg`` — doclang_archive_backend.py).  docling-core is
not vendored in the reference checkout, so the grammar here is pinned
to what the reference's own tests exercise
(tests/test_backend_doclang.py):

- ``<doclang>`` root;
- ``<heading>`` → the first becomes the document TITLE, later ones
  section headers (the test asserts ``texts[0].label == TITLE``);
- ``<text>`` → text item;
- ``<table>`` rows of ``<fcel/>``/``<ched/>`` cell markers, each
  followed by its ``<text>`` content, rows closed by ``<nl/>`` — the
  OTSL-style cell grammar shared with DocTags;
- ``<picture/>``, ``<code>``, ``<formula>``, ``<caption>``,
  ``<list>``/``<list_item>`` cover the remaining item labels so that
  ``serialize_doclang`` → ``extract_doclang`` round-trips every item
  tree this engine produces (tests/test_doclangx.py).
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result


class DocLangError(ValueError):
    pass


def _el_text(el: ET.Element) -> str:
    return "".join(el.itertext())


def extract_doclang(payload: bytes | str) -> tuple[str, list[Item], dict]:
    """payload (.dclg XML text, or .dclx zip bytes) → (text, items,
    metrics)."""
    if isinstance(payload, bytes):
        if payload[:2] == b"PK":  # .dclx archive: zip holding the .dclg
            try:
                zf = zipfile.ZipFile(io.BytesIO(payload))
            except zipfile.BadZipFile as exc:
                raise DocLangError(f"bad dclx archive: {exc}") from exc
            member = next(
                (n for n in zf.namelist()
                 if n.endswith((".dclg", ".dclg.xml", ".xml"))), None)
            if member is None:
                raise DocLangError("dclx archive holds no .dclg member")
            payload = zf.read(member).decode("utf-8", errors="replace")
        else:
            payload = payload.decode("utf-8", errors="replace")
    try:
        root = ET.fromstring(payload)
    except ET.ParseError as exc:
        raise DocLangError(f"not well-formed XML: {exc}") from exc
    if root.tag != "doclang":
        raise DocLangError(f"root element is <{root.tag}>, not <doclang>")

    items = new_items()
    seen_heading = False

    def handle_table(el: ET.Element, par: int, lvl: int) -> None:
        # OTSL-style stream: cell markers (<fcel/>, <ched/>) each
        # followed by the cell's <text>; <nl/> closes a row
        grid: list[list[str]] = []
        row: list[str] = []
        header_rows: set[int] = set()
        pending = None
        for ch in el:
            if ch.tag in ("fcel", "ched"):
                if pending is not None:
                    row.append(pending)
                pending = ""
                if ch.tag == "ched":
                    header_rows.add(len(grid))
            elif ch.tag == "text":
                if pending is None:
                    pending = ""
                pending += _el_text(ch)
            elif ch.tag == "nl":
                if pending is not None:
                    row.append(pending)
                    pending = None
                grid.append(row)
                row = []
        if pending is not None:
            row.append(pending)
        if row:
            grid.append(row)
        if not grid:
            return
        ncols = max(len(r) for r in grid)
        md = []
        for ri, r in enumerate(grid):
            cells = [c.replace("|", "&#124;") for c in r]
            cells += [""] * (ncols - len(cells))
            md.append("| " + " | ".join(cells) + " |")
            if ri == 0:
                md.append("| " + " | ".join("-" for _ in range(ncols))
                          + " |")
        idx = _mk_item(items, par, "table", lvl, "\n".join(md), "body")
        items[idx]["num_rows"] = len(grid)
        items[idx]["num_cols"] = ncols

    def handle_list(el: ET.Element, par: int, lvl: int) -> None:
        ordered = el.get("ordered") in ("1", "true")
        gidx = _mk_item(items, par, "list", lvl,
                        "ordered list" if ordered else "list", "body")
        start = el.get("start")
        if start and start.isdigit() and int(start) != 1:
            items[gidx]["_start"] = int(start)
        for ch in el:
            if ch.tag == "list_item":
                li = _mk_item(items, gidx, "list_item", lvl + 1,
                              (ch.text or "").strip(), "body")
                for sub in ch:
                    if sub.tag == "list":
                        handle_list(sub, li, lvl + 2)
                    elif sub.tag == "picture":
                        _mk_item(items, li, "picture", lvl + 2, "",
                                 "body")
            elif ch.tag == "list":
                handle_list(ch, gidx, lvl + 1)

    def walk(el: ET.Element, par: int, lvl: int) -> None:
        nonlocal seen_heading
        for ch in el:
            tag = ch.tag
            if tag == "heading":
                level = int(ch.get("level", "1") or 1)
                text = " ".join(_el_text(ch).split())
                if level == 1:
                    idx = _mk_item(items, 0, "title", lvl, text, "body")
                    items[idx]["_hlevel"] = 1
                else:
                    idx = _mk_item(items, par, "section_header", lvl,
                                   text, "body")
                    items[idx]["_hlevel"] = max(2, level)
                seen_heading = True
            elif tag == "text":
                # spaces collapse; embedded newlines are content
                text = re.sub(r"[ \t\r\f\v]+", " ",
                              _el_text(ch)).strip()
                text = "\n".join(
                    ln.strip() for ln in text.split("\n") if ln.strip())
                if text:
                    _mk_item(items, par, "text", lvl, text, "body")
            elif tag == "table":
                handle_table(ch, par, lvl)
            elif tag == "list":
                handle_list(ch, par, lvl)
            elif tag == "picture":
                _mk_item(items, par, "picture", lvl, "", "body")
            elif tag == "code":
                _mk_item(items, par, "code", lvl,
                         (ch.text or "").strip("\n"), "body")
            elif tag == "formula":
                _mk_item(items, par, "formula", lvl,
                         " ".join(_el_text(ch).split()), "body")
            elif tag == "caption":
                _mk_item(items, par, "caption", lvl,
                         " ".join(_el_text(ch).split()), "body")
            elif tag in ("field_region", "field_item"):
                idx = _mk_item(items, par, tag, lvl, "", "body")
                walk(ch, idx, lvl + 1)
            elif tag in ("field_key", "field_value", "marker"):
                _mk_item(items, par, tag, lvl,
                         " ".join(_el_text(ch).split()), "body")
            else:
                walk(ch, par, lvl)  # unknown container: recurse

    walk(root, 0, 1)
    return result(items)


def _xml_escape(s: str) -> str:
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;"))


def serialize_doclang(items: list[Item], layer: str = "body") -> str:
    """Flat item table → DocLang XML (export sink; inverse of
    extract_doclang for every item tree this engine produces)."""
    by_parent: dict[int, list[Item]] = {}
    for it in items:
        if it["parent_idx"] >= 0:
            by_parent.setdefault(it["parent_idx"], []).append(it)
    out: list[str] = ["<doclang>"]

    def table_xml(md_table: str) -> None:
        rows = [
            [c.strip() for c in line.strip().strip("|").split("|")]
            for line in md_table.splitlines() if line.strip()
        ]
        body = [r for r in rows
                if not all(set(c) <= {"-", " ", ""} for c in r)]
        out.append("  <table>")
        for r in body:
            cells = "".join(
                "<fcel/><text>"
                + _xml_escape(c.replace("&#124;", "|")) + "</text>"
                for c in r)
            out.append("    " + cells + "<nl/>")
        out.append("  </table>")

    def list_xml(group: Item, indent: str) -> None:
        ordered = group.get("text") == "ordered list"
        start = group.get("_start", 1)
        attr = f" start=\"{start}\"" if ordered and start != 1 else ""
        out.append(f"{indent}<list ordered=\"{int(ordered)}\"{attr}>")
        for ch in by_parent.get(group["item_idx"], []):
            if ch["label"] == "list_item":
                subs = [s for s in by_parent.get(ch["item_idx"], [])
                        if s["label"] in ("list", "picture")]
                if subs:
                    out.append(f"{indent}  <list_item>"
                               + _xml_escape(ch["text"]))
                    for s in subs:
                        if s["label"] == "picture":
                            out.append(f"{indent}    <picture/>")
                        else:
                            list_xml(s, indent + "    ")
                    out.append(f"{indent}  </list_item>")
                else:
                    out.append(f"{indent}  <list_item>"
                               + _xml_escape(ch["text"]) + "</list_item>")
            elif ch["label"] == "list":
                list_xml(ch, indent + "  ")
        out.append(f"{indent}</list>")

    def walk(idx: int) -> None:
        for it in by_parent.get(idx, []):
            if it["content_layer"] != layer and \
                    it["label"] != "unspecified":
                walk(it["item_idx"])
                continue
            label = it["label"]
            if label == "title":
                out.append("  <heading level=\"1\">"
                           + _xml_escape(it["text"]) + "</heading>")
                walk(it["item_idx"])
            elif label == "section_header":
                lv = min(6, max(2, int(it.get("_hlevel", 2))))
                out.append(f"  <heading level=\"{lv}\">"
                           + _xml_escape(it["text"]) + "</heading>")
                walk(it["item_idx"])
            elif label == "text":
                out.append("  <text>" + _xml_escape(it["text"])
                           + "</text>")
                walk(it["item_idx"])
            elif label == "table":
                if it["text"]:
                    table_xml(it["text"])
            elif label == "list":
                list_xml(it, "  ")
            elif label == "picture":
                out.append("  <picture/>")
            elif label == "code":
                out.append("  <code>" + _xml_escape(it["text"])
                           + "</code>")
            elif label == "formula":
                out.append("  <formula>" + _xml_escape(it["text"])
                           + "</formula>")
            elif label == "caption":
                if not it.get("_table_caption"):
                    out.append("  <caption>" + _xml_escape(it["text"])
                               + "</caption>")
            elif label in ("field_region", "field_item"):
                # forms extension (the reference grammar predates the
                # forms machinery; tags mirror our item labels so the
                # round-trip is lossless)
                out.append(f"  <{label}>")
                walk(it["item_idx"])
                out.append(f"  </{label}>")
            elif label in ("field_key", "field_value", "marker"):
                out.append(f"  <{label}>" + _xml_escape(it["text"])
                           + f"</{label}>")
            else:
                walk(it["item_idx"])

    walk(0)
    out.append("</doclang>")
    return "\n".join(out) + "\n"
