"""OpenDocument (ODT / ODS / ODP) payload → item table.

Re-expression of the reference OpenDocument backend (docling/backend/
opendocument_backend.py: style-resolved run formatting :235-300, run
normalization :335-360, paragraph Title/Subtitle routing :454-510, list
machinery with numbering styles and continuation :1053-1200, tables with
true-data bounds and rich cells :1219-1390, ODP slide walk :1438-1620,
ODS flood-fill sheet regions :1700+), built on stdlib ``zipfile`` +
``xml.etree`` (the reference walks odfdo objects).

One entry point, ``extract_odf(payload, kind)`` with kind in
{"odt", "ods", "odp"}. Charts come from the embedded Object's
``local-table`` and render like the Excel engine's charts (placeholder +
classification + tabulate-style data table). Pinned against
tests/data/odf groundtruth.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result
from docling_spark.engine.xlsxx import _chart_table_md, _num_text

NS = {
    "office": "urn:oasis:names:tc:opendocument:xmlns:office:1.0",
    "text": "urn:oasis:names:tc:opendocument:xmlns:text:1.0",
    "table": "urn:oasis:names:tc:opendocument:xmlns:table:1.0",
    "draw": "urn:oasis:names:tc:opendocument:xmlns:drawing:1.0",
    "style": "urn:oasis:names:tc:opendocument:xmlns:style:1.0",
    "fo": "urn:oasis:names:tc:opendocument:xmlns:xsl-fo-compatible:1.0",
    "xlink": "http://www.w3.org/1999/xlink",
    "presentation":
        "urn:oasis:names:tc:opendocument:xmlns:presentation:1.0",
    "chart": "urn:oasis:names:tc:opendocument:xmlns:chart:1.0",
    "anim": "urn:oasis:names:tc:opendocument:xmlns:animation:1.0",
}


def q(prefix: str, name: str) -> str:
    return f"{{{NS[prefix]}}}{name}"


class OdfError(ValueError):
    pass


_CHART_CLASS = {
    "chart:bar": "Bar chart", "chart:line": "Line chart",
    "chart:pie": "Pie chart", "chart:ring": "Pie chart",
    "chart:scatter": "Scatter chart", "chart:area": "Other chart",
}


def _is_bold_weight(v: str) -> bool:
    if v == "bold":
        return True
    if v in ("normal", ""):
        return False
    try:
        return int(v) >= 600
    except ValueError:
        return False


class _Styles:
    """Style store over styles.xml + automatic styles: text-properties
    merged through the parent chain; list styles by name."""

    def __init__(self):
        self.styles: dict[tuple[str, str], ET.Element] = {}
        self.list_styles: dict[str, ET.Element] = {}

    def load(self, root: ET.Element) -> None:
        for holder in ("styles", "automatic-styles"):
            for el in root.iter(q("office", holder)):
                for st in el.iter(q("style", "style")):
                    fam = st.get(q("style", "family")) or ""
                    name = st.get(q("style", "name")) or ""
                    self.styles[(fam, name)] = st
                for ls in el.iter(q("text", "list-style")):
                    name = ls.get(q("style", "name")) or ""
                    self.list_styles[name] = ls

    def text_props(self, family: str, name: str | None,
                   _depth: int = 0) -> dict:
        if not name or _depth > 8:
            return {}
        st = self.styles.get((family, name))
        if st is None:
            return {}
        props = dict(self.text_props(
            family, st.get(q("style", "parent-style-name")), _depth + 1))
        tp = st.find(q("style", "text-properties"))
        if tp is not None:
            props.update(tp.attrib)
        return props

    def fmt_from_style(self, family: str, name: str | None,
                       base: frozenset = frozenset()) -> frozenset:
        props = self.text_props(family, name)
        if not props:
            return base
        out = set(base)

        def get(*names):
            for n in names:
                v = props.get(n)
                if v is not None:
                    return v
            return None

        w = get(q("fo", "font-weight"), q("style", "font-weight-asian"),
                q("style", "font-weight-complex"))
        if w is not None:
            out.discard("bold")
            if _is_bold_weight(w):
                out.add("bold")
        s = get(q("fo", "font-style"), q("style", "font-style-asian"),
                q("style", "font-style-complex"))
        if s is not None:
            out.discard("italic")
            if s in ("italic", "oblique"):
                out.add("italic")
        u = props.get(q("style", "text-underline-style"))
        if u is not None:
            out.discard("underline")
            if u != "none":
                out.add("underline")
        lt = props.get(q("style", "text-line-through-style")) or \
            props.get(q("style", "text-line-through-type"))
        if lt is not None:
            out.discard("strike")
            if lt != "none":
                out.add("strike")
        tp = props.get(q("style", "text-position"))
        if tp is not None:
            out.discard("sup")
            out.discard("sub")
            if tp.startswith("super"):
                out.add("sup")
            elif tp.startswith("sub"):
                out.add("sub")
        return frozenset(out)

    def para_style_names(self, name: str | None) -> set[str]:
        out = set()
        if name:
            out.add(name)
            st = self.styles.get(("paragraph", name))
            if st is not None:
                p = st.get(q("style", "parent-style-name"))
                if p:
                    out.add(p)
                d = st.get(q("style", "display-name"))
                if d:
                    out.add(d)
        return out

    def list_level(self, name: str | None, level: int):
        """→ (enumerated, suffix, start) or None."""
        if not name:
            return None
        ls = self.list_styles.get(name)
        if ls is None:
            return None
        for child in ls:
            try:
                lvl = int(child.get(q("text", "level")) or 0)
            except ValueError:
                continue
            if lvl != level:
                continue
            tag = child.tag
            enumerated = tag == q("text", "list-level-style-number")
            suffix = child.get(q("style", "num-suffix")) or "."
            try:
                start = max(1, int(child.get(q("text", "start-value")) or 1))
            except ValueError:
                start = 1
            return enumerated, suffix, start
        return None


class _Run:
    __slots__ = ("text", "fmt")

    def __init__(self, text: str, fmt: frozenset = frozenset()):
        self.text = text
        self.fmt = fmt


def _expand_ws(el: ET.Element) -> str:
    if el.tag == q("text", "s"):
        try:
            return " " * max(1, int(el.get(q("text", "c")) or 1))
        except ValueError:
            return " "
    if el.tag == q("text", "tab"):
        return "\t"
    if el.tag == q("text", "line-break"):
        return "\n"
    return ""


_SKIP_TEXT_TAGS = {q("office", "annotation"), q("text", "note")}


def _text_runs(el: ET.Element, styles: _Styles,
               fmt: frozenset = frozenset()) -> list[_Run]:
    style_name = el.get(q("text", "style-name"))
    cur = styles.fmt_from_style("text", style_name, fmt)
    runs: list[_Run] = []
    ws = _expand_ws(el)
    if ws:
        return [_Run(ws, cur)]
    if el.text:
        runs.append(_Run(el.text, cur))
    for child in el:
        if child.tag in _SKIP_TEXT_TAGS:
            pass
        else:
            runs.extend(_text_runs(child, styles, cur))
        if child.tail:
            runs.append(_Run(child.tail, cur))
    return runs


def _normalize_runs(runs: list[_Run]) -> list[_Run]:
    merged: list[_Run] = []
    for r in runs:
        if r.text == "":
            continue
        if merged and merged[-1].fmt == r.fmt:
            merged[-1].text += r.text
        else:
            merged.append(_Run(r.text, r.fmt))
    while merged and merged[0].text.strip() == "":
        merged.pop(0)
    if merged:
        merged[0].text = merged[0].text.lstrip()
    while merged and merged[-1].text.strip() == "":
        merged.pop()
    if merged:
        merged[-1].text = merged[-1].text.rstrip()
    return [r for r in merged if r.text]


def _runs_md(runs: list[_Run]) -> str:
    """Docling inline-group join: pieces keep their raw spacing, markers
    wrap the stripped core, single join spaces between pieces (double
    spaces around formatted runs come from run-edge spaces, groundtruth
    text_document_01 'belief,  **Lorem...** .')."""
    runs = _normalize_runs(runs)
    pieces = []
    for r in runs:
        t = r.text.replace("\n", " ").replace("\t", " ")
        render = {f for f in r.fmt if f in ("bold", "italic", "strike")}
        if render:
            core = t.strip()
            if "bold" in render:
                core = f"**{core}**"
            if "italic" in render:
                core = f"*{core}*"
            if "strike" in render:
                core = f"~~{core}~~"
            t = core
        if t.strip() == "" and t:
            continue
        if t:
            pieces.append(t)
    return " ".join(pieces).strip()


def _plain_lines(el: ET.Element) -> list[str]:
    parts = []

    def rec(n):
        ws = _expand_ws(n)
        if ws:
            parts.append(ws)
            return
        if n.tag in _SKIP_TEXT_TAGS:
            return
        if n.text:
            parts.append(n.text)
        for c in n:
            rec(c)
            if c.tail:
                parts.append(c.tail)

    rec(el)
    text = "".join(parts)
    return [ln for ln in (x.strip() for x in text.splitlines()) if ln]


def _frame_images(el: ET.Element) -> list[ET.Element]:
    return list(el.iter(q("draw", "image")))


def _image_href(img: ET.Element) -> str | None:
    return img.get(q("xlink", "href"))


_BITMAP_OK = {"", ".bmp", ".gif", ".jpeg", ".jpg", ".png", ".tif",
              ".tiff", ".webp"}


def _image_is_bitmap(img: ET.Element, zf: zipfile.ZipFile) -> bool:
    href = _image_href(img)
    if href is None:
        return True
    suffix = ("." + href.rsplit(".", 1)[-1].lower()) if "." in \
        href.rsplit("/", 1)[-1] else ""
    if suffix in (".pdf", ".svg", ".emf", ".wmf"):
        return False
    if suffix not in _BITMAP_OK:
        return False
    # the reference opens with PIL; approximate with magic numbers
    try:
        head = zf.read(href.removeprefix("./"))[:8]
    except KeyError:
        return False
    magics = (b"\x89PNG", b"\xff\xd8\xff", b"GIF8", b"BM", b"II*\x00",
              b"MM\x00*", b"RIFF")
    return any(head.startswith(m) for m in magics)


def _strip_image_refs(text: str, images: list[ET.Element]) -> str:
    for img in images:
        href = _image_href(img)
        if href is None:
            continue
        href = href.strip()
        for ref in {href, href.removeprefix("./")}:
            text = text.replace(f"({ref})", "")
    return text


class _Odf:
    def __init__(self, payload: bytes):
        try:
            self.zf = zipfile.ZipFile(io.BytesIO(payload))
        except zipfile.BadZipFile as exc:
            raise OdfError(f"not a zip archive: {exc}") from exc
        try:
            self.content = ET.fromstring(self.zf.read("content.xml"))
        except (KeyError, ET.ParseError) as exc:
            raise OdfError(f"bad OpenDocument content: {exc}") from exc
        self.styles = _Styles()
        self.styles.load(self.content)
        try:
            self.styles.load(ET.fromstring(self.zf.read("styles.xml")))
        except (KeyError, ET.ParseError):
            pass

    def body(self, kind: str) -> ET.Element | None:
        office_body = self.content.find(q("office", "body"))
        if office_body is None:
            return None
        tag = {"odt": "text", "ods": "spreadsheet",
               "odp": "presentation"}[kind]
        return office_body.find(q("office", tag))


class _Converter:
    def __init__(self, odf: _Odf):
        self.odf = odf
        self.styles = odf.styles
        self.items = new_items()

    # ------------------------------------------------------------- charts
    def add_charts(self, el: ET.Element, parent: int) -> int:
        count = 0
        frames = [el] if el.tag == q("draw", "frame") else \
            list(el.iter(q("draw", "frame")))
        for frame in frames:
            href = None
            for child in frame:
                if child.tag == q("draw", "object"):
                    href = child.get(q("xlink", "href"))
                    break
            if href is None:
                continue
            path = f"{href.removeprefix('./').rstrip('/')}/content.xml"
            try:
                chart = ET.fromstring(self.odf.zf.read(path))
            except (KeyError, ET.ParseError):
                continue
            classification = "Other chart"
            for ch in chart.iter(q("chart", "chart")):
                cc = ch.get(q("chart", "class"))
                if cc in _CHART_CLASS:
                    classification = _CHART_CLASS[cc]
                    break
            data = None
            for tbl in chart.iter(q("table", "table")):
                if tbl.get(q("table", "name")) == "local-table":
                    data = self._chart_local_table(tbl)
                    break
            if data is None:
                continue
            header, rows = data
            _mk_item(self.items, parent, "picture", 1, "", "body")
            _mk_item(self.items, parent, "text", 1, classification, "body")
            _mk_item(self.items, parent, "table", 1,
                     _chart_table_md(header, rows), "body")
            count += 1
        return count

    def _chart_local_table(self, tbl: ET.Element):
        rows_out = []
        for tr in tbl.iter(q("table", "table-row")):
            row = []
            for tc in tr.findall(q("table", "table-cell")):
                v = tc.get(q("office", "value"))
                if v is not None:
                    row.append(_num_text(v))
                else:
                    row.append(" ".join(
                        "".join(tc.itertext()).split()))
            rows_out.append(row)
        if not rows_out:
            return None
        header = rows_out[0]
        return header, rows_out[1:]

    # ------------------------------------------------------------- images
    def add_images(self, images: list[ET.Element], parent: int,
                   skip_obj_repl: bool = False) -> int:
        n = 0
        for img in images:
            href = _image_href(img)
            if skip_obj_repl and href is not None and \
                    href.removeprefix("./").startswith("ObjectReplacements/"):
                continue
            if not _image_is_bitmap(img, self.odf.zf):
                continue
            _mk_item(self.items, parent, "picture", 1, "", "body")
            n += 1
        return n

    # ---------------------------------------------------------- paragraph
    def add_paragraph(self, el: ET.Element, parent: int) -> None:
        chart_count = self.add_charts(el, parent)
        images = _frame_images(el)
        image_count = self.add_images(
            images, parent, skip_obj_repl=chart_count > 0)
        runs = _text_runs(el, self.styles)
        text = _runs_md(runs)
        if images:
            stripped = _strip_image_refs(text, images).strip()
            if stripped != text:
                runs = [_Run(stripped)] if stripped else []
                text = stripped
        if image_count > 0 and \
                _strip_image_refs(text, images).strip() == "":
            return
        if chart_count > 0 and ("ObjectReplacements" in text or not text):
            return
        style_names = self.styles.para_style_names(
            el.get(q("text", "style-name")))
        if "Title" in style_names:
            if text:
                idx = _mk_item(self.items, parent, "title", 1, text, "body")
                self.items[idx]["_hlevel"] = 1
        elif "Subtitle" in style_names:
            if text:
                idx = _mk_item(self.items, parent, "section_header", 1,
                               text, "body")
                self.items[idx]["_hlevel"] = 2
        else:
            if text:
                _mk_item(self.items, parent, "text", 1, text, "body")

    def add_heading(self, el: ET.Element, parent: int) -> None:
        try:
            level = max(1, int(el.get(q("text", "outline-level")) or 1))
        except ValueError:
            level = 1
        text = _runs_md(_text_runs(el, self.styles))
        if not text:
            return
        idx = _mk_item(self.items, parent, "section_header", 1, text, "body")
        self.items[idx]["_hlevel"] = level + 1

    # --------------------------------------------------------------- list
    def _list_item_content(self, item: ET.Element, flatten: bool
                           ) -> tuple[str, list[ET.Element]]:
        parts = []
        nested = []
        for child in item:
            if child.tag == q("text", "list"):
                nested.append(child)
            elif child.tag == q("text", "p"):
                parts.extend(_plain_lines(child))
        if not parts and (flatten or not nested):
            parts.extend(_plain_lines(item))
        return " ".join(parts), nested

    def _list_has_content(self, lst: ET.Element, flatten: bool) -> bool:
        for child in lst:
            if child.tag != q("text", "list-item"):
                continue
            text, nested = self._list_item_content(child, flatten)
            if text or any(self._list_has_content(n, flatten)
                           for n in nested):
                return True
        return False

    def _list_has_direct_text(self, lst: ET.Element, flatten: bool) -> bool:
        for child in lst:
            if child.tag != q("text", "list-item"):
                continue
            text, _n = self._list_item_content(child, flatten)
            if text:
                return True
        return False

    def _starts_with_empty_nested(self, lst: ET.Element,
                                  flatten: bool) -> bool:
        for child in lst:
            if child.tag != q("text", "list-item"):
                continue
            text, nested = self._list_item_content(child, flatten)
            return text == "" and any(
                self._list_has_content(n, flatten) for n in nested)
        return False

    def add_list(self, lst: ET.Element, parent: int, enumerated: bool,
                 level: int = 1, state: dict | None = None,
                 flatten: bool = True) -> dict | None:
        if not self._list_has_content(lst, flatten):
            return None
        style_name = lst.get(q("text", "style-name"))
        level_info = self.styles.list_level(style_name, level)
        style_enum = level_info[0] if level_info else enumerated
        suffix = level_info[1] if level_info else "."
        start = level_info[2] if level_info else 1

        should_continue = (
            state is not None and state.get("last_item") is not None
            and self._starts_with_empty_nested(lst, flatten)
        )
        if not should_continue and not self._list_has_direct_text(
                lst, flatten):
            for child in lst:
                if child.tag != q("text", "list-item"):
                    continue
                _t, nested = self._list_item_content(child, flatten)
                for n in nested:
                    self.add_list(n, parent, style_enum, level + 1,
                                  flatten=flatten)
            return None

        if should_continue and state is not None:
            gidx = state["group"]
            cur_enum = state["enumerated"]
            counter = state["counter"]
            prev_item = state["last_item"]
        else:
            gidx = _mk_item(self.items, parent, "list", 1, "list", "body")
            cur_enum = style_enum
            counter = start - 1
            prev_item = None

        for child in lst:
            if child.tag != q("text", "list-item"):
                continue
            text, nested = self._list_item_content(child, flatten)
            nested = [n for n in nested
                      if self._list_has_content(n, flatten)]
            if not text and not nested:
                continue
            if not text:
                np = prev_item if prev_item is not None else gidx
                for n in nested:
                    self.add_list(n, np, style_enum, level + 1,
                                  flatten=flatten)
                continue
            counter += 1
            marker = f"{counter}{suffix}" if cur_enum else "-"
            runs: list[_Run] = []
            has_nested = bool(nested)
            for ch2 in child:
                if ch2.tag == q("text", "p"):
                    runs.extend(_text_runs(ch2, self.styles))
            if not runs and (flatten or not has_nested):
                t2 = _runs_md(_text_runs(child, self.styles))
                if t2:
                    runs = [_Run(t2)]
            item_text = _runs_md(runs) if runs else text
            li = _mk_item(self.items, gidx, "list_item", 2, item_text,
                          "body")
            self.items[li]["_marker"] = marker
            prev_item = li
            for n in nested:
                self.add_list(n, li, style_enum, level + 1, flatten=flatten)
        return {"group": gidx, "last_item": prev_item,
                "enumerated": cur_enum, "counter": counter}

    # -------------------------------------------------------------- table
    @staticmethod
    def _direct_rows(tbl: ET.Element):
        """Rows of THIS table only (iter() would also return rows of
        nested tables inside cells)."""
        out = []

        def rec(el):
            for child in el:
                if child.tag == q("table", "table-row"):
                    out.append(child)
                elif child.tag in (q("table", "table-header-rows"),
                                   q("table", "table-rows"),
                                   q("table", "table-row-group")):
                    rec(child)
        rec(tbl)
        return out

    def _expand_rows(self, tbl: ET.Element, max_cols: int = 2048,
                     max_rows: int = 65536):
        rows = []
        for tr in self._direct_rows(tbl):
            try:
                rrep = min(int(tr.get(q("table", "number-rows-repeated"))
                               or 1), max_rows)
            except ValueError:
                rrep = 1
            cells = []
            for tc in tr:
                if tc.tag not in (q("table", "table-cell"),
                                  q("table", "covered-table-cell")):
                    continue
                try:
                    crep = min(int(tc.get(
                        q("table", "number-columns-repeated")) or 1),
                        max_cols)
                except ValueError:
                    crep = 1
                for _ in range(crep):
                    cells.append(tc)
                    if len(cells) >= max_cols:
                        break
            for _ in range(rrep):
                rows.append(cells)
                if len(rows) >= max_rows:
                    break
        return rows

    def _cell_value_text(self, tc: ET.Element) -> str | None:
        vt = tc.get(q("office", "value-type"))
        if vt in ("float", "percentage", "currency"):
            v = tc.get(q("office", "value"))
            if v is not None:
                return _num_text(v)
        elif vt == "boolean":
            v = tc.get(q("office", "boolean-value"))
            if v is not None:
                return "True" if v == "true" else "False"
        elif vt == "date":
            return tc.get(q("office", "date-value"))
        elif vt == "string":
            sv = tc.get(q("office", "string-value"))
            if sv is not None:
                return sv
            # string cells without the attribute value to their text
            return "\n".join(self._cell_child_lines(tc))
        return None

    def _cell_child_lines(self, tc: ET.Element) -> list[str]:
        lines = []
        for child in tc:
            tag = child.tag
            if tag == q("text", "p") or tag == q("text", "h"):
                lines.extend(_plain_lines(child))
            elif tag == q("text", "list"):
                lines.extend(self._list_lines(child))
            elif tag == q("table", "table"):
                for row in self._expand_rows(child):
                    for c2 in row:
                        lines.extend(self._cell_child_lines(c2))
        return lines

    def _list_lines(self, lst: ET.Element) -> list[str]:
        out = []
        for child in lst:
            if child.tag != q("text", "list-item"):
                continue
            for sub in child:
                if sub.tag == q("text", "list"):
                    out.extend(self._list_lines(sub))
                elif sub.tag == q("text", "p"):
                    out.extend(_plain_lines(sub))
        return out

    def _cell_is_rich(self, tc: ET.Element) -> bool:
        if _frame_images(tc):
            return True
        non_empty_p = 0
        for child in tc:
            tag = child.tag
            if tag == q("text", "list"):
                if self._list_has_content(child, True):
                    return True
            elif tag == q("text", "h"):
                if _plain_lines(child):
                    return True
            elif tag == q("text", "p"):
                if _plain_lines(child):
                    non_empty_p += 1
                if _frame_images(child):
                    return True
            elif tag == q("table", "table"):
                return True
        if non_empty_p > 1:
            return True
        # odfdo cell.value is None exactly when office:value-type is
        # absent (Impress table cells) — such text-bearing cells are rich
        # (groundtruth odp2 blanks merged copies; Writer cells carry
        # value-type="string" and stay plain, odt2 duplicates them)
        return tc.get(q("office", "value-type")) is None and non_empty_p > 0

    def _rich_cell_md(self, tc: ET.Element) -> str:
        blocks = []
        for child in tc:
            tag = child.tag
            if tag == q("text", "p"):
                imgs = _frame_images(child)
                for img in imgs:
                    if _image_is_bitmap(img, self.odf.zf):
                        blocks.append("<!-- image -->")
                runs = _text_runs(child, self.styles)
                text = _runs_md(runs)
                text = _strip_image_refs(text, imgs).strip()
                if text:
                    blocks.append(text)
            elif tag == q("text", "list"):
                li_parts = []
                self._rich_list_parts(child, li_parts, enumerated=None,
                                      level=1)
                if li_parts:
                    blocks.append(" ".join(li_parts))
            elif tag == q("table", "table"):
                flat = []
                for row in self._expand_rows(child):
                    for c2 in row:
                        if c2.tag == q("table", "covered-table-cell"):
                            continue
                        t = self._plain_cell_text(c2)
                        if t:
                            flat.append(" ".join(t.split()))
                if flat:
                    blocks.append(" ".join(flat))
        return "  ".join(blocks)

    def _rich_list_parts(self, lst: ET.Element, out: list[str],
                         enumerated: bool | None, level: int) -> None:
        style_name = lst.get(q("text", "style-name"))
        info = self.styles.list_level(style_name, level)
        enum = info[0] if info else bool(enumerated)
        suffix = info[1] if info else "."
        start = info[2] if info else 1
        counter = start - 1
        for child in lst:
            if child.tag != q("text", "list-item"):
                continue
            text_runs: list[_Run] = []
            nested = []
            for sub in child:
                if sub.tag == q("text", "p"):
                    text_runs.extend(_text_runs(sub, self.styles))
                elif sub.tag == q("text", "list"):
                    nested.append(sub)
            text = _runs_md(text_runs)
            if text:
                counter += 1
                marker = f"{counter}{suffix}" if enum else "-"
                out.append(f"{marker} {text}")
            for n in nested:
                self._rich_list_parts(n, out, enum, level + 1)

    def _plain_cell_text(self, tc: ET.Element) -> str:
        v = self._cell_value_text(tc)
        if v is not None:
            return v
        lines = self._cell_child_lines(tc)
        return "\n".join(lines)

    def _cell_md(self, tc: ET.Element) -> str:
        if self._cell_is_rich(tc):
            return self._rich_cell_md(tc)
        return " ".join(self._plain_cell_text(tc).split("\n")).strip()

    def _true_bounds(self, rows) -> tuple[int, int, int, int]:
        min_row = min_col = None
        max_row = max_col = 0
        for ri, row in enumerate(rows):
            for ci, tc in enumerate(row):
                has = tc.tag == q("table", "covered-table-cell") or \
                    self._cell_has_content(tc)
                rs = int(tc.get(q("table", "number-rows-spanned")) or 1)
                cs = int(tc.get(q("table", "number-columns-spanned")) or 1)
                if has or rs > 1 or cs > 1:
                    if min_row is None:
                        min_row = ri
                    if min_col is None or ci < min_col:
                        min_col = ci
                    end_r = ri + (rs - 1 if rs > 1 else 0)
                    end_c = ci + (cs - 1 if cs > 1 else 0)
                    max_row = max(max_row, end_r if has or rs > 1 else ri)
                    max_col = max(max_col, end_c if has or cs > 1 else ci)
        if min_row is None or min_col is None:
            # an all-empty table still renders one empty cell
            # (reference _find_true_data_bounds returns (0,0,0,0);
            # groundtruth odp2 'Table with pictures')
            return (0, 0, 0, 0)
        return (min_row, max_row, min_col, max_col)

    def _cell_has_content(self, tc: ET.Element) -> bool:
        if self._cell_value_text(tc) is not None:
            return True
        if _frame_images(tc):
            return True
        return bool(self._cell_child_lines(tc))

    def add_table(self, tbl: ET.Element, parent: int,
                  bounds=None) -> None:
        rows = self._expand_rows(tbl)
        if bounds is None:
            bounds = self._true_bounds(rows)
        min_row, max_row, min_col, max_col = bounds
        height = max_row - min_row + 1
        width = max_col - min_col + 1
        if height <= 0 or width <= 0:
            return
        grid = [["" for _ in range(width)] for _ in range(height)]
        for ri, row in enumerate(rows):
            if ri < min_row or ri > max_row:
                continue
            for ci, tc in enumerate(row):
                if ci < min_col or ci > max_col:
                    continue
                if tc.tag == q("table", "covered-table-cell"):
                    continue
                rs = int(tc.get(q("table", "number-rows-spanned")) or 1)
                cs = int(tc.get(q("table", "number-columns-spanned")) or 1)
                text = self._cell_md(tc)
                rich = self._cell_is_rich(tc)
                for dr in range(rs):
                    for dc in range(cs):
                        rr = ri - min_row + dr
                        cc = ci - min_col + dc
                        if 0 <= rr < height and 0 <= cc < width:
                            # rich cells render once; their span copies
                            # stay blank (plain cells duplicate, like the
                            # html/xlsx grids)
                            if rich and not (dr == 0 and dc == 0):
                                grid[rr][cc] = ""
                            else:
                                grid[rr][cc] = text
        md = []
        for ri, row in enumerate(grid):
            cells = [c.replace("|", "&#124;") for c in row]
            md.append("| " + " | ".join(cells) + " |")
            if ri == 0:
                md.append("| " + " | ".join("-" for _ in range(width))
                          + " |")
        idx = _mk_item(self.items, parent, "table", 1, "\n".join(md),
                       "body")
        self.items[idx]["num_rows"] = height
        self.items[idx]["num_cols"] = width

    # ------------------------------------------------------------- bodies
    def add_children(self, elements, parent: int) -> None:
        state = None
        for el in elements:
            tag = el.tag
            if tag == q("text", "list"):
                state = self.add_list(el, parent, False, state=state,
                                      flatten=False)
            else:
                state = None
                self.add_child(el, parent)

    def add_child(self, el: ET.Element, parent: int) -> None:
        tag = el.tag
        if tag == q("text", "h"):
            self.add_heading(el, parent)
        elif tag == q("text", "p"):
            self.add_paragraph(el, parent)
        elif tag == q("text", "list"):
            self.add_list(el, parent, False, flatten=False)
        elif tag == q("table", "table"):
            self.add_table(el, parent)
        elif tag == q("text", "section"):
            self.add_children(list(el), parent)
        elif tag == q("draw", "frame"):
            chart_count = self.add_charts(el, parent)
            self.add_images(_frame_images(el), parent,
                            skip_obj_repl=chart_count > 0)
        else:
            imgs = _frame_images(el)
            if imgs:
                self.add_images(imgs, parent)


def _extract_odt(odf: _Odf) -> list[Item]:
    conv = _Converter(odf)
    body = odf.body("odt")
    if body is not None:
        conv.add_children(list(body), 0)
    return conv.items


def _extract_ods(odf: _Odf) -> list[Item]:
    import collections

    conv = _Converter(odf)
    body = odf.body("ods")
    if body is None:
        return conv.items
    for tbl in body.findall(q("table", "table")):
        rows = conv._expand_rows(tbl)
        bounds = conv._true_bounds(rows)
        if bounds[1] < bounds[0]:
            continue
        # flood-fill disconnected regions (msexcel-style, strict
        # 4-connectivity)
        occupied = {}
        for ri, row in enumerate(rows):
            for ci, tc in enumerate(row):
                if tc.tag == q("table", "covered-table-cell") or \
                        conv._cell_has_content(tc):
                    occupied[(ri, ci)] = True
                rs = int(tc.get(q("table", "number-rows-spanned")) or 1)
                cs = int(tc.get(q("table", "number-columns-spanned")) or 1)
                if rs > 1 or cs > 1:
                    for dr in range(rs):
                        for dc in range(cs):
                            occupied[(ri + dr, ci + dc)] = True
        visited = set()
        regions = []
        for pos in sorted(occupied):
            if pos in visited:
                continue
            queue = collections.deque([pos])
            visited.add(pos)
            min_r = max_r = pos[0]
            min_c = max_c = pos[1]
            while queue:
                r, c = queue.popleft()
                min_r, max_r = min(min_r, r), max(max_r, r)
                min_c, max_c = min(min_c, c), max(max_c, c)
                for dr, dc in ((0, 1), (0, -1), (1, 0), (-1, 0)):
                    np = (r + dr, c + dc)
                    if np in occupied and np not in visited:
                        visited.add(np)
                        queue.append(np)
            regions.append((min_r, max_r, min_c, max_c))
        for region in regions:
            conv.add_table(tbl, 0, bounds=region)
    return conv.items


def _extract_odp(odf: _Odf) -> list[Item]:
    conv = _Converter(odf)
    body = odf.body("odp")
    if body is None:
        return conv.items
    for page in body.findall(q("draw", "page")):
        name = page.get(q("draw", "name")) or ""

        def has_text(el) -> bool:
            return bool([t for t in el.itertext() if t.strip()])

        def is_title(el, first_text: bool) -> bool:
            if el.get(q("presentation", "class")) == "title":
                return True
            return first_text and el.tag == q("draw", "custom-shape")

        seen_text = False
        any_title = False
        for el in page:
            if el.tag in (q("anim", "par"), q("presentation", "notes")):
                continue
            if is_title(el, not seen_text):
                any_title = True
            if has_text(el):
                seen_text = True
        if not any_title and name:
            idx = _mk_item(conv.items, 0, "title", 1, name, "body")
            conv.items[idx]["_hlevel"] = 1

        def walk_textbox(elements, title_mode: bool) -> None:
            state = None
            for el in elements:
                if el.tag == q("text", "h"):
                    state = None
                    conv.add_heading(el, 0)
                elif el.tag == q("text", "p"):
                    state = None
                    text = _runs_md(_text_runs(el, conv.styles))
                    if text:
                        if title_mode:
                            idx = _mk_item(conv.items, 0, "title", 1,
                                           text.strip(), "body")
                            conv.items[idx]["_hlevel"] = 1
                        else:
                            _mk_item(conv.items, 0, "text", 1, text, "body")
                elif el.tag == q("text", "list"):
                    state = conv.add_list(el, 0, False, state=state,
                                          flatten=False)

        seen_text = False
        for el in page:
            if el.tag in (q("anim", "par"), q("presentation", "notes")):
                continue
            el_has_text = has_text(el)
            title_mode = is_title(el, not seen_text)
            if el_has_text:
                seen_text = True
            if el.tag == q("draw", "frame"):
                chart_count = conv.add_charts(el, 0)
                for tbl in el.iter(q("table", "table")):
                    conv.add_table(tbl, 0)
                conv.add_images(_frame_images(el), 0,
                                skip_obj_repl=chart_count > 0)
                for tb in el.iter(q("draw", "text-box")):
                    walk_textbox(list(tb), title_mode)
            else:
                walk_textbox(list(el), title_mode)
    return conv.items


def extract_odf(payload: bytes, kind: str) -> tuple[str, list[Item], dict]:
    """payload (odt/ods/odp zip bytes), kind ∈ {odt, ods, odp} →
    (extracted_text, items, metrics)."""
    if kind not in ("odt", "ods", "odp"):
        raise OdfError(f"unknown OpenDocument kind {kind!r}")
    odf = _Odf(payload)
    if kind == "odt":
        items = _extract_odt(odf)
    elif kind == "ods":
        items = _extract_ods(odf)
    else:
        items = _extract_odp(odf)
    return result(items)
