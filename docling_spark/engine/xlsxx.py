"""XLSX payload → item table.

Re-expression of the reference Excel backend (docling/backend/
msexcel_backend.py: table discovery :881-1105 flood-fill with gap
tolerance, true-data-bounds :830, section-label split :780-828, sheet
groups :511-575) as a from-scratch SpreadsheetML reader on stdlib
``zipfile`` + ``xml.etree`` — the reference walks openpyxl with
``data_only=True``, so formula cells read their CACHED <v> values, which
is exactly what the raw XML holds.

Each visible sheet renders as a level-2 heading (the reference's SHEET
group) followed by its discovered tables in top-row order. Hidden sheets
are invisible (dropped from the body). Pinned against
tests/data/xlsx/groundtruth (tests/test_xlsxx_groundtruth.py).
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET
from datetime import datetime, timedelta

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result

NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"
RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"


class XlsxError(ValueError):
    pass


_DATE_BUILTIN = set(range(14, 23)) | set(range(45, 48))
_DATE_FMT_RE = re.compile(r"[ymdhs]", re.IGNORECASE)
_EPOCH = datetime(1899, 12, 30)


def _col_to_idx(ref: str) -> int:
    n = 0
    for ch in ref:
        if ch.isalpha():
            n = n * 26 + (ord(ch.upper()) - 64)
        else:
            break
    return n - 1


def _split_ref(ref: str) -> tuple[int, int]:
    col = _col_to_idx(ref)
    row = int("".join(ch for ch in ref if ch.isdigit())) - 1
    return row, col


def _num_text(v: str) -> str:
    """Cached numeric value → openpyxl str() rendering."""
    try:
        if re.fullmatch(r"-?\d+", v):
            return v
        f = float(v)
    except ValueError:
        return v
    if f == int(f) and abs(f) < 1e15 and ("e" not in v.lower()):
        # openpyxl keeps the stored precision: '5000.0' stays a float
        return str(f) if ("." in v) else str(int(f))
    return str(f)


class _Sheet:
    def __init__(self):
        self.cells: dict[tuple[int, int], str] = {}
        self.merges: list[tuple[int, int, int, int]] = []  # r1,c1,r2,c2
        self.shadow: set[tuple[int, int]] = set()
        self.span: dict[tuple[int, int], tuple[int, int]] = {}
        self.merged_cover: set[tuple[int, int]] = set()


def _load_sheet(xml: bytes, shared: list[str], date_styles: set[int]) -> _Sheet:
    root = ET.fromstring(xml)
    sh = _Sheet()
    for c in root.iter(NS + "c"):
        ref = c.attrib.get("r")
        if not ref:
            continue
        row, col = _split_ref(ref)
        t = c.attrib.get("t", "n")
        s = int(c.attrib.get("s", "0") or 0)
        v_el = c.find(NS + "v")
        text = None
        if t == "s" and v_el is not None and v_el.text is not None:
            try:
                text = shared[int(v_el.text)]
            except (ValueError, IndexError):
                text = v_el.text
        elif t == "b" and v_el is not None:
            text = "True" if v_el.text == "1" else "False"
        elif t == "inlineStr":
            is_el = c.find(NS + "is")
            if is_el is not None:
                text = "".join(tt.text or "" for tt in is_el.iter(NS + "t"))
        elif t == "str" and v_el is not None:
            text = v_el.text or ""
        elif v_el is not None and v_el.text is not None:
            raw = v_el.text
            if s in date_styles:
                try:
                    serial = float(raw)
                    text = str(_EPOCH + timedelta(days=serial))
                except (ValueError, OverflowError):
                    text = _num_text(raw)
            else:
                text = _num_text(raw)
        if text is not None:
            # docling TableCell text: stripped; embedded newlines → space
            text = " ".join(text.split())
            if text != "":
                sh.cells[(row, col)] = text
    mc = root.find(NS + "mergeCells")
    if mc is not None:
        for m in mc.findall(NS + "mergeCell"):
            ref = m.attrib.get("ref", "")
            if ":" not in ref:
                continue
            a, b = ref.split(":")
            r1, c1 = _split_ref(a)
            r2, c2 = _split_ref(b)
            sh.merges.append((r1, c1, r2, c2))
            sh.span[(r1, c1)] = (r2 - r1 + 1, c2 - c1 + 1)
            for rr in range(r1, r2 + 1):
                for cc in range(c1, c2 + 1):
                    sh.merged_cover.add((rr, cc))
                    if (rr, cc) != (r1, c1):
                        sh.shadow.add((rr, cc))
    return sh


def _find_tables(sh: _Sheet, gap_tolerance: int = 0):
    """Flood-fill table discovery (msexcel_backend.py:959-1105): 4-direction
    BFS with ``gap_tolerance`` empty steps; bounding box becomes the table;
    merged-cover cells count as content."""
    import collections

    def has_content(r: int, c: int) -> bool:
        return (r, c) in sh.cells or (r, c) in sh.merged_cover

    occupied = set(sh.cells) | sh.merged_cover
    if not occupied:
        return []
    min_row = min(r for r, _ in occupied)
    max_row = max(r for r, _ in occupied) + 1
    min_col = min(c for _, c in occupied)
    max_col = max(c for _, c in occupied) + 1

    tables = []
    visited: set[tuple[int, int]] = set()
    for ri in range(min_row, max_row):
        for rj in range(min_col, max_col):
            if (ri, rj) not in sh.cells or (ri, rj) in visited:
                continue
            queue = collections.deque([(ri, rj)])
            table_cells = {(ri, rj)}
            min_r = max_r = ri
            min_c = max_c = rj
            while queue:
                cr, cc = queue.popleft()
                min_r, max_r = min(min_r, cr), max(max_r, cr)
                min_c, max_c = min(min_c, cc), max(max_c, cc)
                for dr, dc in ((0, 1), (0, -1), (1, 0), (-1, 0)):
                    for step in range(1, gap_tolerance + 2):
                        nr, nc = cr + dr * step, cc + dc * step
                        if (nr, nc) in table_cells:
                            break
                        if min_row <= nr < max_row and min_col <= nc < max_col \
                                and has_content(nr, nc):
                            table_cells.add((nr, nc))
                            queue.append((nr, nc))
                            break
            visited.update(table_cells)
            tables.append((min_r, min_c, max_r, max_c))
    return tables


def _table_grid(sh: _Sheet, bounds) -> list[list[str]]:
    min_r, min_c, max_r, max_c = bounds
    nrows = max_r - min_r + 1
    ncols = max_c - min_c + 1
    grid = [["" for _ in range(ncols)] for _ in range(nrows)]
    for ri in range(min_r, max_r + 1):
        for rj in range(min_c, max_c + 1):
            if (ri, rj) in sh.shadow:
                # merged shadow copies the anchor text (docling grid
                # expansion duplicates span text)
                continue
            text = sh.cells.get((ri, rj), "")
            rs, cs = sh.span.get((ri, rj), (1, 1))
            for dr in range(rs):
                for dc in range(cs):
                    rr, cc = ri - min_r + dr, rj - min_c + dc
                    if rr < nrows and cc < ncols:
                        grid[rr][cc] = text
    return grid


def _split_section_label(grid: list[list[str]], sh: _Sheet, bounds):
    """msexcel_backend.py:780-828: a lone multi-column merged label in the
    first row of a ≥2x2 table splits off as a text item."""
    min_r, min_c, max_r, max_c = bounds
    if len(grid) < 2 or len(grid[0]) < 2:
        return None, grid
    first = grid[0]
    texts = [(ci, t) for ci, t in enumerate(first) if t.strip()]
    uniq = {t for _, t in texts}
    if not texts or len(uniq) != 1:
        return None, grid
    # all first-row text positions must come from ONE merged label at col 0
    anchor = (min_r, min_c)
    rs, cs = sh.span.get(anchor, (1, 1))
    if texts[0][0] != 0 or rs != 1 or cs <= 1 or len(texts) != cs:
        return None, grid
    # ≥2 distinct single-span header cells on the second row (anchors,
    # not span-expanded copies — groundtruth xlsx_07 keeps a merged-label
    # row INSIDE the table when the next row is one wide merged cell)
    second_anchors = [
        (r, c) for (r, c) in sh.cells
        if r == min_r + 1 and min_c <= c <= max_c
        and sh.span.get((r, c), (1, 1)) == (1, 1)
    ]
    if len(second_anchors) < 2:
        return None, grid
    return first[texts[0][0]], grid[1:]




def _rel_target_path(target: str) -> str:
    """Normalize a relationship target to a zip member path."""
    if target.startswith("/"):
        return target.lstrip("/")
    return "xl/" + target.replace("../", "")


_CHART_KIND = {
    "barChart": "Bar chart", "bar3DChart": "Bar chart",
    "lineChart": "Line chart", "line3DChart": "Line chart",
    "pieChart": "Pie chart", "pie3DChart": "Pie chart",
    "doughnutChart": "Pie chart", "scatterChart": "Scatter chart",
    "areaChart": "Other chart", "area3DChart": "Other chart",
}
CNS = "{http://schemas.openxmlformats.org/drawingml/2006/chart}"
ANS = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
XDR = ("{http://schemas.openxmlformats.org/drawingml/2006/"
       "spreadsheetDrawing}")


def _cache_values(parent) -> list[str]:
    """c:numRef/c:numCache or c:strRef/c:strCache → ordered pt values."""
    if parent is None:
        return []
    out: dict[int, str] = {}
    for cache_tag in ("numCache", "strCache"):
        for cache in parent.iter(CNS + cache_tag):
            for pt in cache.findall(CNS + "pt"):
                v = pt.find(CNS + "v")
                idx = int(pt.attrib.get("idx", "0"))
                out[idx] = _num_text(v.text) if (
                    cache_tag == "numCache" and v is not None and v.text
                ) else ((v.text or "") if v is not None else "")
    if not out:
        return []
    n = max(out) + 1
    return [out.get(i, "") for i in range(n)]


def _parse_chart(xml: bytes):
    """chart XML → (kind_text, title, header_row, data_rows) or None."""
    root = ET.fromstring(xml)
    plot = root.find(f"{CNS}chart/{CNS}plotArea")
    if plot is None:
        return None
    kind = None
    chart_el = None
    for ch in plot:
        tag = ch.tag.rsplit("}", 1)[-1]
        if tag in _CHART_KIND:
            kind = _CHART_KIND[tag]
            chart_el = ch
            break
    if chart_el is None:
        return None
    title_el = root.find(f"{CNS}chart/{CNS}title")
    title = ""
    if title_el is not None:
        title = "".join(t.text or "" for t in title_el.iter(ANS + "t")).strip()
    cats: list[str] = []
    cols: list[tuple[str, list[str]]] = []
    for ser in chart_el.findall(CNS + "ser"):
        if not cats:
            cats = _cache_values(ser.find(CNS + "cat")) or                 _cache_values(ser.find(CNS + "xVal"))
        vals = _cache_values(ser.find(CNS + "val")) or             _cache_values(ser.find(CNS + "yVal"))
        name_el = ser.find(CNS + "tx")
        name = ""
        if name_el is not None:
            nv = _cache_values(name_el)
            name = nv[0] if nv else "".join(
                t.text or "" for t in name_el.iter(CNS + "v"))
        cols.append((name, vals))
    if not cols:
        return None
    nrows = max([len(cats)] + [len(v) for _, v in cols])
    if nrows == 0:
        return None
    header = [""] + [n for n, _ in cols]
    rows = []
    for i in range(nrows):
        rows.append([cats[i] if i < len(cats) else ""]
                    + [(v[i] if i < len(v) else "") for _, v in cols])
    return kind, title, header, rows


def _is_num(s: str) -> bool:
    try:
        float(s)
        return True
    except ValueError:
        return False


def _chart_table_md(header: list[str], rows: list[list[str]]) -> str:
    """The chart-data table renders in the docling-core tabulate ('pipe')
    style — numeric columns right-aligned, width = max(value width,
    header width + 2, 2) — distinct from the compact '- ' separator used
    for sheet tables (groundtruth xlsx_01/03)."""
    ncols = len(header)
    numeric = []
    widths = []
    for c in range(ncols):
        vals = [r[c] for r in rows if c < len(r)]
        num = all(_is_num(v) for v in vals if v != "") and any(
            v != "" for v in vals)
        numeric.append(num)
        w = max([len(v) for v in vals] + [1])
        w = max(w, len(header[c]) + 2, 2)
        widths.append(w)
    def cell(txt: str, c: int) -> str:
        return txt.rjust(widths[c]) if numeric[c] else txt.ljust(widths[c])
    lines = ["| " + " | ".join(cell(header[c], c) for c in range(ncols))
             + " |"]
    lines.append("|" + "|".join("-" * (widths[c] + 2) for c in range(ncols))
                 + "|")
    for r in rows:
        lines.append("| " + " | ".join(
            cell(r[c] if c < len(r) else "", c) for c in range(ncols)) + " |")
    return "\n".join(lines)


def _sheet_drawing_objects(zf, sheet_path: str):
    """Sheet drawing → [(top_row, kind, payload)]: charts (parsed tuple)
    and pictures (None payload)."""
    out = []
    rel_path = sheet_path.rsplit("/", 1)
    rel_path = f"{rel_path[0]}/_rels/{rel_path[1]}.rels"
    try:
        rels_root = ET.fromstring(zf.read(rel_path))
    except KeyError:
        return out
    rels = {r.attrib.get("Id"): r.attrib.get("Target", "")
            for r in rels_root.iter(REL + "Relationship")}
    drawings = [t for t in rels.values() if "drawing" in t]
    for d in drawings:
        dpath = _rel_target_path(d)
        try:
            droot = ET.fromstring(zf.read(dpath))
        except KeyError:
            continue
        try:
            drels_root = ET.fromstring(ET.tostring(ET.fromstring(
                zf.read(dpath.rsplit("/", 1)[0] + "/_rels/"
                        + dpath.rsplit("/", 1)[1] + ".rels"))))
            drels = {r.attrib.get("Id"): r.attrib.get("Target", "")
                     for r in drels_root.iter(REL + "Relationship")}
        except KeyError:
            drels = {}
        for anchor in list(droot):
            frm = anchor.find(XDR + "from")
            top = 0
            if frm is not None:
                rw = frm.find(XDR + "row")
                if rw is not None and rw.text:
                    top = int(rw.text)
            if anchor.find(f"{XDR}graphicFrame") is not None:
                rid = None
                for el in anchor.iter():
                    if el.tag.endswith("}chart"):
                        rid = el.attrib.get(RNS + "id")
                        break
                target = drels.get(rid, "")
                if target:
                    cpath = _rel_target_path(target)
                    try:
                        parsed = _parse_chart(zf.read(cpath))
                    except (KeyError, ET.ParseError):
                        parsed = None
                    if parsed:
                        out.append((top, "chart", parsed))
            elif anchor.find(XDR + "pic") is not None:
                out.append((top, "picture", None))
    return out


def _sheet_comments(zf, sheet_path: str) -> list[tuple[tuple[int, int], str]]:
    """Cell comments, msexcel_backend.py:743-770 formatting: legacy
    comments use [author: X]: text; threaded comments (tc={...} authors)
    resolve to persons + isoformat-millisecond timestamps; the LAST
    comment of a thread wins its cell."""
    rel_path = sheet_path.rsplit("/", 1)
    rel_path = f"{rel_path[0]}/_rels/{rel_path[1]}.rels"
    try:
        rels_root = ET.fromstring(zf.read(rel_path))
    except KeyError:
        return []
    comments_t = None
    threaded_t = None
    for r in rels_root.iter(REL + "Relationship"):
        t = r.attrib.get("Target", "")
        typ = r.attrib.get("Type", "")
        if typ.endswith("/comments"):
            comments_t = t
        elif "threadedComment" in typ:
            threaded_t = t
    by_cell: dict[tuple[int, int], tuple[str, str, str]] = {}
    if comments_t:
        try:
            root = ET.fromstring(zf.read(_rel_target_path(comments_t)))
            authors = [a.text or "" for a in root.iter(NS + "author")]
            for cm in root.iter(NS + "comment"):
                ref = cm.attrib.get("ref", "A1")
                author = authors[int(cm.attrib.get("authorId", "0"))] \
                    if authors else ""
                if author.startswith("tc={"):
                    continue  # threaded placeholder; real data in XML below
                text = " ".join(
                    "".join(t.text or "" for t in cm.iter(NS + "t")).split())
                if text:
                    by_cell[_split_ref(ref)] = (author, text, "")
        except (KeyError, ET.ParseError, ValueError):
            pass
    if threaded_t:
        TNS = ("{http://schemas.microsoft.com/office/spreadsheetml/2018/"
               "threadedcomments}")
        persons = {}
        try:
            proot = ET.fromstring(zf.read("xl/persons/person.xml"))
            for pe in proot.iter(TNS + "person"):
                persons[pe.attrib.get("id", "")] = \
                    pe.attrib.get("displayName", "")
        except (KeyError, ET.ParseError):
            pass
        try:
            troot = ET.fromstring(zf.read(_rel_target_path(threaded_t)))
            for tc in troot.iter(TNS + "threadedComment"):
                ref = tc.attrib.get("ref", "A1")
                author = persons.get(tc.attrib.get("personId", ""), "")
                dt = tc.attrib.get("dT", "")
                ts = ""
                if dt:
                    try:
                        ts = datetime.fromisoformat(dt).isoformat(
                            timespec="milliseconds")
                    except ValueError:
                        ts = dt
                text = " ".join(
                    "".join(t.text or "" for t in tc.iter(TNS + "text"))
                    .split())
                if text:
                    by_cell[_split_ref(ref)] = (author, text, ts)
        except (KeyError, ET.ParseError):
            pass
    out = []
    for (r, c) in sorted(by_cell):
        author, text, ts = by_cell[(r, c)]
        meta = []
        if author:
            meta.append(f"author: {author}")
        if ts:
            meta.append(f"time: {ts}")
        full = f"[{', '.join(meta)}]: {text}" if meta else text
        out.append(((r, c), full))
    return out


def extract_xlsx(payload: bytes) -> tuple[str, list[Item], dict]:
    """payload (xlsx/xlsm zip bytes) → (extracted_text, items, metrics)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise XlsxError(f"not a zip archive: {exc}") from exc
    with zf:
        try:
            wb = ET.fromstring(zf.read("xl/workbook.xml"))
        except KeyError as exc:
            raise XlsxError("missing xl/workbook.xml") from exc
        rels = {}
        try:
            rr = ET.fromstring(zf.read("xl/_rels/workbook.xml.rels"))
            for rel in rr.iter(REL + "Relationship"):
                rels[rel.attrib.get("Id", "")] = rel.attrib.get("Target", "")
        except KeyError:
            pass
        shared: list[str] = []
        try:
            ss = ET.fromstring(zf.read("xl/sharedStrings.xml"))
            for si in ss.findall(NS + "si"):
                shared.append(
                    "".join(t.text or "" for t in si.iter(NS + "t")))
        except KeyError:
            pass
        date_styles: set[int] = set()
        try:
            st = ET.fromstring(zf.read("xl/styles.xml"))
            custom: dict[int, str] = {}
            for nf in st.iter(NS + "numFmt"):
                custom[int(nf.attrib.get("numFmtId", "0"))] = \
                    nf.attrib.get("formatCode", "")
            xfs = st.find(NS + "cellXfs")
            if xfs is not None:
                for i, xf in enumerate(xfs.findall(NS + "xf")):
                    fid = int(xf.attrib.get("numFmtId", "0"))
                    code = custom.get(fid, "")
                    if fid in _DATE_BUILTIN or (
                            code and _DATE_FMT_RE.search(
                                re.sub(r'"[^"]*"|\[[^\]]*\]', "", code))):
                        date_styles.add(i)
        except KeyError:
            pass

        items = new_items()
        n_sheets = 0
        sheets_el = wb.find(NS + "sheets")
        for sheet_el in (sheets_el or []):
            name = sheet_el.attrib.get("name", "")
            state = sheet_el.attrib.get("state", "visible")
            rid = sheet_el.attrib.get(RNS + "id", "")
            target = rels.get(rid, "")
            if "chartsheet" in target:
                continue
            if not target:
                continue
            path = _rel_target_path(target) if not target.startswith("xl/") \
                else target
            try:
                sheet_xml = zf.read(path)
            except KeyError:
                continue
            layer = "body" if state == "visible" else "furniture"
            n_sheets += 1
            hidx = _mk_item(items, 0, "section_header", 1, name, layer)
            items[hidx]["_hlevel"] = 2
            sh = _load_sheet(sheet_xml, shared, date_styles)
            # collect sheet children with their top rows, then emit in
            # top-row order (the reference's
            # _sort_sheet_children_by_position)
            entries = []
            for seq, bounds in enumerate(_find_tables(sh)):
                entries.append((bounds[0], seq, "table", bounds))
            for seq, (top, kind, payload) in enumerate(
                    _sheet_drawing_objects(zf, path)):
                entries.append((top, 10000 + seq, kind, payload))
            entries.sort(key=lambda e: (e[0], e[1]))
            for _top, _seq, kind, payload in entries:
                if kind == "table":
                    bounds = payload
                    grid = _table_grid(sh, bounds)
                    label, grid = _split_section_label(grid, sh, bounds)
                    if label:
                        _mk_item(items, hidx, "text", 2, label, layer)
                    if not grid or not any(any(c for c in r) for r in grid):
                        continue
                    ncols = max(len(r) for r in grid)
                    md_lines = []
                    for ri2, row in enumerate(grid):
                        cells = [c.replace("|", "&#124;") for c in row]
                        cells += [""] * (ncols - len(cells))
                        md_lines.append("| " + " | ".join(cells) + " |")
                        if ri2 == 0:
                            md_lines.append(
                                "| " + " | ".join("-" for _ in range(ncols))
                                + " |")
                    tidx = _mk_item(items, hidx, "table", 2,
                                    "\n".join(md_lines), layer)
                    items[tidx]["num_rows"] = len(grid)
                    items[tidx]["num_cols"] = ncols
                elif kind == "picture":
                    _mk_item(items, hidx, "picture", 2, "", layer)
                elif kind == "chart":
                    ckind, title, header, rows = payload
                    if title:
                        _mk_item(items, hidx, "caption", 2, title, layer)
                    _mk_item(items, hidx, "picture", 2, "", layer)
                    _mk_item(items, hidx, "text", 2, ckind, layer)
                    tmd = _chart_table_md(header, rows)
                    tidx = _mk_item(items, hidx, "table", 2, tmd, layer)
                    items[tidx]["num_rows"] = len(rows) + 1
                    items[tidx]["num_cols"] = len(header)
            for _cell, full in _sheet_comments(zf, path):
                _mk_item(items, hidx, "text", 2, full, layer)

    return result(items, pages_parsed=max(n_sheets, 1))
