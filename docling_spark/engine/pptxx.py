"""PPTX payload → item table.

Re-expression of the reference PowerPoint backend (docling/backend/
mspowerpoint_backend.py: visual shape ordering :618-688, list-marker
resolution through paragraph/shape/layout/master layers :247-483, text
accumulation :689-758, tables :815+, modern comments :1322+) as a
from-scratch PresentationML reader on stdlib ``zipfile`` + ``xml.etree``
(the reference walks python-pptx objects).

Slide text is kept VERBATIM (runs concatenated, ``a:br`` → one space, no
markdown escaping or whitespace collapse — the reference emits
``paragraph.text`` raw, and the groundtruth keeps trailing spaces and
curly quotes). Pinned against tests/data/pptx groundtruth
(tests/test_pptxx_groundtruth.py).
"""

from __future__ import annotations

import io
import zipfile
import xml.etree.ElementTree as ET

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result
from docling_spark.engine.xlsxx import (
    _CHART_KIND,
    _chart_table_md,
    _parse_chart,
)

P = "{http://schemas.openxmlformats.org/presentationml/2006/main}"
A = "{http://schemas.openxmlformats.org/drawingml/2006/main}"
RNS = "{http://schemas.openxmlformats.org/officeDocument/2006/relationships}"
REL = "{http://schemas.openxmlformats.org/package/2006/relationships}"

_ROW_TOLERANCE_EMU = 45720  # mspowerpoint_backend.py:118

_IMG_MAGIC = (
    b"\x89PNG", b"\xff\xd8\xff", b"GIF8", b"BM", b"II*\x00", b"MM\x00*",
)


class PptxError(ValueError):
    pass


def _read_rels(zf, part_path: str) -> dict[str, tuple[str, str]]:
    """part path → {rId: (type, resolved target path)}."""
    d, _, f = part_path.rpartition("/")
    rel_path = f"{d}/_rels/{f}.rels"
    out: dict[str, tuple[str, str]] = {}
    try:
        root = ET.fromstring(zf.read(rel_path))
    except KeyError:
        return out
    for r in root.iter(REL + "Relationship"):
        target = r.attrib.get("Target", "")
        if target.startswith("/"):
            resolved = target.lstrip("/")
        else:
            base = d
            t = target
            while t.startswith("../"):
                t = t[3:]
                base = base.rpartition("/")[0]
            resolved = f"{base}/{t}" if base else t
        out[r.attrib.get("Id", "")] = (r.attrib.get("Type", ""), resolved)
    return out


def _parse_bullet_props(pPr):
    """a:pPr / a:lvlNpPr → (is_list, kind) — msppt :269-310."""
    if pPr is None:
        return None, None
    if pPr.find(A + "buNone") is not None:
        return False, "buNone"
    if pPr.find(A + "buChar") is not None:
        return True, "buChar"
    if pPr.find(A + "buAutoNum") is not None:
        return True, "buAutoNum"
    if pPr.find(A + "buBlip") is not None:
        return True, "buBlip"
    return None, None


def _lst_style_bullet(container, lvl: int):
    if container is None:
        return None, None
    lst = container.find(A + "lstStyle")
    if lst is None:
        return None, None
    return _parse_bullet_props(lst.find(f"{A}lvl{lvl + 1}pPr"))


def _para_level(p) -> int:
    pPr = p.find(A + "pPr")
    if pPr is not None and "lvl" in pPr.attrib:
        try:
            return int(pPr.attrib["lvl"])
        except ValueError:
            pass
    return 0


def _para_text(p) -> str:
    """Run concat with a:br → space (msppt :703-709), kept verbatim."""
    parts = []
    for child in p:
        if child.tag == A + "br":
            parts.append(" ")
        elif child.tag in (A + "r", A + "fld"):
            for t in child.findall(A + "t"):
                parts.append(t.text or "")
    return "".join(parts)


def _shape_text(sp) -> str:
    tx = sp.find(f"{P}txBody")
    if tx is None:
        return ""
    return "\n".join(_para_text(p) for p in tx.findall(A + "p"))


class _SlideCtx:
    """Layout/master lookups for placeholder list-style inheritance."""

    def __init__(self, zf, slide_path: str):
        self.zf = zf
        rels = _read_rels(zf, slide_path)
        self.layout_root = None
        self.master_root = None
        self.notes_path = None
        self.comment_paths = []
        layout_path = None
        for _rid, (typ, target) in rels.items():
            if typ.endswith("/slideLayout"):
                layout_path = target
            elif typ.endswith("/notesSlide"):
                self.notes_path = target
            elif typ.endswith("comments") or "comments" in typ:
                self.comment_paths.append(target)
        if layout_path:
            try:
                self.layout_root = ET.fromstring(zf.read(layout_path))
                for _rid, (typ, target) in _read_rels(zf, layout_path).items():
                    if typ.endswith("/slideMaster"):
                        self.master_root = ET.fromstring(zf.read(target))
                        break
            except (KeyError, ET.ParseError):
                pass

    def layout_placeholder(self, idx: str | None, ph_type: str | None):
        if self.layout_root is None:
            return None
        for sp in self.layout_root.iter(P + "sp"):
            ph = sp.find(f"{P}nvSpPr/{P}nvPr/{P}ph")
            if ph is None:
                continue
            if idx is not None and ph.attrib.get("idx") == idx:
                return sp.find(f"{P}txBody")
            if idx is None and ph_type and ph.attrib.get("type") == ph_type:
                return sp.find(f"{P}txBody")
        return None

    def master_style(self, ph_type: str | None, lvl: int):
        if self.master_root is None:
            return None, None
        tx = self.master_root.find(f".//{P}txStyles")
        if tx is None:
            return None, None
        if ph_type in (None, "body", "obj"):
            style = tx.find(P + "bodyStyle")
        elif ph_type in ("title", "ctrTitle"):
            style = tx.find(P + "titleStyle")
        else:
            style = tx.find(P + "otherStyle")
        if style is None:
            return None, None
        return _parse_bullet_props(style.find(f"{A}lvl{lvl + 1}pPr"))


def _is_list_item(sp, p, ctx: _SlideCtx) -> tuple[bool, bool]:
    """→ (is_list, enumerated) — msppt :416-483 layered resolution."""
    lvl = _para_level(p)
    is_list, kind = _parse_bullet_props(p.find(A + "pPr"))
    if is_list is None:
        is_list, kind = _lst_style_bullet(sp.find(f"{P}txBody"), lvl)
    if is_list is None:
        ph = sp.find(f"{P}nvSpPr/{P}nvPr/{P}ph")
        if ph is not None:
            idx = ph.attrib.get("idx")
            ph_type = ph.attrib.get("type")
            layout_is, layout_kind = _lst_style_bullet(
                ctx.layout_placeholder(idx, ph_type), lvl)
            m_is, m_kind = ctx.master_style(ph_type, lvl)
            if m_kind in ("buChar", "buAutoNum", "buBlip"):
                is_list, kind = True, m_kind
            elif m_is is not None:
                is_list, kind = m_is, m_kind
            elif layout_is is not None:
                is_list, kind = layout_is, layout_kind
    if is_list is True or kind in ("buChar", "buAutoNum", "buBlip"):
        return True, kind == "buAutoNum"
    if is_list is False:
        return False, False
    return (lvl > 0), False


def _shape_pos(sp) -> tuple[int, int] | None:
    xfrm = sp.find(f".//{A}xfrm/{A}off")
    if xfrm is None:
        xfrm = sp.find(f"{P}xfrm/{A}off")  # graphicFrame position
    if xfrm is None:
        return None
    try:
        return int(xfrm.attrib.get("y", "0")), int(xfrm.attrib.get("x", "0"))
    except ValueError:
        return None


def _order_shapes(shapes: list, pos_fn=None) -> list:
    """Visual order: rows within 45720 EMU tolerance, then left-to-right
    (msppt :618-688); position-less shapes keep relative order at the end."""
    INF = 2 ** 63 - 1
    entries = []
    for i, sp in enumerate(shapes):
        pos = (pos_fn or _shape_pos)(sp)
        top, left = pos if pos else (INF, INF)
        entries.append((top, left, i, sp))
    entries.sort(key=lambda e: (e[0], e[2]))
    rows: list[list] = []
    cur: list = []
    prev_top = None
    for e in entries:
        if prev_top is None or e[0] - prev_top <= _ROW_TOLERANCE_EMU:
            cur.append(e)
            prev_top = e[0]
        else:
            rows.append(cur)
            cur = [e]
            prev_top = e[0]
    if cur:
        rows.append(cur)
    out = []
    for row in rows:
        out.extend(e[3] for e in sorted(row, key=lambda e: (e[1], e[2])))
    return out


def _table_md(tbl) -> str:
    rows = tbl.findall(A + "tr")
    grid: list[list[str | None]] = []
    nrows = len(rows)
    for tr in rows:
        grid.append([])
    occupied: dict[tuple[int, int], str] = {}
    for ri, tr in enumerate(rows):
        ci = 0
        for tc in tr.findall(A + "tc"):
            while (ri, ci) in occupied:
                ci += 1
            gs = int(tc.attrib.get("gridSpan", "1"))
            rs = int(tc.attrib.get("rowSpan", "1"))
            if tc.attrib.get("hMerge") or tc.attrib.get("vMerge"):
                # continuation cell: its grid position was already filled
                # by the origin's gridSpan/rowSpan — consume nothing
                continue
            text = " ".join(
                "".join(t.text or "" for t in tc.iter(A + "t")).split())
            for dr in range(rs):
                for dc in range(gs):
                    occupied[(ri + dr, ci + dc)] = text
            ci += gs
    ncols = max((c for (_r, c) in occupied), default=-1) + 1
    md = []
    for ri in range(nrows):
        cells = [(occupied.get((ri, c), "") or "").replace("|", "&#124;")
                 for c in range(ncols)]
        md.append("| " + " | ".join(cells) + " |")
        if ri == 0:
            md.append("| " + " | ".join("-" for _ in range(ncols)) + " |")
    return "\n".join(md)


def extract_pptx(payload: bytes) -> tuple[str, list[Item], dict]:
    """payload (pptx zip bytes) → (extracted_text, items, metrics)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise PptxError(f"not a zip archive: {exc}") from exc
    with zf:
        try:
            pres = ET.fromstring(zf.read("ppt/presentation.xml"))
        except KeyError as exc:
            raise PptxError("missing ppt/presentation.xml") from exc
        # content types: malformed/wrongly-typed image parts are skipped
        # (the reference's PIL open raises through python-pptx)
        CT = "{http://schemas.openxmlformats.org/package/2006/content-types}"
        ct_default: dict[str, str] = {}
        ct_override: dict[str, str] = {}
        try:
            ct_root = ET.fromstring(zf.read("[Content_Types].xml"))
            for el in ct_root.iter(CT + "Default"):
                ct_default[el.attrib.get("Extension", "").lower()] = \
                    el.attrib.get("ContentType", "")
            for el in ct_root.iter(CT + "Override"):
                ct_override[el.attrib.get("PartName", "").lstrip("/")] = \
                    el.attrib.get("ContentType", "")
        except (KeyError, ET.ParseError):
            pass

        def image_part_ok(path: str) -> bool:
            ct = ct_override.get(path) or ct_default.get(
                path.rsplit(".", 1)[-1].lower(), "")
            return ct.startswith("image/")
        pres_rels = _read_rels(zf, "ppt/presentation.xml")
        authors: dict[str, tuple[str, str]] = {}
        for _rid, (typ, target) in pres_rels.items():
            if "commentAuthors" in typ or "authors" in typ:
                try:
                    aroot = ET.fromstring(zf.read(target))
                    for a_el in aroot.iter(P + "cmAuthor"):
                        authors[a_el.attrib.get("id", "")] = (
                            a_el.attrib.get("name", ""),
                            a_el.attrib.get("initials", ""),
                        )
                except (KeyError, ET.ParseError):
                    pass

        slide_paths = []
        sld_lst = pres.find(P + "sldIdLst")
        if sld_lst is not None:
            for sld in sld_lst.findall(P + "sldId"):
                rid = sld.attrib.get(RNS + "id", "")
                if rid in pres_rels:
                    slide_paths.append(pres_rels[rid][1])

        items = new_items()

        for slide_path in slide_paths:
            try:
                slide = ET.fromstring(zf.read(slide_path))
            except (KeyError, ET.ParseError):
                continue
            ctx = _SlideCtx(zf, slide_path)
            sp_tree = slide.find(f"{P}cSld/{P}spTree")
            if sp_tree is None:
                continue

            def eff_pos(sp):
                pos = _shape_pos(sp)
                if pos is not None:
                    return pos
                ph = sp.find(f"{P}nvSpPr/{P}nvPr/{P}ph") \
                    if sp.tag == P + "sp" else None
                if ph is not None:
                    lp = ctx.layout_placeholder(ph.attrib.get("idx"),
                                                ph.attrib.get("type"))
                    # layout_placeholder returns the txBody; we need the
                    # shape — search the layout directly
                    if ctx.layout_root is not None:
                        for lsp in ctx.layout_root.iter(P + "sp"):
                            lph = lsp.find(f"{P}nvSpPr/{P}nvPr/{P}ph")
                            if lph is None:
                                continue
                            if (ph.attrib.get("idx") is not None
                                    and lph.attrib.get("idx")
                                    == ph.attrib.get("idx")) or (
                                    ph.attrib.get("idx") is None
                                    and lph.attrib.get("type")
                                    == ph.attrib.get("type")):
                                lpos = _shape_pos(lsp)
                                if lpos is not None:
                                    return lpos
                    # master fallback (python-pptx placeholder inheritance
                    # walks layout, then master, matched by type)
                    if ctx.master_root is not None:
                        want = ph.attrib.get("type") or "body"
                        if want == "ctrTitle":
                            want = "title"
                        for msp in ctx.master_root.iter(P + "sp"):
                            mph = msp.find(f"{P}nvSpPr/{P}nvPr/{P}ph")
                            if mph is not None and \
                                    (mph.attrib.get("type") or "body") == want:
                                mpos = _shape_pos(msp)
                                if mpos is not None:
                                    return mpos
                return None

            def top_level(tree):
                return [ch for ch in tree
                        if ch.tag in (P + "sp", P + "graphicFrame",
                                      P + "pic", P + "grpSp")]

            def handle(sp) -> None:
                if sp.tag == P + "grpSp":
                    for sub in _order_shapes(top_level(sp)):
                        handle(sub)
                    return
                if sp.tag == P + "graphicFrame":
                    tbl = sp.find(f".//{A}tbl")
                    if tbl is not None:
                        md = _table_md(tbl)
                        if md:
                            idx = _mk_item(items, 0, "table", 1, md, "body")
                        return
                    # chart?
                    rid = None
                    for el in sp.iter():
                        if el.tag.endswith("}chart"):
                            rid = el.attrib.get(RNS + "id")
                            break
                    if rid:
                        rels = _read_rels(zf, slide_path)
                        target = rels.get(rid, ("", ""))[1]
                        if target:
                            try:
                                parsed = _parse_chart(zf.read(target))
                            except (KeyError, ET.ParseError):
                                parsed = None
                            if parsed:
                                ckind, title, header, rows2 = parsed
                                if title:
                                    _mk_item(items, 0, "caption", 1, title,
                                             "body")
                                _mk_item(items, 0, "picture", 1, "", "body")
                                _mk_item(items, 0, "text", 1, ckind, "body")
                                _mk_item(items, 0, "table", 1,
                                         _chart_table_md(header, rows2),
                                         "body")
                    return
                if sp.tag == P + "pic":
                    # emit only when the embedded blob is a decodable
                    # image (the reference opens with PIL and skips
                    # malformed pictures)
                    rid = None
                    for el in sp.iter(A + "blip"):
                        rid = el.attrib.get(RNS + "embed")
                        break
                    if rid:
                        rels = _read_rels(zf, slide_path)
                        target = rels.get(rid, ("", ""))[1]
                        try:
                            head = zf.read(target)[:8]
                        except KeyError:
                            return
                        if image_part_ok(target) and any(
                                head.startswith(m) for m in _IMG_MAGIC):
                            _mk_item(items, 0, "picture", 1, "", "body")
                    return
                # p:sp — text shape
                txt = _shape_text(sp)
                if not txt.strip():
                    return
                ph = sp.find(f"{P}nvSpPr/{P}nvPr/{P}ph")
                ph_type = ph.attrib.get("type") if ph is not None else None
                tx = sp.find(f"{P}txBody")
                in_list = False
                enum_value = 0
                gidx = None
                for p in tx.findall(A + "p"):
                    p_text = _para_text(p)
                    is_list, enumerated = _is_list_item(sp, p, ctx)
                    if is_list:
                        if not in_list:
                            gidx = _mk_item(items, 0, "list", 1, "list",
                                            "body")
                            in_list = True
                            enum_value = 0
                        marker = "-"
                        if enumerated:
                            enum_value += 1
                            marker = f"{enum_value}."
                        li = _mk_item(items, gidx, "list_item", 2,
                                      p_text, "body")
                        items[li]["_marker"] = marker
                    else:
                        in_list = False
                        if not p_text.strip():
                            continue
                        if ph_type in ("title", "ctrTitle"):
                            idx2 = _mk_item(items, 0, "title", 1,
                                            p_text.strip(), "body")
                            items[idx2]["_hlevel"] = 1
                        else:
                            _mk_item(items, 0, "text", 1, p_text, "body")

            for sp in _order_shapes(top_level(sp_tree), eff_pos):
                handle(sp)

            # modern comments: [author: Name (IN), time: dt-verbatim]: text
            for cpath in ctx.comment_paths:
                try:
                    croot = ET.fromstring(zf.read(cpath))
                except (KeyError, ET.ParseError):
                    continue
                for cm in croot.iter(P + "cm"):
                    text_el = cm.find(P + "text")
                    raw = (text_el.text or "").strip() \
                        if text_el is not None else ""
                    if not raw:
                        continue
                    name, initials = authors.get(
                        cm.attrib.get("authorId", ""), ("", ""))
                    meta = []
                    if name:
                        s = f"author: {name}"
                        if initials:
                            s += f" ({initials})"
                        meta.append(s)
                    dt = cm.attrib.get("dt", "")
                    if dt:
                        meta.append(f"time: {dt}")
                    full = f"[{', '.join(meta)}]: {raw}" if meta else raw
                    _mk_item(items, 0, "text", 1, full, "body")

    return result(items, pages_parsed=max(len(slide_paths), 1))
