"""Legacy PowerPoint (.ppt, PPT97 binary) native parser — pure stdlib.

The reference cannot read .ppt itself: it shells out to LibreOffice to
up-convert to .pptx (tests/test_backend_legacy_msoffice.py:1-30,
docling/backend/docx/drawingml/utils.py:79-120) and raises when soffice
is absent. This module parses the PPT97 record stream natively (OLE2
container via engine/olex.py) following the public [MS-PPT] / [MS-ODRAW]
specs:

- the live document is resolved through the Current User stream →
  UserEditAtom chain → PersistPtrIncrementalBlock persist directory
  (incremental-edit files carry stale containers that a naive stream
  scan would double-count);
- slides come from the current DocumentContainer's SlideListWithText
  (instance 0) SlidePersistAtoms, in presentation order;
- shape text lives in OfficeArt SpContainers (ClientTextbox →
  TextHeaderAtom + TextChars/TextBytesAtom + StyleTextPropAtom);
- paragraph bullet state decodes from TextPFException runs (bulletFlags
  bit 0; absent runs inherit the master default — bullets on for BODY
  placeholders only); a bullet-font override (PFMasks.bulletFont) marks
  autonumbered paragraphs in this corpus (the PP9 autonumber extension
  atoms are absent from it);
- PowerPoint 97 tables are shape groups whose members tile the group
  rect: cell rects are snapped to shared row/column boundaries and
  merged spans expand their text across covered grid cells (same
  expansion the xlsx/docling grid model uses);
- visual order is row-banding then left-to-right, the same rule as the
  reference's pptx backend (mspowerpoint_backend.py:618-688), at the
  .ppt master-unit scale (1/576 inch: 45720 EMU tolerance = 29 units).

Pinned against tests/data/ppt/groundtruth/legacy_sample.ppt.{md,itxt}
(markdown byte-exact; item tree exact — see tests/test_pptbinx.py).
"""

from __future__ import annotations

import struct

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result
from docling_spark.engine.olex import OleError, OleFile

__all__ = ["PptError", "extract_ppt", "synthesize_ppt"]

_RT_DOCUMENT = 0x03E8
_RT_SLIDE = 0x03EE
_RT_SLWT = 0x0FF0
_RT_SLIDE_PERSIST = 0x03F3
_RT_USER_EDIT = 0x0FF5
_RT_CURRENT_USER = 0x0FF6
_RT_PERSIST_DIR = 0x1772
_RT_TEXT_HEADER = 0x0F9F
_RT_TEXT_CHARS = 0x0FA0
_RT_TEXT_BYTES = 0x0FA8
_RT_STYLE_TEXT = 0x0FA1
_SP_CONTAINER = 0xF004
_SPGR_CONTAINER = 0xF003
_SP_ATOM = 0xF00A
_SPGR_ATOM = 0xF009
_CHILD_ANCHOR = 0xF00F
_CLIENT_ANCHOR = 0xF010
_CLIENT_TEXTBOX = 0xF00D
_RT_OUTLINE_REF = 0x0F9E

# row-banding tolerance: 45720 EMU (mspowerpoint_backend.py:618-688)
# converted to PPT master units (1/576 inch; 45720/914400*576 = 28.8)
_ROW_TOL = 29

_TX_TITLE = 0
_TX_BODY = 1
_TX_CENTER_TITLE = 6


class PptError(ValueError):
    pass


def _children(buf: bytes, off: int, end: int):
    out = []
    while off + 8 <= end:
        vi, rt, ln = struct.unpack_from("<HHI", buf, off)
        out.append((vi, rt, off + 8, min(off + 8 + ln, end)))
        off += 8 + ln
    return out


def _persist_directory(ppt: bytes, cu: bytes) -> tuple[dict[int, int], int]:
    """UserEditAtom chain → {persist_id: offset}, doc persist id.

    Later edits override earlier ones, so the chain (current → oldest)
    is applied in reverse."""
    vi, rt, _ln = struct.unpack_from("<HHI", cu, 0)
    if rt != _RT_CURRENT_USER:
        raise PptError("no CurrentUserAtom")
    (_size, _token, off_edit) = struct.unpack_from("<III", cu, 8)
    edits = []
    seen = set()
    while off_edit and off_edit not in seen and off_edit + 8 <= len(ppt):
        seen.add(off_edit)
        vi, rt, ln = struct.unpack_from("<HHI", ppt, off_edit)
        if rt != _RT_USER_EDIT:
            break
        (_last_slide, _ver, off_last, off_pdir, doc_pid,
         _seed) = struct.unpack_from("<IIIIII", ppt, off_edit + 8)
        edits.append((off_pdir, doc_pid))
        off_edit = off_last
    if not edits:
        raise PptError("no UserEditAtom chain")
    directory: dict[int, int] = {}
    for off_pdir, _pid in reversed(edits):
        if off_pdir + 8 > len(ppt):
            continue
        vi, rt, ln = struct.unpack_from("<HHI", ppt, off_pdir)
        if rt != _RT_PERSIST_DIR:
            continue
        p, endp = off_pdir + 8, off_pdir + 8 + ln
        while p + 4 <= endp:
            (word,) = struct.unpack_from("<I", ppt, p)
            p += 4
            start_id, cnt = word & 0xFFFFF, word >> 20
            for k in range(cnt):
                if p + 4 > endp:
                    break
                directory[start_id + k] = struct.unpack_from("<I", ppt, p)[0]
                p += 4
    return directory, edits[0][1]


def _slide_entries(ppt: bytes, cu: bytes):
    """Presentation-order [(slide_offset, slwt_texts)] via the persist
    directory; falls back to a stream-order SlideContainer scan.

    ``slwt_texts`` is the slide's outline text carried INSIDE the
    SlideListWithText ([txtype, text, pf_runs] per TextHeaderAtom) —
    drawing shapes reference these by index with OutlineTextRefAtom
    instead of embedding their own TextChars/BytesAtom."""
    try:
        directory, doc_pid = _persist_directory(ppt, cu)
        doc_off = directory.get(doc_pid)
        if doc_off is None:
            raise PptError("document persist unresolved")
        vi, rt, ln = struct.unpack_from("<HHI", ppt, doc_off)
        if rt != _RT_DOCUMENT:
            raise PptError("doc persist is not a DocumentContainer")
        entries = []
        for vi2, rt2, s2, e2 in _children(ppt, doc_off + 8, doc_off + 8 + ln):
            if rt2 != _RT_SLWT or (vi2 >> 4) != 0:
                continue
            cur: list | None = None
            for vi3, rt3, s3, e3 in _children(ppt, s2, e2):
                if rt3 == _RT_SLIDE_PERSIST and e3 - s3 >= 4:
                    pid = struct.unpack_from("<I", ppt, s3)[0]
                    off = directory.get(pid)
                    cur = None
                    if off is not None and off + 8 <= len(ppt):
                        cur = []
                        entries.append((off, cur))
                elif cur is None:
                    continue
                elif rt3 == _RT_TEXT_HEADER and e3 - s3 >= 4:
                    cur.append(
                        [struct.unpack_from("<I", ppt, s3)[0], "", []])
                elif rt3 == _RT_TEXT_CHARS and cur:
                    cur[-1][1] = ppt[s3:e3].decode("utf-16-le", "replace")
                elif rt3 == _RT_TEXT_BYTES and cur:
                    cur[-1][1] = ppt[s3:e3].decode("latin-1")
                elif rt3 == _RT_STYLE_TEXT and cur and cur[-1][1]:
                    cur[-1][2] = _decode_pf_runs(
                        bytes(ppt[s3:e3]), len(cur[-1][1]) + 1)
        if entries:
            return entries
    except (PptError, struct.error):
        pass
    return [(s - 8, []) for vi, rt, s, e in _children(ppt, 0, len(ppt))
            if rt == _RT_SLIDE]


class _Shape:
    """A drawing shape: either a text shape or a group of shapes."""

    def __init__(self):
        self.anchor: tuple[int, int, int, int] | None = None  # t, l, r, b
        self.txtype: int | None = None
        self.text: str | None = None
        self.pf_runs: list[tuple[int, dict]] = []
        self.members: list[_Shape] | None = None  # set for groups
        self.patriarch = False
        self.outline_ref: int | None = None  # OutlineTextRefAtom index


def _decode_pf_runs(data: bytes, total: int) -> list[tuple[int, dict]]:
    """StyleTextPropAtom → paragraph-level (count, props) runs
    ([MS-PPT] TextPFRun / TextPFException field order)."""
    runs: list[tuple[int, dict]] = []
    off, covered = 0, 0
    try:
        while covered < total and off + 10 <= len(data):
            count, _indent = struct.unpack_from("<IH", data, off)
            off += 6
            (mask,) = struct.unpack_from("<I", data, off)
            off += 4
            p: dict = {}

            def rd(n: int, name: str):
                nonlocal off
                p[name] = int.from_bytes(
                    data[off:off + n], "little", signed=False)
                off += n

            if mask & 0xF:
                rd(2, "bulletFlags")
            if mask & 0x80:
                rd(2, "bulletChar")
            if mask & 0x10:
                rd(2, "bulletFontRef")
            if mask & 0x40:
                rd(2, "bulletSize")
            if mask & 0x20:
                rd(4, "bulletColor")
            if mask & 0x800:
                rd(2, "align")
            if mask & 0x1000:
                rd(2, "lineSpacing")
            if mask & 0x2000:
                rd(2, "spaceBefore")
            if mask & 0x4000:
                rd(2, "spaceAfter")
            if mask & 0x100:
                rd(2, "leftMargin")
            if mask & 0x400:
                rd(2, "indent")
            if mask & 0x8000:
                rd(2, "defaultTabSize")
            if mask & 0x100000:
                (cnt,) = struct.unpack_from("<H", data, off)
                off += 2 + 4 * cnt
            if mask & 0x10000:
                rd(2, "fontAlign")
            if mask & 0xE0000:
                rd(2, "wrapFlags")
            if mask & 0x200000:
                rd(2, "textDirection")
            runs.append((count, p))
            covered += count
    except struct.error:
        pass
    return runs


def _parse_sp(buf: bytes, s: int, e: int) -> _Shape:
    sh = _Shape()
    for vi, rt, cs, ce in _children(buf, s, e):
        if rt == _SP_ATOM and ce - cs >= 8:
            flags = struct.unpack_from("<II", buf, cs)[1]
            sh.patriarch = bool(flags & 0x4)
        elif rt == _CHILD_ANCHOR and ce - cs >= 16:
            l, t, r, b = struct.unpack_from("<iiii", buf, cs)
            sh.anchor = (t, l, r, b)
        elif rt == _CLIENT_ANCHOR:
            if ce - cs >= 16:
                l, t, r, b = struct.unpack_from("<iiii", buf, cs)
                sh.anchor = (t, l, r, b)
            elif ce - cs >= 8:
                # 8-byte form is top,left,right,bottom int16 ([MS-PPT])
                t, l, r, b = struct.unpack_from("<hhhh", buf, cs)
                sh.anchor = (t, l, r, b)
        elif rt == _CLIENT_TEXTBOX:
            for vi2, rt2, s2, e2 in _children(buf, cs, ce):
                if rt2 == _RT_TEXT_HEADER and e2 - s2 >= 4:
                    sh.txtype = struct.unpack_from("<I", buf, s2)[0]
                elif rt2 == _RT_TEXT_CHARS:
                    sh.text = buf[s2:e2].decode("utf-16-le", "replace")
                elif rt2 == _RT_TEXT_BYTES:
                    sh.text = buf[s2:e2].decode("latin-1")
                elif rt2 == _RT_STYLE_TEXT and sh.text is not None:
                    sh.pf_runs = _decode_pf_runs(
                        bytes(buf[s2:e2]), len(sh.text) + 1)
                elif rt2 == _RT_OUTLINE_REF and e2 - s2 >= 4:
                    sh.outline_ref = struct.unpack_from("<i", buf, s2)[0]
    return sh


def _parse_spgr(buf: bytes, s: int, e: int) -> _Shape:
    group = _Shape()
    group.members = []
    first = True
    for vi, rt, cs, ce in _children(buf, s, e):
        if rt == _SP_CONTAINER:
            sh = _parse_sp(buf, cs, ce)
            if first:
                # the group-holder shape: carries the group's own anchor
                group.anchor = sh.anchor
                group.patriarch = sh.patriarch
                first = False
            else:
                group.members.append(sh)
        elif rt == _SPGR_CONTAINER:
            sub = _parse_spgr(buf, cs, ce)
            if not sub.patriarch:
                group.members.append(sub)
            first = False
    return group


def _slide_shapes(buf: bytes, s: int, e: int) -> list[_Shape]:
    """SlideContainer → top-level drawing shapes."""
    out: list[_Shape] = []

    def walk(ss: int, ee: int):
        for vi, rt, cs, ce in _children(buf, ss, ee):
            if rt == _SPGR_CONTAINER:
                grp = _parse_spgr(buf, cs, ce)
                if grp.patriarch:
                    # the drawing patriarch group: its members ARE the
                    # slide's top-level shapes
                    out.extend(grp.members or [])
                else:
                    out.append(grp)
            elif rt == _SP_CONTAINER:
                out.append(_parse_sp(buf, cs, ce))
            elif vi & 0xF == 0xF:
                walk(cs, ce)

    walk(s, e)
    return [sh for sh in out if not sh.patriarch]


def _band_order(shapes: list[_Shape]) -> list[_Shape]:
    """Rows within _ROW_TOL, then left-to-right
    (mspowerpoint_backend.py:618-688 re-expressed at master-unit scale)."""
    INF = 2 ** 31
    entries = []
    for i, sh in enumerate(shapes):
        t, l = (sh.anchor[0], sh.anchor[1]) if sh.anchor else (INF, INF)
        entries.append((t, l, i, sh))
    entries.sort(key=lambda x: (x[0], x[2]))
    rows: list[list] = []
    cur: list = []
    prev = None
    for ent in entries:
        if prev is None or ent[0] - prev <= _ROW_TOL:
            cur.append(ent)
        else:
            rows.append(cur)
            cur = [ent]
        prev = ent[0]
    if cur:
        rows.append(cur)
    out: list[_Shape] = []
    for row in rows:
        out.extend(ent[3] for ent in sorted(row, key=lambda x: (x[1], x[2])))
    return out


def _try_table(group: _Shape) -> list[list[str]] | None:
    """A PPT97 table is a group whose member rects tile a grid: snap
    edges to shared boundaries; merged cells expand their text across
    the covered positions. Returns the grid or None (not a table)."""
    members = group.members or []
    if any(m.anchor is None or m.members is not None for m in members):
        return None
    # border strokes are zero-width/height members lying on the cell
    # boundaries — only proper rects are cells
    cells = [m for m in members
             if m.anchor[2] > m.anchor[1] and m.anchor[3] > m.anchor[0]]
    if len(cells) < 4:
        return None
    xs = sorted({m.anchor[1] for m in cells} | {m.anchor[2] for m in cells})
    ys = sorted({m.anchor[0] for m in cells} | {m.anchor[3] for m in cells})
    ncols, nrows = len(xs) - 1, len(ys) - 1
    if ncols < 2 or nrows < 2:
        return None
    import bisect

    grid = [["" for _ in range(ncols)] for _ in range(nrows)]
    occupied = [[False] * ncols for _ in range(nrows)]
    area = 0
    for m in cells:
        t, l, r, b = m.anchor
        c1, c2 = bisect.bisect_left(xs, l), bisect.bisect_left(xs, r)
        r1, r2 = bisect.bisect_left(ys, t), bisect.bisect_left(ys, b)
        if c2 <= c1 or r2 <= r1:
            return None
        text = " ".join((m.text or "").replace("\r", " ").split())
        for ri in range(r1, r2):
            for ci in range(c1, c2):
                if occupied[ri][ci]:
                    return None  # overlapping members: not a table
                occupied[ri][ci] = True
                grid[ri][ci] = text
        area += (r - l) * (b - t)
    gw, gh = xs[-1] - xs[0], ys[-1] - ys[0]
    if gw <= 0 or gh <= 0 or area < 0.9 * gw * gh:
        return None
    return grid


def _grid_md(grid: list[list[str]]) -> str:
    ncols = max(len(r) for r in grid)
    lines = []
    for ri, row in enumerate(grid):
        cells = [c.replace("|", "&#124;") for c in row]
        cells += [""] * (ncols - len(cells))
        lines.append("| " + " | ".join(cells) + " |")
        if ri == 0:
            lines.append("| " + " | ".join("-" for _ in range(ncols)) + " |")
    return "\n".join(lines)


def _paragraphs(sh: _Shape) -> list[tuple[str, bool, bool]]:
    """Shape text → [(text, is_bullet, is_ordered)] per paragraph.

    Explicit TextPFException bulletFlags bit 0 wins; paragraphs without
    one inherit the master default — bullets on only for BODY
    placeholders (TxMasterStyleAtom defaults; pinned by the corpus). A
    bullet-font override marks autonumbered paragraphs."""
    text = sh.text or ""
    paras = text.split("\r")
    out = []
    run_iter = list(sh.pf_runs)
    ri, consumed_in_run = 0, 0
    for pi, para in enumerate(paras):
        need = len(para) + 1
        props: dict = {}
        if ri < len(run_iter):
            props = run_iter[ri][1]
            consumed_in_run += need
            while ri < len(run_iter) and consumed_in_run >= run_iter[ri][0]:
                consumed_in_run -= run_iter[ri][0]
                ri += 1
        if "bulletFlags" in props:
            bullet = bool(props["bulletFlags"] & 1)
        else:
            bullet = sh.txtype == _TX_BODY
        ordered = bullet and "bulletFontRef" in props
        out.append((para.replace("\x0b", " "), bullet, ordered))
    return out


def _emit_shape(items: list[Item], chapter: int, sh: _Shape) -> None:
    if sh.members is not None:
        grid = _try_table(sh)
        if grid is not None:
            tidx = _mk_item(items, chapter, "table", 2, _grid_md(grid),
                            "body")
            items[tidx]["num_rows"] = len(grid)
            items[tidx]["num_cols"] = max(len(r) for r in grid)
            return
        for member in _band_order(sh.members):
            _emit_shape(items, chapter, member)
        return
    if not sh.text or not sh.text.strip():
        return
    if sh.txtype in (_TX_TITLE, _TX_CENTER_TITLE):
        title = " ".join(sh.text.replace("\r", " ").split())
        _mk_item(items, chapter, "title", 2, title, "body")
        return
    group_idx = -1
    n_in_group = 0
    for para, bullet, ordered in _paragraphs(sh):
        if not para.strip():
            group_idx = -1
            continue
        if bullet:
            if group_idx < 0:
                group_idx = _mk_item(items, chapter, "list", 2, "list",
                                     "body")
                n_in_group = 0
            n_in_group += 1
            li = _mk_item(items, group_idx, "list_item", 3, para, "body")
            items[li]["_marker"] = f"{n_in_group}." if ordered else "-"
        else:
            group_idx = -1
            _mk_item(items, chapter, "paragraph", 2, para, "body")


def extract_ppt(payload: bytes) -> tuple[str, list[Item], dict]:
    """payload (.ppt OLE2 bytes) → (extracted_text, items, metrics)."""
    try:
        ole = OleFile(payload)
    except OleError as exc:
        raise PptError(f"not an OLE2 file: {exc}") from exc
    try:
        names = ole.streams()
        if "PowerPoint Document" not in names:
            raise PptError("no PowerPoint Document stream")
        ppt = ole.read("PowerPoint Document")
        cu = ole.read("Current User") if "Current User" in names else b""
    except OleError as exc:
        # chain cycles / bounds violations surface lazily from read()
        raise PptError(f"corrupt OLE2 container: {exc}") from exc
    try:
        entries = _slide_entries(ppt, cu)
    except struct.error as exc:
        raise PptError(f"malformed PPT stream: {exc}") from exc

    def resolve_outline(sh: _Shape, slwt: list) -> None:
        if sh.members is not None:
            for member in sh.members:
                resolve_outline(member, slwt)
        elif sh.text is None and sh.outline_ref is not None \
                and 0 <= sh.outline_ref < len(slwt):
            txtype, text, pf_runs = slwt[sh.outline_ref]
            sh.txtype, sh.text, sh.pf_runs = txtype, text, pf_runs

    items = new_items()
    n_slides = 0
    for off, slwt in entries:
        vi, rt, ln = struct.unpack_from("<HHI", ppt, off)
        if rt != _RT_SLIDE:
            continue
        chapter = _mk_item(items, 0, "chapter", 1, f"slide-{n_slides}",
                           "body")
        n_slides += 1
        try:
            shapes = _slide_shapes(ppt, off + 8, off + 8 + ln)
        except struct.error:
            continue
        for sh in shapes:
            resolve_outline(sh, slwt)
        for sh in _band_order(shapes):
            _emit_shape(items, chapter, sh)

    return result(items, pages_parsed=max(n_slides, 1))


def _rec(rt: int, payload: bytes, ver: int = 0, inst: int = 0) -> bytes:
    return struct.pack("<HHI", (inst << 4) | ver, rt, len(payload)) + payload


def _container(rt: int, payload: bytes, inst: int = 0) -> bytes:
    return _rec(rt, payload, ver=0xF, inst=inst)


def _ole2_streams(streams: list[tuple[str, bytes]]) -> bytes:
    from docling_spark.engine.olex import write_ole2

    return write_ole2(streams)


def _text_records(txtype: int, text: str, style: bytes | None) -> bytes:
    tb = _rec(_RT_TEXT_HEADER, struct.pack("<I", txtype))
    try:
        tb += _rec(_RT_TEXT_BYTES, text.encode("latin-1"))
    except UnicodeEncodeError:
        tb += _rec(_RT_TEXT_CHARS, text.encode("utf-16-le"))
    if style is not None:
        tb += _rec(_RT_STYLE_TEXT, style)
    return tb


def _sp_shape(spid: int, anchor: tuple[int, int, int, int], txtype: int,
              text: str, style: bytes | None, flags: int = 0xA00,
              outline_idx: int | None = None) -> bytes:
    t, l, r, b = anchor
    inner = _rec(_SP_ATOM, struct.pack("<II", spid, flags), ver=2)
    inner += _rec(_CLIENT_ANCHOR, struct.pack("<hhhh", t, l, r, b))
    if outline_idx is not None:
        # outline-resident text: the shape only references the SLWT entry
        tb = _rec(_RT_OUTLINE_REF, struct.pack("<i", outline_idx))
    else:
        tb = _text_records(txtype, text, style)
    inner += _container(_CLIENT_TEXTBOX, tb)
    return _container(_SP_CONTAINER, inner)


def _pf_style(runs: list[tuple[int, bool, bool]], total: int) -> bytes:
    """[(count, bullet, ordered)] → StyleTextPropAtom body."""
    out = b""
    for count, bullet, ordered in runs:
        if ordered:
            out += struct.pack("<IHIHH", count, 0, 0x13,
                               0x3 if bullet else 0x2, 2)
        else:
            out += struct.pack("<IHIH", count, 0, 0x3,
                               0x3 if bullet else 0x2)
    out += struct.pack("<II", total, 0)  # one empty char run
    return out


def synthesize_ppt(slides: list[dict]) -> bytes:
    """Build a minimal REAL .ppt binary (OLE2 + PPT97 record stream with
    a Current User atom, UserEditAtom and persist directory) — the write
    half of the round-trip the contract query certifies.

    Each slide dict: {"title": str, "paras": [str], "bullets": [str],
    "ordered": bool, "outline": bool}. With ``outline`` true the slide's
    text lives in the SlideListWithText and its shapes carry only
    OutlineTextRefAtom references (the other way real decks store
    placeholder text)."""
    slide_blobs = []
    slide_slwt_texts: list[list[tuple[int, str, bytes | None]]] = []
    for sl in slides:
        outline = bool(sl.get("outline"))
        slwt_texts: list[tuple[int, str, bytes | None]] = []
        shapes = b""
        # patriarch group-holder
        pat = _rec(_SPGR_ATOM, struct.pack("<iiii", 0, 0, 0, 0), ver=1)
        pat += _rec(_SP_ATOM, struct.pack("<II", 1, 0x5), ver=2)
        shapes += _container(_SP_CONTAINER, pat)
        top = 100
        spid = 4

        def add_shape(txtype: int, text: str, style: bytes | None):
            nonlocal shapes, top, spid
            if outline:
                idx = len(slwt_texts)
                slwt_texts.append((txtype, text, style))
                shapes += _sp_shape(spid, (top, 100, 6000, top + 200),
                                    txtype, "", None, outline_idx=idx)
            else:
                shapes += _sp_shape(spid, (top, 100, 6000, top + 200),
                                    txtype, text, style)
            top += 400
            spid += 1

        if sl.get("title"):
            add_shape(_TX_TITLE, sl["title"], None)
        for para in sl.get("paras", ()):
            add_shape(4, para, _pf_style(
                [(len(para) + 1, False, False)], len(para) + 1))
        bullets = sl.get("bullets", ())
        if bullets:
            text = "\r".join(bullets)
            add_shape(4, text, _pf_style(
                [(len(text) + 1, True, bool(sl.get("ordered")))],
                len(text) + 1))
        dg = _rec(0xF008, struct.pack("<II", len(slides) + 2, spid), ver=1)
        dg += _container(_SPGR_CONTAINER, shapes)
        drawing = _container(0xF002, dg)
        slide = _rec(0x03EF, b"\x00" * 24, ver=2)
        slide += _container(0x040C, drawing)
        slide_blobs.append(_container(_RT_SLIDE, slide))
        slide_slwt_texts.append(slwt_texts)

    # DocumentContainer with the slide list (persist ids 2..n+1);
    # outline-mode slides carry their text records after their
    # SlidePersistAtom
    doc_atom = _rec(0x03E9, b"\x00" * 40, ver=1)
    slwt = b""
    for i in range(len(slide_blobs)):
        texts = slide_slwt_texts[i]
        slwt += _rec(_RT_SLIDE_PERSIST,
                     struct.pack("<IIiII", 2 + i, 0x4, len(texts),
                                 256 + i, 0))
        for txtype, text, style in texts:
            slwt += _text_records(txtype, text, style)
    doc = _container(_RT_DOCUMENT, doc_atom + _container(_RT_SLWT, slwt))

    ppt = bytearray(doc)
    slide_offsets = []
    for blob in slide_blobs:
        slide_offsets.append(len(ppt))
        ppt += blob
    # persist directory: id 1 → document (offset 0), 2.. → slides
    pdir_off = len(ppt)
    body = struct.pack("<I", 1 | ((1 + len(slide_offsets)) << 20))
    body += struct.pack("<I", 0)
    for off in slide_offsets:
        body += struct.pack("<I", off)
    ppt += _rec(_RT_PERSIST_DIR, body)
    edit_off = len(ppt)
    ppt += _rec(_RT_USER_EDIT, struct.pack(
        "<IIIIIIHH", 256, 0, 0, pdir_off, 1, 2 + len(slide_offsets), 0, 0))

    cu = _rec(_RT_CURRENT_USER, struct.pack(
        "<IIIHHBBH", 20, 0xE391C05F, edit_off, 0, 0, 0, 0, 0) + b"\x00" * 8)
    return _ole2_streams([("Current User", cu),
                          ("PowerPoint Document", bytes(ppt))])
