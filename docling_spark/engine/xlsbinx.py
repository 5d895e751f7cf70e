"""Legacy Excel (.xls, BIFF8) native parser — pure stdlib.

The reference cannot read .xls itself: it shells out to LibreOffice to
up-convert to .xlsx (tests/test_backend_legacy_msoffice.py:1-30,
docling/backend/docx/drawingml/utils.py:79-120) and raises when soffice
is absent. This module parses the BIFF8 ``Workbook`` stream natively
(OLE2 container via engine/olex.py) and feeds the SAME flood-fill
table-assembly tail as the xlsx engine (engine/xlsxx.py), so both paths
share cell/table semantics. The document shape is pinned by
``tests/data/xls/groundtruth/legacy_sample.xls.{md,itxt}`` — an item
tree identical to xlsx_05_table_with_title, with the legacy export's
plain markdown serializer rendering sheet groups silently
(tests/test_backend_legacy_msoffice.py:52 ``export_to_markdown``, vs the
sheet-heading MsExcelMarkdownDocSerializer used for modern xlsx).

Record grammar follows the public [MS-XLS] spec: BOF/BOUNDSHEET/SST with
Continue-record string resumption, XF/FORMAT date detection, and the
cell records LABELSST/NUMBER/RK/MULRK/BOOLERR/LABEL/FORMULA(+STRING),
plus MERGECELLS.
"""

from __future__ import annotations

import struct
from datetime import datetime, timedelta

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result
from docling_spark.engine.olex import OleError, OleFile
from docling_spark.engine.xlsxx import (
    _DATE_BUILTIN,
    _DATE_FMT_RE,
    _EPOCH,
    _Sheet,
    _find_tables,
    _split_section_label,
    _table_grid,
)

__all__ = ["XlsError", "extract_xls", "synthesize_xls"]

_EPOCH_1904 = datetime(1904, 1, 1)

_R_EOF = 0x0A
_R_CONTINUE = 0x3C
_R_DATE1904 = 0x22
_R_BOUNDSHEET = 0x85
_R_SST = 0xFC
_R_XF = 0xE0
_R_FORMAT = 0x41E
_R_LABELSST = 0xFD
_R_NUMBER = 0x203
_R_RK = 0x27E
_R_MULRK = 0xBD
_R_BOOLERR = 0x205
_R_LABEL = 0x204
_R_FORMULA = 0x06
_R_STRING = 0x207
_R_MERGECELLS = 0xE5


class XlsError(ValueError):
    pass


def _iter_records(stream: bytes, pos: int):
    """Yield (rectype, [fragments]) from ``pos`` until the substream EOF.

    Continue (0x3C) records attach as extra fragments of the preceding
    record — BIFF8 strings restart a flags byte at each fragment boundary,
    so fragments must stay separate (concatenation loses that boundary)."""
    n = len(stream)
    cur = None
    while pos + 4 <= n:
        rt, ln = struct.unpack_from("<HH", stream, pos)
        data = stream[pos + 4:pos + 4 + ln]
        pos += 4 + ln
        if rt == _R_CONTINUE and cur is not None:
            cur[1].append(data)
            continue
        if cur is not None:
            yield cur
        if rt == _R_EOF:
            return
        cur = (rt, [data])
    if cur is not None:
        yield cur


class _Frags:
    """Sequential reader over a record's Continue fragments."""

    def __init__(self, frags: list[bytes]):
        self.frags = frags
        self.fi = 0
        self.off = 0

    def _avail(self) -> int:
        return len(self.frags[self.fi]) - self.off if self.fi < len(self.frags) else 0

    def read(self, nbytes: int) -> bytes:
        """Raw read; fixed fields may cross a fragment boundary unchanged."""
        out = bytearray()
        while nbytes > 0:
            if self._avail() == 0:
                if self.fi + 1 >= len(self.frags):
                    raise XlsError("truncated record")
                self.fi += 1
                self.off = 0
                continue
            take = min(nbytes, self._avail())
            out += self.frags[self.fi][self.off:self.off + take]
            self.off += take
            nbytes -= take
        return bytes(out)

    def read_chars(self, cch: int, high: int) -> str:
        """Character data; a fragment boundary inside it injects a fresh
        flags byte whose bit 0 re-selects the byte width ([MS-XLS]
        2.5.293)."""
        parts: list[str] = []
        while cch > 0:
            if self._avail() == 0:
                if self.fi + 1 >= len(self.frags):
                    raise XlsError("truncated string")
                self.fi += 1
                self.off = 0
                if self._avail() == 0:
                    continue
                high = self.frags[self.fi][self.off] & 1
                self.off += 1
                continue
            per = 2 if high else 1
            take = min(cch, self._avail() // per)
            if take == 0:
                raise XlsError("misaligned string fragment")
            raw = self.frags[self.fi][self.off:self.off + take * per]
            self.off += take * per
            parts.append(
                raw.decode("utf-16-le" if high else "latin-1", "replace"))
            cch -= take
        return "".join(parts)


def _xl_str(data: bytes, off: int, short: bool = False) -> tuple[str, int]:
    """XLUnicodeString (2-byte cch) / ShortXLUnicodeString (1-byte cch)."""
    if short:
        if off >= len(data):
            raise XlsError("truncated string header")
        cch = data[off]
        off += 1
    else:
        (cch,) = struct.unpack_from("<H", data, off)
        off += 2
    flags = data[off]
    off += 1
    high = flags & 0x01
    crun = 0
    cbext = 0
    if flags & 0x08:
        (crun,) = struct.unpack_from("<H", data, off)
        off += 2
    if flags & 0x04:
        (cbext,) = struct.unpack_from("<I", data, off)
        off += 4
    nb = cch * (2 if high else 1)
    s = data[off:off + nb].decode(
        "utf-16-le" if high else "latin-1", "replace")
    off += nb + 4 * crun + cbext
    return s, off


def _parse_sst(frags: list[bytes]) -> list[str]:
    r = _Frags(frags)
    _total, uniq = struct.unpack("<II", r.read(8))
    out: list[str] = []
    for _ in range(min(uniq, 1_000_000)):
        cch, flags = struct.unpack("<HB", r.read(3))
        high = flags & 0x01
        crun = 0
        cbext = 0
        if flags & 0x08:
            (crun,) = struct.unpack("<H", r.read(2))
        if flags & 0x04:
            (cbext,) = struct.unpack("<I", r.read(4))
        out.append(r.read_chars(cch, high))
        if crun:
            r.read(4 * crun)
        if cbext:
            r.read(cbext)
    return out


def _rk_value(rk: int) -> float:
    if rk & 0x02:
        iv = rk >> 2
        if iv & (1 << 29):
            iv -= 1 << 30
        v = float(iv)
    else:
        (v,) = struct.unpack("<d", b"\x00\x00\x00\x00" +
                             struct.pack("<I", rk & 0xFFFFFFFC))
    return v / 100.0 if rk & 0x01 else v


def _num_to_text(v: float) -> str:
    """Integral doubles render without the decimal point — the LibreOffice
    up-conversion writes whole numbers as ints, so the shared xlsx tail
    would see '2019', not '2019.0'."""
    if v == int(v) and abs(v) < 1e15:
        return str(int(v))
    return repr(v)


def _add_cell(sh: _Sheet, row: int, col: int, text: str) -> None:
    text = " ".join(text.split())
    if text != "":
        sh.cells[(row, col)] = text


def _num_cell(sh: _Sheet, row: int, col: int, ixfe: int, v: float,
              date_xfs: set[int], date1904: bool) -> None:
    if ixfe in date_xfs:
        epoch = _EPOCH_1904 if date1904 else _EPOCH
        try:
            text = str(epoch + timedelta(days=v))
        except (OverflowError, ValueError):
            text = _num_to_text(v)
    else:
        text = _num_to_text(v)
    _add_cell(sh, row, col, text)


def _parse_globals(wb: bytes):
    """Workbook-globals substream → (sheets, sst, date_xfs, date1904).

    sheets: list of (name, hidden, stream_offset) for worksheets only."""
    sheets: list[tuple[str, bool, int]] = []
    sst: list[str] = []
    date1904 = False
    formats: dict[int, str] = {}
    xf_ifmts: list[int] = []
    for rt, frags in _iter_records(wb, 0):
        data = frags[0]
        if rt == _R_BOUNDSHEET and len(data) >= 8:
            pos, grbit = struct.unpack_from("<IH", data, 0)
            hidden = (grbit & 0x03) != 0
            dt = (grbit >> 8) & 0xFF
            name, _ = _xl_str(data, 6, short=True)
            if dt == 0:  # worksheet (1=macro, 2=chart, 6=VB module)
                sheets.append((name, hidden, pos))
        elif rt == _R_SST:
            sst = _parse_sst(frags)
        elif rt == _R_DATE1904 and len(data) >= 2:
            date1904 = struct.unpack_from("<H", data, 0)[0] == 1
        elif rt == _R_FORMAT and len(data) >= 5:
            (ifmt,) = struct.unpack_from("<H", data, 0)
            code, _ = _xl_str(data, 2)
            formats[ifmt] = code
        elif rt == _R_XF and len(data) >= 4:
            xf_ifmts.append(struct.unpack_from("<H", data, 2)[0])
    import re as _re

    date_xfs: set[int] = set()
    for i, ifmt in enumerate(xf_ifmts):
        code = formats.get(ifmt, "")
        if ifmt in _DATE_BUILTIN or (
                code and _DATE_FMT_RE.search(
                    _re.sub(r'"[^"]*"|\[[^\]]*\]', "", code))):
            date_xfs.add(i)
    return sheets, sst, date_xfs, date1904


def _parse_sheet(wb: bytes, pos: int, sst: list[str],
                 date_xfs: set[int], date1904: bool) -> _Sheet:
    sh = _Sheet()
    pending: tuple[int, int] | None = None  # FORMULA awaiting STRING
    for rt, frags in _iter_records(wb, pos):
        data = frags[0] if len(frags) == 1 else b"".join(frags)
        if rt == _R_LABELSST and len(data) >= 10:
            row, col, _ixfe, isst = struct.unpack_from("<HHHI", data, 0)
            if 0 <= isst < len(sst):
                _add_cell(sh, row, col, sst[isst])
        elif rt == _R_NUMBER and len(data) >= 14:
            row, col, ixfe = struct.unpack_from("<HHH", data, 0)
            (v,) = struct.unpack_from("<d", data, 6)
            _num_cell(sh, row, col, ixfe, v, date_xfs, date1904)
        elif rt == _R_RK and len(data) >= 10:
            row, col, ixfe, rk = struct.unpack_from("<HHHI", data, 0)
            _num_cell(sh, row, col, ixfe, _rk_value(rk), date_xfs, date1904)
        elif rt == _R_MULRK and len(data) >= 12:
            row, col_first = struct.unpack_from("<HH", data, 0)
            n = (len(data) - 6) // 6
            for k in range(n):
                ixfe, rk = struct.unpack_from("<HI", data, 4 + 6 * k)
                _num_cell(sh, row, col_first + k, ixfe, _rk_value(rk),
                          date_xfs, date1904)
        elif rt == _R_BOOLERR and len(data) >= 8:
            row, col, _ixfe, val, ferr = struct.unpack_from(
                "<HHHBB", data, 0)
            if ferr == 0:
                _add_cell(sh, row, col, "True" if val else "False")
        elif rt == _R_LABEL and len(data) >= 9:
            row, col = struct.unpack_from("<HH", data, 0)
            text, _ = _xl_str(data, 6)
            _add_cell(sh, row, col, text)
        elif rt == _R_FORMULA and len(data) >= 16:
            row, col, ixfe = struct.unpack_from("<HHH", data, 0)
            tail = struct.unpack_from("<H", data, 12)[0]
            if tail == 0xFFFF:
                kind = data[6]
                if kind == 0:  # string result in the following STRING rec
                    pending = (row, col)
                elif kind == 1:  # cached boolean
                    _add_cell(sh, row, col,
                              "True" if data[8] else "False")
                # kind 2 = error, kind 3 = empty string: no cell
            else:
                (v,) = struct.unpack_from("<d", data, 6)
                _num_cell(sh, row, col, ixfe, v, date_xfs, date1904)
        elif rt == _R_STRING and pending is not None:
            text, _ = _xl_str(data, 0)
            _add_cell(sh, pending[0], pending[1], text)
            pending = None
        elif rt == _R_MERGECELLS and len(data) >= 2:
            (cmcs,) = struct.unpack_from("<H", data, 0)
            for k in range(min(cmcs, (len(data) - 2) // 8)):
                r1, r2, c1, c2 = struct.unpack_from("<HHHH", data, 2 + 8 * k)
                sh.merges.append((r1, c1, r2, c2))
                sh.span[(r1, c1)] = (r2 - r1 + 1, c2 - c1 + 1)
                for rr in range(r1, r2 + 1):
                    for cc in range(c1, c2 + 1):
                        sh.merged_cover.add((rr, cc))
                        if (rr, cc) != (r1, c1):
                            sh.shadow.add((rr, cc))
    return sh


def extract_xls(payload: bytes) -> tuple[str, list[Item], dict]:
    """payload (.xls OLE2 bytes) → (extracted_text, items, metrics)."""
    try:
        ole = OleFile(payload)
    except OleError as exc:
        raise XlsError(f"not an OLE2 file: {exc}") from exc
    try:
        names = ole.streams()
        stream_name = next(
            (n for n in ("Workbook", "Book") if n in names), None)
        if stream_name is None:
            raise XlsError("no Workbook stream in OLE2 container")
        wb = ole.read(stream_name)
    except OleError as exc:
        # chain cycles / bounds violations surface lazily from read()
        raise XlsError(f"corrupt OLE2 container: {exc}") from exc
    # this parser reads BIFF8 only: earlier versions (BIFF5 'Book'
    # streams from Excel 5.0/95) use flag-less byte strings that would
    # decode as silent garbage — fail contained instead (the reference
    # can't read them without LibreOffice either)
    if len(wb) < 10:
        raise XlsError("truncated workbook stream")
    rt0, _ln0, vers = struct.unpack_from("<HHH", wb, 0)
    if rt0 != 0x809 or vers != 0x0600:
        raise XlsError(
            f"unsupported BIFF version 0x{vers:04x} (BIFF8 required)")
    try:
        sheets, sst, date_xfs, date1904 = _parse_globals(wb)
    except struct.error as exc:
        raise XlsError(f"malformed BIFF globals: {exc}") from exc

    items = new_items()
    n_sheets = 0
    for name, hidden, pos in sheets:
        if not (0 <= pos < len(wb)):
            continue
        try:
            sh = _parse_sheet(wb, pos, sst, date_xfs, date1904)
        except struct.error as exc:
            raise XlsError(f"malformed BIFF sheet: {exc}") from exc
        layer = "furniture" if hidden else "body"
        n_sheets += 1
        # "sheet" groups render silently in the legacy markdown export
        # (plain export_to_markdown) but keep their itxt/json identity
        gidx = _mk_item(items, 0, "sheet", 1, name, layer)
        for bounds in _find_tables(sh):
            grid = _table_grid(sh, bounds)
            label, grid = _split_section_label(grid, sh, bounds)
            if label:
                _mk_item(items, gidx, "text", 2, label, layer)
            if not grid or not any(any(c for c in r) for r in grid):
                continue
            ncols = max(len(r) for r in grid)
            md_lines = []
            for ri, row in enumerate(grid):
                cells = [c.replace("|", "&#124;") for c in row]
                cells += [""] * (ncols - len(cells))
                md_lines.append("| " + " | ".join(cells) + " |")
                if ri == 0:
                    md_lines.append(
                        "| " + " | ".join("-" for _ in range(ncols)) + " |")
            tidx = _mk_item(items, gidx, "table", 2,
                            "\n".join(md_lines), layer)
            items[tidx]["num_rows"] = len(grid)
            items[tidx]["num_cols"] = ncols

    return result(items, pages_parsed=max(n_sheets, 1))


def _rec(rt: int, payload: bytes) -> bytes:
    return struct.pack("<HH", rt, len(payload)) + payload


def synthesize_xls(sheet_name: str, grid: list[list]) -> bytes:
    """Build a minimal REAL .xls binary (OLE2 v3 container + BIFF8
    Workbook stream: globals BOF/BOUNDSHEET/SST + worksheet substream of
    LABELSST/NUMBER cells) — the write half of the round-trip the
    contract query certifies. str cells go through the SST, numeric
    cells as NUMBER doubles, datetime.date/datetime cells as NUMBER
    serials under a date-formatted XF (FORMAT ifmt 200 + XF pair)."""
    from datetime import date

    strings: list[str] = []
    sidx: dict[str, int] = {}
    n_str_cells = 0
    has_dates = False
    for row in grid:
        for cell in row:
            if isinstance(cell, str):
                n_str_cells += 1
                if cell not in sidx:
                    sidx[cell] = len(strings)
                    strings.append(cell)
            elif isinstance(cell, (date, datetime)):
                has_dates = True

    sheet = bytearray()
    sheet += _rec(0x809, struct.pack("<HHHHII", 0x0600, 0x0010,
                                     0x0DBB, 0x07CC, 0, 0))
    for r, row in enumerate(grid):
        for c, cell in enumerate(row):
            if cell is None or cell == "":
                continue
            if isinstance(cell, str):
                sheet += _rec(_R_LABELSST, struct.pack(
                    "<HHHI", r, c, 0, sidx[cell]))
            elif isinstance(cell, (date, datetime)):
                dt = cell if isinstance(cell, datetime) \
                    else datetime(cell.year, cell.month, cell.day)
                serial = (dt - _EPOCH).total_seconds() / 86400.0
                sheet += _rec(_R_NUMBER, struct.pack(
                    "<HHHd", r, c, 1, serial))
            else:
                sheet += _rec(_R_NUMBER, struct.pack(
                    "<HHHd", r, c, 0, float(cell)))
    sheet += _rec(_R_EOF, b"")

    nm = sheet_name.encode("latin-1", "replace")[:31]
    sst_body = struct.pack("<II", n_str_cells, len(strings))
    for s in strings:
        b = s.encode("latin-1", "replace")
        sst_body += struct.pack("<HB", len(b), 0) + b
    # globals length is self-referential through BOUNDSHEET.lbPlyPos:
    # compute with a placeholder first (record sizes don't change)
    def _globals(ply_pos: int) -> bytes:
        g = bytearray()
        g += _rec(0x809, struct.pack("<HHHHII", 0x0600, 0x0005,
                                     0x0DBB, 0x07CC, 0, 0))
        if has_dates:
            fmt = b"yyyy-mm-dd"
            g += _rec(_R_FORMAT, struct.pack("<HHB", 200, len(fmt), 0)
                      + fmt)
            g += _rec(_R_XF, struct.pack("<HH", 0, 0) + b"\x00" * 16)
            g += _rec(_R_XF, struct.pack("<HH", 0, 200) + b"\x00" * 16)
        g += _rec(_R_BOUNDSHEET, struct.pack("<IH", ply_pos, 0)
                  + struct.pack("<BB", len(nm), 0) + nm)
        g += _rec(_R_SST, sst_body)
        g += _rec(_R_EOF, b"")
        return bytes(g)

    glen = len(_globals(0))
    stream = _globals(glen) + bytes(sheet)

    from docling_spark.engine.olex import write_ole2

    return write_ole2([("Workbook", stream)])
