"""Legacy .doc (Word 97-2003 binary, [MS-DOC]) → item table, natively.

The reference cannot read this format without LibreOffice (it up-converts
via a soffice subprocess and raises when it is absent,
docling/backend/docx/drawingml/utils.py:79-120); this engine parses the
binary directly on top of the OLE2 reader (engine/olex.py):

* FIB → CLX piece table → text (per-piece cp1252 / UTF-16LE), clipped
  to the main-document character count;
* the STSH stylesheet + PlcfBtePapx/PAPX-FKP chain recover each
  paragraph's style index, so built-in ``heading N`` styles become
  section headers and ``List``-family styles become list items;
* paragraph marks (CR), cell marks (0x07), field characters
  (0x13/0x14/0x15), and inline-object placeholders (0x01) get Word's
  documented meanings: field instructions are dropped and results kept,
  pictures become picture items, tab-separated cell text joins rows.

Round 2 additions close the gap to byte-exact markdown on the
reference's legacy corpus:

* full PAPX grpprl sprm walk → per-paragraph ``ilfo``/``ilvl`` (list
  binding), ``fInTable``/``fTtp`` (table cell / row-end marks, so empty
  leading cells never shift the grid);
* PlfLfo + PlfLst/LVL numbering tables resolve each bound paragraph's
  number format: nfc 23 → bullet, 0xFF → none, else autonumbered
  ("List Paragraph"-styled plain text no longer misreads as a bullet);
* PlcfBteChpx → CHPX runs give sprmCFBold, rendered as ``**bold**``
  table cells (matching the LibreOffice-derived groundtruth).

Still out: nested tables, textboxes (office-art layer).
"""

from __future__ import annotations

import bisect
import re
import struct

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result
from docling_spark.engine.olex import OleError, OleFile

__all__ = ["DocBinError", "extract_doc", "synthesize_doc",
           "synthesize_doc_rich"]


class DocBinError(ValueError):
    pass


def _pieces(word: bytes, table: bytes) -> list[tuple[int, int, int, bool]]:
    """CLX → [(cp_start, cp_end, fc, compressed)] text pieces."""
    fc_clx, lcb_clx = struct.unpack_from("<II", word, 0x01A2)
    clx = table[fc_clx:fc_clx + lcb_clx]
    i = 0
    while i < len(clx) and clx[i] == 0x01:  # Prc blocks precede the Pcdt
        (cb,) = struct.unpack_from("<h", clx, i + 1)
        i += 3 + max(cb, 0)
    if i >= len(clx) or clx[i] != 0x02:
        raise DocBinError("no piece table (Pcdt) in CLX")
    (cb_plc,) = struct.unpack_from("<I", clx, i + 1)
    plc = clx[i + 5:i + 5 + cb_plc]
    n = (len(plc) - 4) // 12
    if n <= 0:
        raise DocBinError("empty piece table")
    cps = struct.unpack_from(f"<{n + 1}I", plc, 0)
    out = []
    for k in range(n):
        pcd = plc[(n + 1) * 4 + k * 8:(n + 1) * 4 + (k + 1) * 8]
        (fc_raw,) = struct.unpack_from("<I", pcd, 2)
        compressed = bool(fc_raw & 0x40000000)
        fc = fc_raw & 0x3FFFFFFF
        if compressed:
            fc //= 2
        out.append((cps[k], cps[k + 1], fc, compressed))
    return out


def _text(word: bytes, pieces, ccp_text: int) -> str:
    parts = []
    remaining = ccp_text
    for cp0, cp1, fc, compressed in pieces:
        n = cp1 - cp0
        if remaining <= 0:
            break
        n = min(n, remaining)
        if compressed:
            raw = word[fc:fc + n]
            parts.append(raw.decode("cp1252", "replace"))
        else:
            raw = word[fc:fc + 2 * n]
            parts.append(raw.decode("utf-16-le", "replace"))
        remaining -= n
    return "".join(parts)


def _style_names(table: bytes, word: bytes) -> dict[int, str]:
    """STSH stylesheet → {istd: lowercased style name}."""
    fc, lcb = struct.unpack_from("<II", word, 0x00A2)
    sh = table[fc:fc + lcb]
    if len(sh) < 6:
        return {}
    (cb_stshi,) = struct.unpack_from("<H", sh, 0)
    (cstd,) = struct.unpack_from("<H", sh, 2)
    (cb_std_base,) = struct.unpack_from("<H", sh, 4)
    pos = 2 + cb_stshi
    names: dict[int, str] = {}
    for istd in range(cstd):
        if pos + 2 > len(sh):
            break
        (cb_std,) = struct.unpack_from("<H", sh, pos)
        body = sh[pos + 2:pos + 2 + cb_std]
        # LPStd entries are 2-byte aligned: an odd cbStd is followed by
        # a pad byte — skipping it desynchronized every later style name
        pos += 2 + cb_std + (cb_std & 1)
        if cb_std == 0 or len(body) < cb_std_base + 2:
            continue
        # xstzName directly after the STD base: length-prefixed UTF-16
        (name_len,) = struct.unpack_from("<H", body, cb_std_base)
        raw = body[cb_std_base + 2:cb_std_base + 2 + name_len * 2]
        names[istd] = raw.decode("utf-16-le", "replace").lower()
    return names


_SPRM_SIZES = {0: 1, 1: 1, 2: 2, 3: 4, 4: 2, 5: 2, 7: 3}


def _sprms(grpprl: bytes) -> dict[int, bytes]:
    """Walk a grpprl: {sprm opcode: operand bytes} ([MS-DOC] 2.2.5.1 —
    operand width from the spra bits; spra 6 is length-prefixed)."""
    out: dict[int, bytes] = {}
    i = 0
    while i + 2 <= len(grpprl):
        (opc,) = struct.unpack_from("<H", grpprl, i)
        i += 2
        spra = opc >> 13
        if opc == 0xD608:
            # sprmTDefTable ([MS-DOC] 2.9.320): operand opens with a
            # 2-byte cb = remaining size + 1 — the generic 1-byte read
            # desynced the walk for operands >= 256 bytes
            if i + 2 > len(grpprl):
                break
            (cb,) = struct.unpack_from("<H", grpprl, i)
            i += 2
            sz = max(cb - 1, 0)
        elif spra == 6:
            if i >= len(grpprl):
                break
            sz = grpprl[i]
            if opc == 0xC615 and sz == 255:
                # sprmPChgTabs cb==255 escape: size is computed from the
                # operand's internal arrays; bail rather than desync
                break
            i += 1
        else:
            sz = _SPRM_SIZES[spra]
        out[opc] = grpprl[i:i + sz]
        i += sz
    return out


_SPRM_PILFO = 0x460B
_SPRM_PILVL = 0x260A
_SPRM_PF_IN_TABLE = 0x2416
_SPRM_PF_TTP = 0x2417
_SPRM_CF_BOLD = 0x0835


class _ParaProps:
    __slots__ = ("fc_end", "istd", "ilfo", "ilvl", "in_table", "ttp")

    def __init__(self, fc_end, istd, ilfo, ilvl, in_table, ttp):
        self.fc_end = fc_end
        self.istd = istd
        self.ilfo = ilfo
        self.ilvl = ilvl
        self.in_table = in_table
        self.ttp = ttp


def _paragraph_props(word: bytes, table: bytes) -> list[_ParaProps]:
    """PlcfBtePapx → PAPX FKPs → per-paragraph istd + list/table sprms."""
    fc, lcb = struct.unpack_from("<II", word, 0x0102)
    plc = table[fc:fc + lcb]
    if len(plc) < 8:
        return []
    n = (len(plc) - 4) // 8
    pages = struct.unpack_from(f"<{n}I", plc, (n + 1) * 4)
    out: list[_ParaProps] = []
    for pn in pages:
        page = word[pn * 512:(pn + 1) * 512]
        if len(page) < 512:
            continue
        crun = page[511]
        if crun == 0 or 4 * (crun + 1) + 13 * crun > 511:
            continue
        rgfc = struct.unpack_from(f"<{crun + 1}I", page, 0)
        for k in range(crun):
            bx_off = 4 * (crun + 1) + k * 13
            word_off = page[bx_off]
            istd = 0
            ilfo = ilvl = 0
            in_table = ttp = False
            if word_off:
                papx = page[word_off * 2:]
                if len(papx) >= 3:
                    # PapxInFkp: cb byte (0 → cb' follows), then istd
                    if papx[0] != 0:
                        # [MS-DOC] 2.9.115: grpprlInPapx is 2*cb-1 bytes
                        # (the old 2*cb read pulled one byte past the
                        # structure, pairing the pad byte with a stolen
                        # neighbor into a bogus opcode)
                        body = papx[1:papx[0] * 2]
                    else:
                        body = papx[2:2 + papx[1] * 2]
                    if len(body) >= 2:
                        istd = struct.unpack_from("<H", body, 0)[0]
                        sp = _sprms(body[2:])
                        if _SPRM_PILFO in sp and len(sp[_SPRM_PILFO]) >= 2:
                            ilfo = struct.unpack_from(
                                "<H", sp[_SPRM_PILFO], 0)[0]
                        if _SPRM_PILVL in sp and sp[_SPRM_PILVL]:
                            ilvl = sp[_SPRM_PILVL][0]
                        if _SPRM_PF_IN_TABLE in sp and sp[_SPRM_PF_IN_TABLE]:
                            in_table = sp[_SPRM_PF_IN_TABLE][0] != 0
                        if _SPRM_PF_TTP in sp and sp[_SPRM_PF_TTP]:
                            ttp = sp[_SPRM_PF_TTP][0] != 0
            out.append(_ParaProps(rgfc[k + 1], istd, ilfo, ilvl,
                                  in_table, ttp))
    out.sort(key=lambda p: p.fc_end)
    return out


def _list_nfcs(word: bytes, table: bytes) -> dict[int, list[int]]:
    """PlfLst + trailing LVLs → {lsid: [nfc per level]} ([MS-DOC]
    2.9.148-150: LSTF 28 bytes, LVLF 28 bytes + grpprls + xst)."""
    fc, lcb = struct.unpack_from("<II", word, 0x02E2)
    if lcb < 2:
        return {}
    # lcbPlfLst covers only the LSTF array; the LVL structures follow
    # immediately after it in the table stream
    data = table[fc:]
    (clst,) = struct.unpack_from("<H", data, 0)
    lists = []
    pos = 2
    try:
        for _ in range(clst):
            (lsid,) = struct.unpack_from("<i", data, pos)
            fsimple = bool(data[pos + 26] & 0x1)
            lists.append((lsid, fsimple))
            pos += 28
        out: dict[int, list[int]] = {}
        for lsid, fsimple in lists:
            nfcs = []
            for _ in range(1 if fsimple else 9):
                nfc = data[pos + 4]
                cb_chpx = data[pos + 24]
                cb_papx = data[pos + 25]
                pos += 28 + cb_chpx + cb_papx
                (cch,) = struct.unpack_from("<H", data, pos)
                pos += 2 + 2 * cch
                nfcs.append(nfc)
            out[lsid] = nfcs
        return out
    except (struct.error, IndexError):
        return {}


def _lfo_lsids(word: bytes, table: bytes) -> list[int]:
    """PlfLfo → lsid per 1-based ilfo ([MS-DOC] 2.9.131: LFO 16 bytes)."""
    fc, lcb = struct.unpack_from("<II", word, 0x02EA)
    data = table[fc:fc + lcb]
    if len(data) < 4:
        return []
    (clfo,) = struct.unpack_from("<i", data, 0)
    out = []
    pos = 4
    for _ in range(max(clfo, 0)):
        if pos + 16 > len(data):
            break
        out.append(struct.unpack_from("<i", data, pos)[0])
        pos += 16
    return out


def _bold_runs(word: bytes, table: bytes) -> list[tuple[int, bool]]:
    """PlcfBteChpx → CHPX FKPs → [(fc_end_of_run, bold)] (sprmCFBold:
    1/129 → bold on; 0/128 → off; absent → inherit = not bold here)."""
    fc, lcb = struct.unpack_from("<II", word, 0x00FA)
    plc = table[fc:fc + lcb]
    if len(plc) < 8:
        return []
    n = (len(plc) - 4) // 8
    pages = struct.unpack_from(f"<{n}I", plc, (n + 1) * 4)
    out: list[tuple[int, bool]] = []
    for pn in pages:
        page = word[pn * 512:(pn + 1) * 512]
        if len(page) < 512:
            continue
        crun = page[511]
        if crun == 0 or 4 * (crun + 1) + crun > 511:
            continue
        rgfc = struct.unpack_from(f"<{crun + 1}I", page, 0)
        for k in range(crun):
            boff = page[4 * (crun + 1) + k]
            bold = False
            if boff:
                chpx = page[boff * 2:]
                if chpx:
                    sp = _sprms(chpx[1:1 + chpx[0]])
                    if _SPRM_CF_BOLD in sp and sp[_SPRM_CF_BOLD]:
                        bold = sp[_SPRM_CF_BOLD][0] in (1, 129)
            out.append((rgfc[k + 1], bold))
    out.sort()
    return out


def _fc_of_cp(pieces, cp: int, starts: list[int] | None = None) -> int:
    # pieces are CP-sorted: bisect instead of a linear scan (fast-saved
    # docs carry hundreds of pieces, and this runs per character in the
    # bold-run lookups). Callers in per-character loops pass the
    # precomputed ``starts`` — rebuilding it here would keep each lookup
    # O(pieces) and void the bisect
    if starts is None:
        starts = [p[0] for p in pieces]
    k = bisect.bisect_right(starts, cp) - 1
    if 0 <= k < len(pieces):
        cp0, cp1, fc, compressed = pieces[k]
        if cp0 <= cp < cp1:
            return fc + (cp - cp0) * (1 if compressed else 2)
    return -1


# innermost field only (no \x13 inside either side) — applied
# repeatedly so nested fields (PAGEREF inside TOC) resolve inside-out;
# the old single pass leaked a nested field's result from the
# instruction side into the text
_FIELD_RE = re.compile(
    "\x13[^\x13\x14\x15]*(?:\x14([^\x13\x14\x15]*))?\x15")


def _clean_para(p: str) -> str:
    while "\x13" in p:
        new_p = _FIELD_RE.sub(lambda m: m.group(1) or "", p)
        if new_p == p:
            break
        p = new_p
    p = p.replace("\x13", "").replace("\x14", "").replace("\x15", "")
    p = p.replace("\x0b", "\n")  # soft line break
    p = re.sub(r"[\x00-\x06\x08\x0c-\x1f]", "", p)
    return p.strip()


def _rows_md(rows: list[list[str]]) -> tuple[str, int, int] | None:
    rows = [r for r in rows if any(c for c in r)] or \
        ([rows[0]] if rows else [])
    if not rows:
        return None
    ncols = max(len(r) for r in rows)
    md = []
    for ri, r in enumerate(rows):
        # newlines (soft line breaks inside a cell) would splinter the
        # markdown grid into malformed lines — collapse to spaces
        r = [c.replace("\n", " ").replace("|", "&#124;") for c in r] \
            + [""] * (ncols - len(r))
        md.append("| " + " | ".join(r) + " |")
        if ri == 0:
            md.append("| " + " | ".join("-" for _ in range(ncols)) + " |")
    return "\n".join(md), len(rows), ncols


def extract_doc(payload: bytes) -> tuple[str, list[Item], dict]:
    """.doc bytes → (extracted_text, items, metrics)."""
    try:
        ole = OleFile(payload)
        word = ole.read("WordDocument")
    except OleError as exc:
        raise DocBinError(str(exc)) from exc
    if len(word) < 0x200 or struct.unpack_from("<H", word, 0)[0] != 0xA5EC:
        raise DocBinError("not a Word binary (wIdent mismatch)")
    (flags,) = struct.unpack_from("<H", word, 0x000A)
    table_name = "1Table" if (flags >> 9) & 1 else "0Table"
    try:
        table = ole.read(table_name)
    except OleError as exc:
        raise DocBinError(str(exc)) from exc
    try:
        (ccp_text,) = struct.unpack_from("<i", word, 0x004C)
        pieces = _pieces(word, table)
        text = _text(word, pieces, max(ccp_text, 0))
    except struct.error as exc:
        # truncated FIB/CLX structures must honor the documented
        # DocBinError contract, not leak a raw unpack error
        raise DocBinError(f"malformed Word structures: {exc}") from exc
    try:
        names = _style_names(table, word)
        props = _paragraph_props(word, table)
        lfo = _lfo_lsids(word, table)
        nfcs_by_lsid = _list_nfcs(word, table)
        bolds = _bold_runs(word, table)
    except struct.error as exc:
        raise DocBinError(f"malformed Word structures: {exc}") from exc

    items = new_items()
    hstack: list[tuple[int, int]] = []

    def parent() -> int:
        return hstack[-1][1] if hstack else 0

    _default = _ParaProps(0, 0, 0, 0, False, False)
    _prop_ends = [p.fc_end for p in props]
    _bold_ends = [fc_end for fc_end, _b in bolds]
    _piece_starts = [p[0] for p in pieces]

    def props_for(cp_end: int) -> _ParaProps:
        fc = _fc_of_cp(pieces, max(cp_end - 1, 0), _piece_starts)
        if fc >= 0:
            k = bisect.bisect_right(_prop_ends, fc)
            if k < len(props):
                return props[k]
        return _default

    def unit_bold(utext: str, cp0: int) -> bool:
        """Every printable char of the unit sits in a bold CHPX run
        (bisect over the sorted run ends: O(chars·log runs))."""
        if not bolds:
            return False
        any_char = False
        for i, ch in enumerate(utext):
            if ch.isspace() or ch < " ":
                continue
            any_char = True
            fc = _fc_of_cp(pieces, cp0 + i, _piece_starts)
            k = bisect.bisect_right(_bold_ends, fc)
            if k >= len(bolds) or not bolds[k][1]:
                return False
        return any_char

    # split into paragraph units at CR and cell marks, keeping offsets
    units: list[tuple[str, str, int]] = []
    start = 0
    for i, ch in enumerate(text):
        if ch in "\r\x07":
            units.append((text[start:i], ch, start))
            start = i + 1
    if start < len(text):
        units.append((text[start:], "\r", start))

    list_group = -1
    group_ordered = False
    n_in_group = 0
    rows: list[list[str]] = []
    cells: list[str] = []
    cell_parts: list[str] = []

    def flush_table() -> None:
        nonlocal rows, cells, cell_parts, list_group
        if cell_parts:  # malformed: table ended mid-cell
            cells.append(" ".join(x for x in cell_parts if x))
            cell_parts = []
        if cells:
            rows.append(cells)
            cells = []
        if rows:
            tbl = _rows_md(rows)
            if tbl is not None:
                md, nr, nc = tbl
                idx = _mk_item(items, parent(), "table", 1, md, "body")
                items[idx]["num_rows"] = nr
                items[idx]["num_cols"] = nc
                list_group = -1
        rows = []

    for utext, term, cp0 in units:
        cp_end = cp0 + len(utext) + 1
        p = props_for(cp_end)
        if term == "\x07" or p.in_table or p.ttp:
            if utext == "" and term == "\x07" and p.ttp \
                    and not cell_parts:
                # row-end (TTP) mark
                rows.append(cells)
                cells = []
            else:
                cell = _clean_para(utext)
                if cell and unit_bold(utext, cp0):
                    cell = f"**{cell}**"
                if term == "\r":
                    # a multi-paragraph cell: inner paragraphs end with
                    # CR; only the final one carries the 0x07 cell mark
                    cell_parts.append(cell)
                else:
                    if cell_parts:
                        cell = " ".join(x for x in cell_parts + [cell]
                                        if x)
                        cell_parts = []
                    cells.append(cell)
            list_group = -1
            continue
        flush_table()
        cleaned = _clean_para(utext)
        has_pict = "\x01" in utext
        style = names.get(p.istd, "")
        if has_pict:
            _mk_item(items, parent(), "picture", 1, "", "body")
            list_group = -1
        if not cleaned:
            continue
        nfc = None
        if 0 < p.ilfo <= len(lfo):
            levels = nfcs_by_lsid.get(lfo[p.ilfo - 1])
            if levels:
                nfc = levels[min(p.ilvl, len(levels) - 1)]
            else:
                nfc = 23
        # NOTE: style-RESIDENT list bindings are deliberately not
        # inherited. In the reference corpus the 'List Bullet' style's
        # own UPX carries sprmPIlfo→a real bullet LFO, yet the
        # LibreOffice-derived groundtruth renders paragraphs that have
        # only the style (no direct sprmPIlfo) as PLAIN text — the
        # conversion honors direct paragraph bindings only, and so do we.
        if style.startswith("heading") and style[-1].isdigit():
            level = int(style[-1])
            while hstack and hstack[-1][0] >= level:
                hstack.pop()
            par = hstack[-1][1] if hstack else 0
            idx = _mk_item(items, par, "section_header", 1, cleaned, "body")
            items[idx]["_hlevel"] = level + 1
            hstack.append((level, idx))
            list_group = -1
        elif style == "title":
            # the reference's groundtruth (LibreOffice-converted) renders
            # the Title style as a level-1 section header ("##")
            while hstack:
                hstack.pop()
            idx = _mk_item(items, 0, "section_header", 1, cleaned, "body")
            items[idx]["_hlevel"] = 2
            hstack.append((1, idx))
            list_group = -1
        elif nfc is not None and nfc != 0xFF:
            # a real LFO binding, not the "List Paragraph" style name:
            # nfc 23 = bullet char, everything else autonumbers
            ordered = nfc != 23
            if list_group < 0 or ordered != group_ordered:
                list_group = _mk_item(items, parent(), "list", 1,
                                      "list", "body")
                group_ordered = ordered
                n_in_group = 0
            n_in_group += 1
            li = _mk_item(items, list_group, "list_item", 2, cleaned,
                          "body")
            items[li]["_marker"] = f"{n_in_group}." if ordered else "-"
        elif style == "caption":
            _mk_item(items, parent(), "caption", 1, cleaned, "body")
            list_group = -1
        else:
            _mk_item(items, parent(), "text", 1, cleaned, "body")
            list_group = -1
    flush_table()

    return result(items)


def synthesize_doc(text: str) -> bytes:
    """Build a minimal REAL .doc binary (OLE2 v3 container + Word FIB +
    one-piece CLX) around the given text — the write half of the
    round-trip the contract query certifies (paragraphs separate on CR).
    Both streams are FAT-resident (≥ mini cutoff) so the reader exercises
    the main sector chain."""
    raw_text = text.replace("\n", "\r").encode("cp1252", "replace")
    text_off = 0x800
    word = bytearray(max(4096, text_off + len(raw_text)))
    struct.pack_into("<H", word, 0, 0xA5EC)           # wIdent
    struct.pack_into("<H", word, 0x000A, 0)           # flags → 0Table
    struct.pack_into("<i", word, 0x004C, len(raw_text))  # ccpText
    struct.pack_into("<II", word, 0x01A2, 0, 25)      # fcClx, lcbClx
    word[text_off:text_off + len(raw_text)] = raw_text
    # 0Table: CLX = 0x02 + cb(4) + PlcPcd(CPs + one PCD)
    table = bytearray(4096)
    struct.pack_into("<BI", table, 0, 0x02, 16)
    struct.pack_into("<II", table, 5, 0, len(raw_text))      # CP bounds
    struct.pack_into("<HIH", table, 13,
                     0, (text_off * 2) | 0x40000000, 0)      # PCD (cp1252)
    return _wrap_doc_streams(bytes(word), bytes(table))


def synthesize_doc_rich(paras: list[tuple[str, str]]) -> bytes:
    """Build a REAL .doc binary whose paragraphs carry PAPX/CHPX/list
    layers — the write half certifying the round-2 parse paths
    (LFO/LVL numbering, CHPX bold) through the driver's value-hash gate.

    ``paras``: [(text, kind)] with kind ∈ {"text", "bullet", "number",
    "bold", "cell", "cellbold", "cell_part", "rowend"}. Emits a
    PlcfBtePapx → PAPX FKP (sprmPIlfo list bindings;
    sprmPFInTable/sprmPFTtp cell and row-end marks), a PlcfBteChpx →
    CHPX FKP (sprmCFBold runs), and PlfLst/PlfLfo tables with an
    arabic-numbered list (nfc 0) and a bullet list (nfc 23).
    Cell/rowend paragraphs terminate with the cell mark (0x07) instead
    of CR, as Word writes them; "cell_part" is an inner paragraph of a
    multi-paragraph cell (CR-terminated, fInTable set)."""
    text = "".join(
        p + ("\x07" if kind in ("cell", "cellbold", "rowend") else "\r")
        for p, kind in paras
    )
    raw_text = text.encode("cp1252", "replace")
    # fixed layout: text at 0x800, FKP pages at 8/9 — guard the bounds
    # instead of silently clobbering them (a 512-byte FKP page holds at
    # most ~29 paragraph entries: 4(n+1) rgfc + 13n bx + blobs + crun)
    if len(raw_text) > 2048:
        raise DocBinError("synthesize_doc_rich: text exceeds 2048 bytes")
    if len(paras) > 24:
        raise DocBinError("synthesize_doc_rich: more than 24 paragraphs")
    text_off = 0x800
    papx_pn, chpx_pn = 8, 9
    word = bytearray(max(512 * 10, text_off + len(raw_text)))
    struct.pack_into("<H", word, 0, 0xA5EC)
    struct.pack_into("<H", word, 0x000A, 0)
    struct.pack_into("<i", word, 0x004C, len(raw_text))
    word[text_off:text_off + len(raw_text)] = raw_text

    # paragraph fc boundaries (cp1252: 1 byte/char, CR included)
    bounds = [text_off]
    cp = 0
    for p, _ in paras:
        cp += len(p.encode("cp1252", "replace")) + 1
        bounds.append(text_off + cp)

    # --- PAPX FKP page (pn 8): istd 0 + sprmPIlfo for list paragraphs
    page = bytearray(512)
    n = len(paras)
    for i, b in enumerate(bounds):
        struct.pack_into("<I", page, 4 * i, b)
    blob_top = 511
    for i, (_p, kind) in enumerate(paras):
        grpprl = b""
        if kind == "number":
            grpprl = struct.pack("<HH", _SPRM_PILFO, 1)
        elif kind == "bullet":
            grpprl = struct.pack("<HH", _SPRM_PILFO, 2)
        elif kind in ("cell", "cellbold", "cell_part"):
            grpprl = struct.pack("<HB", _SPRM_PF_IN_TABLE, 1)
        elif kind == "rowend":
            grpprl = struct.pack("<HB", _SPRM_PF_IN_TABLE, 1) \
                + struct.pack("<HB", _SPRM_PF_TTP, 1)
        body = struct.pack("<H", 0) + grpprl  # istd 0
        # [MS-DOC] 2.9.115: cb counts (len+1)/2 with the body occupying
        # 2*cb-1 bytes — i.e. an ODD length, padded when even (the old
        # even-padded layout made the spec-conformant reader drop the
        # final sprm byte)
        if len(body) % 2 == 0:
            body += b"\x00"
        cb = (len(body) + 1) // 2
        blob = bytes([cb]) + body
        blob_top -= len(blob) + (len(blob) % 2)
        if blob_top <= 4 * (n + 1) + 13 * n:
            # the paragraph-count guard alone does not bound the BLOB
            # area: table-heavy inputs (10 bytes per rowend blob) can
            # collide with the rgfc/bx arrays well under 24 paragraphs,
            # silently corrupting the FKP
            raise DocBinError(
                "synthesize_doc_rich: FKP page full (too many "
                "formatted paragraphs for one 512-byte page)")
        word_off = blob_top // 2
        page[word_off * 2:word_off * 2 + len(blob)] = blob
        page[4 * (n + 1) + i * 13] = word_off
    page[511] = n
    word[papx_pn * 512:(papx_pn + 1) * 512] = page

    # --- CHPX FKP page (pn 9): sprmCFBold for bold paragraphs
    page = bytearray(512)
    for i, b in enumerate(bounds):
        struct.pack_into("<I", page, 4 * i, b)
    blob_top = 511
    for i, (_p, kind) in enumerate(paras):
        if kind not in ("bold", "cellbold"):
            continue  # bx 0 → inherit (not bold)
        blob = bytes([3]) + struct.pack("<HB", _SPRM_CF_BOLD, 1)
        blob_top -= len(blob) + (len(blob) % 2)
        word_off = blob_top // 2
        page[word_off * 2:word_off * 2 + len(blob)] = blob
        page[4 * (n + 1) + i] = word_off
    page[511] = n
    word[chpx_pn * 512:(chpx_pn + 1) * 512] = page

    # --- table stream: CLX, BTE PLCs, list tables (≥ mini cutoff so it
    # stays FAT-resident, like the plain synthesizer)
    table = bytearray(4096)
    struct.pack_into("<BI", table, 0, 0x02, 16)
    struct.pack_into("<II", table, 5, 0, len(raw_text))
    struct.pack_into("<HIH", table, 13,
                     0, (text_off * 2) | 0x40000000, 0)
    struct.pack_into("<II", word, 0x01A2, 0, 25)

    pos = 32
    struct.pack_into("<III", table, pos, bounds[0], bounds[-1], papx_pn)
    struct.pack_into("<II", word, 0x0102, pos, 12)
    pos = 48
    struct.pack_into("<III", table, pos, bounds[0], bounds[-1], chpx_pn)
    struct.pack_into("<II", word, 0x00FA, pos, 12)

    # PlfLst: two simple lists (arabic, bullet); LVLs follow the LSTFs
    pos = 64
    lst = struct.pack("<H", 2)
    for lsid in (7777, 8888):
        lstf = bytearray(28)
        struct.pack_into("<i", lstf, 0, lsid)
        lstf[26] = 0x1  # fSimpleList → one LVL
        lst += bytes(lstf)
    for nfc in (0, 23):
        lvlf = bytearray(28)
        struct.pack_into("<i", lvlf, 0, 1)  # iStartAt
        lvlf[4] = nfc
        lst += bytes(lvlf) + struct.pack("<H", 0)  # empty xst
    table[pos:pos + len(lst)] = lst
    struct.pack_into("<II", word, 0x02E2, pos, 2 + 2 * 28)

    # PlfLfo: ilfo 1 → arabic list, ilfo 2 → bullet list
    pos2 = pos + len(lst)
    lfo = struct.pack("<i", 2)
    for lsid in (7777, 8888):
        ent = bytearray(16)
        struct.pack_into("<i", ent, 0, lsid)
        lfo += bytes(ent)
    table[pos2:pos2 + len(lfo)] = lfo
    struct.pack_into("<II", word, 0x02EA, pos2, len(lfo))

    return _wrap_doc_streams(bytes(word), bytes(table))


def _wrap_doc_streams(word: bytes, table: bytes) -> bytes:
    from docling_spark.engine.olex import write_ole2

    return write_ole2([("WordDocument", word), ("0Table", table)])
