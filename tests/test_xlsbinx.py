"""Native legacy .xls (BIFF8) engine tests.

Pinned against the reference's own legacy corpus
(/root/reference/tests/data/xls/{sources,groundtruth}) — a format the
reference itself can only read by shelling out to LibreOffice
(tests/test_backend_legacy_msoffice.py:1-30). Markdown equality is
byte-exact; the item tree matches the groundtruth itxt."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.xlsbinx import XlsError, extract_xls, synthesize_xls

REF = pathlib.Path("/root/reference/tests/data/xls")

pytestmark_ref = pytest.mark.requires_reference(REF)


def _itxt(items) -> str:
    """The reference's _export_to_indented_text(max_text_len=70,
    explicit_tables=False) shape: tables print as 'table with [RxC]'."""
    out = []
    for it in items:
        ind = "  " * it["level"]
        if it["label"] == "table":
            out.append(
                f'{ind}item-{it["item_idx"]} at level {it["level"]}: '
                f'table with [{it["num_rows"]}x{it["num_cols"]}]'
            )
        elif it["label"] in ("unspecified", "sheet"):
            out.append(
                f'{ind}item-{it["item_idx"]} at level {it["level"]}: '
                f'{it["label"]}: group {it["text"]}'
            )
        else:
            out.append(
                f'{ind}item-{it["item_idx"]} at level {it["level"]}: '
                f'{it["label"]}: {it["text"]}'
            )
    return "\n".join(out)


@pytestmark_ref
def test_legacy_sample_md_byte_exact() -> None:
    data = (REF / "sources" / "legacy_sample.xls").read_bytes()
    gt = (REF / "groundtruth" / "legacy_sample.xls.md").read_text()
    text, _items, _m = extract_xls(data)
    assert text.strip() == gt.strip()


@pytestmark_ref
def test_legacy_sample_itxt_exact() -> None:
    data = (REF / "sources" / "legacy_sample.xls").read_bytes()
    gt = (REF / "groundtruth" / "legacy_sample.xls.itxt").read_text()
    _text, items, _m = extract_xls(data)
    assert _itxt(items) == gt.strip("\n")


def test_synthesized_roundtrip() -> None:
    grid = [
        ["Only title"],
        [],
        ["Year", "Ducks", "Notes"],
        [2019, 120, "cold"],
        [2020, 135.5, "warm | wet"],
    ]
    text, items, m = extract_xls(synthesize_xls("S1", grid))
    # two flood-fill regions: the 1x1 title table and the 3x3 data table
    tables = [it for it in items if it["label"] == "table"]
    assert len(tables) == 2
    assert "| Only title |" in text
    assert "| 2019 | 120 | cold |" in text
    assert "| 2020 | 135.5 | warm &#124; wet |" in text
    assert m["pages_parsed"] == 1


def test_shared_string_dedup_and_bools() -> None:
    # identical strings share one SST entry; parser resolves both cells
    grid = [["dup", "dup"], ["x", "y"]]
    text, _items, _m = extract_xls(synthesize_xls("S", grid))
    assert "| dup | dup |" in text


def test_malformed_contained() -> None:
    with pytest.raises(XlsError):
        extract_xls(b"\xd0\xcf\x11\xe0junk")
    with pytest.raises(XlsError):
        extract_xls(b"not ole at all")


def test_rk_decoding() -> None:
    from docling_spark.engine.xlsbinx import _rk_value
    import struct as _s

    # int flag: 42 << 2 | 0b10
    assert _rk_value((42 << 2) | 0x02) == 42.0
    # negative 30-bit int
    assert _rk_value(((-7 & 0x3FFFFFFF) << 2) | 0x02) == -7.0
    # x100 int: 1234 /100
    assert _rk_value((1234 << 2) | 0x03) == 12.34
    # float form: the RK word IS the high 32 bits of the IEEE double
    rk = _s.unpack("<I", _s.pack("<d", 2.5)[4:])[0] & 0xFFFFFFFC
    assert _rk_value(rk) == 2.5


def test_corrupted_xls_always_contained() -> None:
    """Deterministic fuzz: seeded byte corruptions of a real workbook
    (flips, truncations, splices) must either extract or raise the typed
    XlsError — never an unhandled exception (same containment contract
    as the PDF fuzz, tests/test_pdfx_groundtruth.py)."""
    import hashlib

    base = synthesize_xls(
        "S", [["Year", "V"], [2019, 1.5], ["x", "y"], [7, 8]])
    for trial in range(24):
        h = hashlib.sha256(f"xlsfuzz{trial}".encode()).digest() * 4
        data = bytearray(base)
        mode = trial % 4
        if mode == 0:
            for k in range(0, 64, 2):
                data[int.from_bytes(h[k:k + 2], "big") % len(data)] ^= h[k]
        elif mode == 1:
            data = data[:64 + int.from_bytes(h[:3], "big")
                        % (len(data) - 64)]
        elif mode == 2:
            cut = int.from_bytes(h[:3], "big") % len(data)
            data = data[:cut] + h[:32] + data[cut:]
        else:
            for k in range(0, 32, 2):
                data[512 + int.from_bytes(h[k:k + 2], "big")
                     % (len(data) - 512)] ^= 0xFF
        try:
            extract_xls(bytes(data))
        except XlsError:
            pass


def test_crafted_records_full_cell_coverage() -> None:
    """Raw BIFF8 records exercising every cell path the reference's
    LibreOffice conversion can produce: RK (int/x100/float), MULRK,
    BOOLERR, FORMULA with cached number and cached string (STRING
    follows), LABEL inline strings, and a date-formatted XF."""
    import struct as s

    from docling_spark.engine.xlsbinx import (
        _parse_globals,
        _parse_sheet,
        _rec,
    )

    def xlstr(t: str) -> bytes:
        b = t.encode("latin-1")
        return s.pack("<HB", len(b), 0) + b

    glob = bytearray()
    glob += _rec(0x809, s.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    # FORMAT 200: a date format; XF[0] plain, XF[1] → ifmt 200
    glob += _rec(0x41E, s.pack("<H", 200) + xlstr("yyyy-mm-dd"))
    glob += _rec(0xE0, s.pack("<HH", 0, 0) + b"\x00" * 16)
    glob += _rec(0xE0, s.pack("<HH", 0, 200) + b"\x00" * 16)
    glob += _rec(0x85, s.pack("<IH", 0, 0) + s.pack("<BB", 1, 0) + b"S")
    glob += _rec(0xFC, s.pack("<II", 1, 1) + xlstr("shared"))
    glob += _rec(0x0A, b"")

    sheet = bytearray()
    sheet += _rec(0x809, s.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
    sheet += _rec(0x27E, s.pack("<HHHI", 0, 0, 0, (42 << 2) | 0x02))
    sheet += _rec(0x27E, s.pack("<HHHI", 0, 1, 0, (1234 << 2) | 0x03))
    rkf = s.unpack("<I", s.pack("<d", 2.5)[4:])[0] & 0xFFFFFFFC
    sheet += _rec(0x27E, s.pack("<HHHI", 0, 2, 0, rkf))
    sheet += _rec(0xBD, s.pack("<HH", 1, 0)
                  + s.pack("<HI", 0, (7 << 2) | 0x02)
                  + s.pack("<HI", 0, (8 << 2) | 0x02)
                  + s.pack("<H", 1))
    sheet += _rec(0x205, s.pack("<HHHBB", 1, 2, 0, 1, 0))
    # FORMULA cached number
    sheet += _rec(0x06, s.pack("<HHH", 2, 0, 0) + s.pack("<d", 9.5)
                  + b"\x00" * 8)
    # FORMULA cached string + STRING record
    fval = bytes([0]) + b"\x00" * 5 + s.pack("<H", 0xFFFF)
    sheet += _rec(0x06, s.pack("<HHH", 2, 1, 0) + fval + b"\x00" * 8)
    sheet += _rec(0x207, xlstr("calc"))
    # LABEL inline + a date cell under XF 1
    sheet += _rec(0x204, s.pack("<HHH", 2, 2, 0) + xlstr("inline"))
    sheet += _rec(0x203, s.pack("<HHH", 3, 0, 1) + s.pack("<d", 43831.0))
    sheet += _rec(0x0A, b"")

    wb = bytes(glob + sheet)
    sheets, sst, date_xfs, date1904 = _parse_globals(wb)
    assert sst == ["shared"] and date_xfs == {1} and not date1904
    sh = _parse_sheet(wb, len(glob), sst, date_xfs, date1904)
    assert sh.cells[(0, 0)] == "42"
    assert sh.cells[(0, 1)] == "12.34"
    assert sh.cells[(0, 2)] == "2.5"
    assert sh.cells[(1, 0)] == "7" and sh.cells[(1, 1)] == "8"
    assert sh.cells[(1, 2)] == "True"
    assert sh.cells[(2, 0)] == "9.5"
    assert sh.cells[(2, 1)] == "calc"
    assert sh.cells[(2, 2)] == "inline"
    assert sh.cells[(3, 0)].startswith("2020-01-01")


def test_sst_continue_record_resumption() -> None:
    """BIFF8 strings spanning a Continue boundary restart their flags
    byte mid-string ([MS-XLS] 2.5.293): a string that begins compressed
    and continues as UTF-16 must decode both halves."""
    import struct as s

    from docling_spark.engine.xlsbinx import _parse_sst

    # one string of 8 chars: 4 in fragment 1 (compressed), 4 in
    # fragment 2 (flags byte 0x01 → utf-16)
    frag1 = s.pack("<II", 1, 1) + s.pack("<HB", 8, 0) + b"abcd"
    frag2 = bytes([0x01]) + "efgh".encode("utf-16-le")
    assert _parse_sst([frag1, frag2]) == ["abcdefgh"]


def test_hidden_sheet_is_furniture() -> None:
    """grbit hidden bits route a sheet's items to the furniture layer
    (mirrors the xlsx engine's state != visible rule)."""
    import struct as s

    from docling_spark.engine.xlsbinx import _rec

    def xlstr(t: str) -> bytes:
        b = t.encode("latin-1")
        return s.pack("<HB", len(b), 0) + b

    def sheet_sub(text_idx: int) -> bytes:
        sub = bytearray()
        sub += _rec(0x809, s.pack("<HHHHII", 0x0600, 0x0010, 0, 0, 0, 0))
        sub += _rec(0xFD, s.pack("<HHHI", 0, 0, 0, text_idx))
        sub += _rec(0xFD, s.pack("<HHHI", 0, 1, 0, text_idx))
        sub += _rec(0xFD, s.pack("<HHHI", 1, 0, 0, text_idx))
        sub += _rec(0xFD, s.pack("<HHHI", 1, 1, 0, text_idx))
        sub += _rec(0x0A, b"")
        return bytes(sub)

    s1, s2 = sheet_sub(0), sheet_sub(1)
    glob = bytearray()
    glob += _rec(0x809, s.pack("<HHHHII", 0x0600, 0x0005, 0, 0, 0, 0))
    # globals length is fixed once both boundsheet records are included
    def shortstr(t: str) -> bytes:
        b = t.encode("latin-1")
        return s.pack("<BB", len(b), 0) + b

    bs_len = len(_rec(0x85, s.pack("<IH", 0, 0) + shortstr("Vis")))
    bs2_len = len(_rec(0x85, s.pack("<IH", 0, 1) + shortstr("Hid")))
    sst = _rec(0xFC, s.pack("<II", 8, 2) + xlstr("visible-cell")
               + xlstr("hidden-cell"))
    head = len(glob) + bs_len + bs2_len + len(sst) + len(_rec(0x0A, b""))
    glob += _rec(0x85, s.pack("<IH", head, 0) + shortstr("Vis"))
    glob += _rec(0x85, s.pack("<IH", head + len(s1), 1) + shortstr("Hid"))
    glob += sst
    glob += _rec(0x0A, b"")
    wb = bytes(glob) + s1 + s2

    from docling_spark.engine.xlsbinx import _parse_globals, extract_xls
    from docling_spark.engine.olex import OleFile

    sheets, strings, _d, _d4 = _parse_globals(wb)
    assert [(n, h) for n, h, _ in sheets] == [("Vis", False), ("Hid", True)]

    # wrap in an OLE2 container via the synthesizer's writer path
    import docling_spark.engine.xlsbinx as X

    blob = X.synthesize_xls("ignored", [["x"]])
    ole = OleFile(blob)
    # splice our workbook into the container: rebuild with the helper
    from docling_spark.engine.pptbinx import _ole2_streams

    text, items, m = extract_xls(_ole2_streams([("Workbook", wb)]))
    assert "visible-cell" in text
    assert "hidden-cell" not in text  # furniture layer excluded from body
    layers = {it["content_layer"] for it in items if it["label"] == "table"}
    assert layers == {"body", "furniture"}
    assert m["pages_parsed"] == 2


def test_biff5_contained() -> None:
    """A BIFF5 'Book' stream (Excel 5.0/95) must fail contained — its
    flag-less byte strings would decode as silent garbage under the
    BIFF8 grammar."""
    import struct as s

    from docling_spark.engine.olex import write_ole2
    from docling_spark.engine.xlsbinx import _rec

    wb5 = _rec(0x809, s.pack("<HHHH", 0x0500, 0x0005, 0, 0)) \
        + _rec(0x0A, b"")
    with pytest.raises(XlsError, match="BIFF8 required"):
        extract_xls(write_ole2([("Book", wb5)]))


def test_large_workbook_multi_fat() -> None:
    """The shared OLE2 writer grows the FAT past one sector — a 3000-row
    grid (~190 KB stream) round-trips instead of raising IndexError."""
    grid = [["r%d" % i, float(i)] for i in range(3000)]
    _text, items, _m = extract_xls(synthesize_xls("Big", grid))
    tables = [it for it in items if it["label"] == "table"]
    assert tables and tables[0]["num_rows"] == 3000
