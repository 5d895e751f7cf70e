"""Legacy .doc native parser vs the reference's corpus + round-trips.

The reference converts tests/data/doc/sources/legacy_sample.doc via a
LibreOffice subprocess (absent here, it raises); engine/docbinx.py
parses the Word binary directly. The groundtruth markdown is pinned
BYTE-EXACT (LFO/LVL numbering, CHPX bold cells, TTP-flagged table rows
all resolve natively). The groundtruth .itxt stays excluded: it encodes
LibreOffice-internal tree artifacts (``header-N`` wrapper groups,
``rich_cell_group`` children for bold cells, a different text-truncation
midpoint) that are not derivable from the Word binary itself and do not
affect the rendered markdown.
"""

from __future__ import annotations

import pathlib
import re
import unicodedata

import pytest

from docling_spark.engine.docbinx import (
    DocBinError,
    extract_doc,
    synthesize_doc,
)

SRC = pathlib.Path("/root/reference/tests/data/doc/sources")
GT = pathlib.Path("/root/reference/tests/data/doc/groundtruth")

pytestmark = pytest.mark.requires_reference(SRC)


def _words(s: str) -> set[str]:
    s = unicodedata.normalize("NFKC", s.lower())
    return set(re.findall(r"[\w]{2,}", s))


def test_legacy_sample_structure() -> None:
    text, items, metrics = extract_doc(
        (SRC / "legacy_sample.doc").read_bytes())
    # headings exactly as the groundtruth renders them
    assert "## Swimming in the lake" in text
    assert "## Let’s swim!" in text
    assert "### Let’s eat" in text
    # SEQ field resolved inside the caption
    assert "Figure 1: This is a cute duckling" in text
    # picture placeholder
    assert "<!-- image -->" in text
    # the 3x4 food table assembles as a markdown grid with bold cells
    assert "| **Leaves** | Ash, Elm, Maple | 50 |" in text
    assert "| **Grain** | Corn, Buckwheat, Barley | 200 |" in text
    labels = {it["label"] for it in items}
    assert {"section_header", "list_item", "caption", "picture",
            "table"} <= labels


def test_legacy_sample_md_byte_exact() -> None:
    text, _, _ = extract_doc((SRC / "legacy_sample.doc").read_bytes())
    gt = (GT / "legacy_sample.doc.md").read_text()
    assert text.strip() == gt.strip()


def test_legacy_sample_word_recall() -> None:
    text, _, _ = extract_doc((SRC / "legacy_sample.doc").read_bytes())
    gw = _words((GT / "legacy_sample.doc.md").read_text())
    ow = _words(text)
    hit = len(gw & ow)
    assert hit / max(len(gw), 1) >= 0.97, sorted(gw - ow)[:10]
    assert hit / max(len(ow), 1) >= 0.97, sorted(ow - gw)[:10]


def test_synthesized_roundtrip() -> None:
    for body in ["one\ntwo\nthree", "single", "unicode é ü ß\nnext"]:
        text, items, _ = extract_doc(synthesize_doc(body))
        assert text == body.replace("\n", "\n\n")


def test_malformed_doc_contained() -> None:
    for bad in [b"", b"\xd0\xcf\x11\xe0junk", b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1" + b"\x00" * 600]:
        with pytest.raises(DocBinError):
            extract_doc(bad)


def test_synthesized_rich_roundtrip() -> None:
    """The rich writer emits REAL PAPX/CHPX/LFO layers; the parser must
    recover numbered + bulleted lists and a bold-header table from
    them (the write half of the extract_doc_rich contract query)."""
    from docling_spark.engine.docbinx import synthesize_doc_rich

    b = synthesize_doc_rich([
        ("Intro paragraph", "text"),
        ("first", "number"), ("second", "number"),
        ("alpha", "bullet"), ("beta", "bullet"),
        ("Head", "cellbold"), ("Val", "cell"), ("", "rowend"),
        ("x1", "cell"), ("7", "cell"), ("", "rowend"),
        ("Closing note", "text"),
    ])
    text, items, _m = extract_doc(b)
    assert "1. first\n2. second" in text
    assert "- alpha\n- beta" in text
    assert "| **Head** | Val |" in text
    assert "| x1 | 7 |" in text
    assert text.startswith("Intro paragraph")
    assert text.endswith("Closing note")
    groups = [it for it in items if it["label"] == "list"]
    assert len(groups) == 2


def test_multi_paragraph_cell_joins() -> None:
    """Word multi-paragraph cells: inner paragraphs end with CR (with
    fInTable set) and only the last carries the 0x07 cell mark — they
    must join into ONE cell, never shift the grid."""
    from docling_spark.engine.docbinx import synthesize_doc_rich

    blob = synthesize_doc_rich([
        ("line one", "cell_part"), ("line two", "cell"),
        ("n", "cell"), ("", "rowend"),
        ("x", "cell"), ("y", "cell"), ("", "rowend"),
    ])
    text, _items, _m = extract_doc(blob)
    assert "| line one line two | n |" in text
    assert "| x | y |" in text


class TestOleRobustness:
    """Memory-bomb and scoping regressions from the OLE2 review."""

    def test_difat_repetition_bounded(self):
        import struct

        from docling_spark.engine.olex import OleError, OleFile, write_ole2

        base = bytearray(write_ole2([("S", b"payload")]))
        # plant 109 copies of FAT sector 0 in the header DIFAT
        struct.pack_into("<109I", base, 76, *([0] * 109))
        try:
            ole = OleFile(bytes(base))
            # FAT must stay bounded by the file's real sector count
            assert len(ole.fat) <= ole.max_sectors + 128
        except OleError:
            pass  # typed rejection is equally acceptable

    def test_fat_cycle_raises_typed(self):
        import struct

        from docling_spark.engine.olex import OleError, OleFile, write_ole2

        base = bytearray(write_ole2([("S", b"payload")]))
        # make the directory chain point at itself: dir_start=n_fat
        (dir_start,) = struct.unpack_from("<I", base, 48)
        # fat entry for dir_start lives in FAT sector 0 at offset 512
        struct.pack_into("<I", base, 512 + 4 * dir_start, dir_start)
        try:
            OleFile(bytes(base))
            raise AssertionError("cycle not detected")
        except OleError:
            pass

    def test_nested_stream_does_not_shadow_root(self):
        from docling_spark.engine.olex import OleFile, write_ole2

        # two streams, both root-level in our writer: sanity of the
        # sibling-tree walk (regression for the tree-scoped streams())
        blob = write_ole2([("Workbook", b"W" * 5000),
                           ("WordDocument", b"D" * 5000)])
        ole = OleFile(blob)
        assert set(ole.streams()) == {"Workbook", "WordDocument"}
        assert ole.read("Workbook")[:1] == b"W"

    def test_writer_rejects_overlong_names(self):
        import pytest

        from docling_spark.engine.olex import OleError, write_ole2

        with pytest.raises(OleError, match="name"):
            write_ole2([("X" * 33, b"data")])

    def test_large_stream_true_size_roundtrip(self):
        from docling_spark.engine.olex import OleFile, write_ole2

        data = b"Z" * 5000  # >= mini cutoff: true size recorded
        ole = OleFile(write_ole2([("S", data)]))
        assert ole.read("S") == data  # no padded NUL tail


class TestDocbinReviewFixes:
    def test_empty_middle_cell_keeps_row_shape(self):
        from docling_spark.engine.docbinx import (
            extract_doc,
            synthesize_doc_rich,
        )

        b = synthesize_doc_rich([
            ("A", "cell"), ("", "cell"), ("B", "cell"), ("", "rowend"),
            ("C", "cell"), ("D", "cell"), ("E", "cell"), ("", "rowend"),
        ])
        text, items, _ = extract_doc(b)
        tables = [it for it in items if it["label"] == "table"]
        assert tables and tables[0]["num_rows"] == 2
        assert tables[0]["num_cols"] == 3

    def test_nested_field_resolves_inside_out(self):
        from docling_spark.engine.docbinx import _clean_para

        p = "\x13TOC \x13PAGEREF\x14 5\x15\x14Contents\x15"
        assert _clean_para(p) == "Contents"

    def test_soft_break_in_cell_does_not_split_grid(self):
        from docling_spark.engine.docbinx import _rows_md

        md, nr, nc = _rows_md([["a\nb", "c"]])
        assert "\n" not in md.split("\n")[0].strip("| ") or True
        assert md.splitlines()[0] == "| a b | c |"
