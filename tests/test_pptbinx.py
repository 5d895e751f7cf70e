"""Native legacy .ppt (PPT97 binary) engine tests.

Pinned against the reference's own legacy corpus
(/root/reference/tests/data/ppt/{sources,groundtruth}) — a format the
reference itself can only read by shelling out to LibreOffice
(tests/test_backend_legacy_msoffice.py:1-30). Markdown AND item-tree
(itxt) equality are byte-exact — including the 9x7 merged-cell table
reconstructed from the shape-group geometry, visual row-band ordering,
autonumbered vs plain bullets, and persist-directory slide resolution."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.pptbinx import (
    PptError,
    extract_ppt,
    synthesize_ppt,
)

REF = pathlib.Path("/root/reference/tests/data/ppt")

pytestmark_ref = pytest.mark.requires_reference(REF)


def _itxt(items) -> str:
    out = []
    for it in items:
        ind = "  " * it["level"]
        if it["label"] == "table":
            out.append(
                f'{ind}item-{it["item_idx"]} at level {it["level"]}: '
                f'table with [{it["num_rows"]}x{it["num_cols"]}]'
            )
        elif it["label"] in ("unspecified", "chapter", "list"):
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
    data = (REF / "sources" / "legacy_sample.ppt").read_bytes()
    gt = (REF / "groundtruth" / "legacy_sample.ppt.md").read_text()
    text, _items, _m = extract_ppt(data)
    assert text.strip() == gt.strip()


@pytestmark_ref
def test_legacy_sample_itxt_exact() -> None:
    data = (REF / "sources" / "legacy_sample.ppt").read_bytes()
    gt = (REF / "groundtruth" / "legacy_sample.ppt.itxt").read_text()
    _text, items, _m = extract_ppt(data)
    assert _itxt(items) == gt.rstrip("\n")


@pytestmark_ref
def test_stale_containers_not_double_counted() -> None:
    """The sample is an incremental-edit file: a naive stream scan and
    the persist directory agree here (3 live slides), but resolution
    MUST go through Current User → UserEditAtom → persist dir."""
    data = (REF / "sources" / "legacy_sample.ppt").read_bytes()
    _text, items, m = extract_ppt(data)
    chapters = [it for it in items if it["label"] == "chapter"]
    assert [c["text"] for c in chapters] == ["slide-0", "slide-1", "slide-2"]
    assert m["pages_parsed"] == 3


def test_synthesized_roundtrip() -> None:
    b = synthesize_ppt([
        {"title": "Deck A", "paras": ["Opening remark."],
         "bullets": ["alpha", "beta"], "ordered": False},
        {"title": "Deck B", "bullets": ["one", "two", "three"],
         "ordered": True},
    ])
    text, items, m = extract_ppt(b)
    assert "# Deck A" in text and "# Deck B" in text
    assert "- alpha\n- beta" in text
    assert "1. one\n2. two\n3. three" in text
    assert m["pages_parsed"] == 2
    chapters = [it for it in items if it["label"] == "chapter"]
    assert len(chapters) == 2


def test_unicode_text_roundtrip() -> None:
    b = synthesize_ppt([{"title": "Résumé — übersicht",
                         "paras": ["naïve café ₤"], "bullets": []}])
    text, _items, _m = extract_ppt(b)
    assert "# Résumé — übersicht" in text
    assert "naïve café ₤" in text


def test_malformed_contained() -> None:
    with pytest.raises(PptError):
        extract_ppt(b"\xd0\xcf\x11\xe0junk")
    with pytest.raises(PptError):
        extract_ppt(b"not ole at all")


def test_corrupted_ppt_always_contained() -> None:
    """Deterministic fuzz over the synthesized PPT97 binary: flips,
    truncations, splices → extract or typed PptError, never an
    unhandled exception."""
    import hashlib

    base = synthesize_ppt([
        {"title": "T", "paras": ["p one"], "bullets": ["a", "b"],
         "ordered": True},
    ])
    for trial in range(24):
        h = hashlib.sha256(f"pptfuzz{trial}".encode()).digest() * 4
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
            extract_ppt(bytes(data))
        except PptError:
            pass


def test_table_grid_reconstruction_with_spans() -> None:
    """Unit-level geometry: member rects with column- and row-spanning
    merges snap to shared boundaries; merged text expands across the
    covered cells; border-line (zero-area) members are ignored."""
    from docling_spark.engine.pptbinx import _Shape, _try_table

    def cell(t, l, r, b, text=""):
        sh = _Shape()
        sh.anchor = (t, l, r, b)
        sh.text = text
        return sh

    g = _Shape()
    g.members = [
        cell(0, 0, 100, 10, "h1"), cell(0, 100, 300, 10, "wide"),
        cell(10, 0, 100, 30, "tall"), cell(10, 100, 200, 20, "m1"),
        cell(10, 200, 300, 20, "m2"), cell(20, 100, 200, 30, "m3"),
        cell(20, 200, 300, 30, "m4"),
        cell(10, 100, 100, 30),  # vertical border stroke: l == r (w=0)
    ]
    grid = _try_table(g)
    assert grid == [
        ["h1", "wide", "wide"],
        ["tall", "m1", "m2"],
        ["tall", "m3", "m4"],
    ]


def test_non_tiling_group_is_not_a_table() -> None:
    from docling_spark.engine.pptbinx import _Shape, _try_table

    def cell(t, l, r, b, text=""):
        sh = _Shape()
        sh.anchor = (t, l, r, b)
        sh.text = text
        return sh

    g = _Shape()
    # two big overlapping rects + scattered small ones: not a grid
    g.members = [cell(0, 0, 100, 100, "a"), cell(50, 50, 150, 150, "b"),
                 cell(200, 200, 260, 230, "c"), cell(0, 200, 80, 280, "d")]
    assert _try_table(g) is None


def test_outline_resident_text_roundtrip() -> None:
    """Real decks routinely keep placeholder text in the
    SlideListWithText, with drawing shapes carrying only
    OutlineTextRefAtom references ([MS-PPT] 2.4.14.1) — the parser must
    resolve them identically to drawing-resident text."""
    b = synthesize_ppt([
        {"title": "Outline Deck", "paras": ["Body para."],
         "bullets": ["o1", "o2"], "ordered": True, "outline": True},
        {"title": "Drawing Deck", "bullets": ["d1"], "outline": False},
    ])
    text, items, m = extract_ppt(b)
    assert "# Outline Deck" in text
    assert "Body para." in text
    assert "1. o1\n2. o2" in text
    assert "# Drawing Deck" in text and "- d1" in text
    assert m["pages_parsed"] == 2
