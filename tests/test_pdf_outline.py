"""PDF outline extraction pinned against the reference's bookmark corpus
(tests/data/pdf/bookmark_sample.pdf — the fixture the reference's
heading-hierarchy bookmark tests drive, test_heading_hierarchy_bookmarks.py),
plus the end-to-end path: real PDF → real outline → the Spark
bookmark→heading fuzzy-join operator."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.pdfx import PdfDocument, extract_pdf, pdf_outline

SAMPLE = pathlib.Path("/root/reference/tests/data/pdf/bookmark_sample.pdf")

pytestmark = pytest.mark.requires_reference(SAMPLE)


def _outline():
    return pdf_outline(PdfDocument(SAMPLE.read_bytes()))


def test_outline_titles_levels_pages() -> None:
    ol = _outline()
    got = [(o["title"], o["level"], o["page_no"]) for o in ol]
    assert got == [
        ("PART I - DEFINITIONS", 0, 1),
        ("1. Interpretation", 1, 1),
        ("2. Construction of Terms", 1, 1),
        ("PART II - OBLIGATIONS", 0, 2),
        ("3. Payment Terms", 1, 2),
        ("3.1 Payment Schedule", 2, 2),
        ("4. Termination", 1, 3),
        ("PART III - MISCELLANEOUS", 0, 3),
    ]


def test_outline_y_top_is_topleft_origin() -> None:
    # destinations convert to top-left origin; monotone within a page
    ol = [o for o in _outline() if o["page_no"] == 1]
    ys = [o["y_top"] for o in ol]
    assert all(y is not None and 0 <= y <= 792 for y in ys)
    assert ys == sorted(ys)


def test_no_outline_returns_empty() -> None:
    src = pathlib.Path("/root/reference/tests/data/pdf/sources")
    d = PdfDocument((src / "multi_page.pdf").read_bytes())
    assert pdf_outline(d) == []


def test_real_outline_feeds_bookmark_join(spark) -> None:
    """End-to-end: extract_pdf text lines + pdf_outline bookmarks →
    bookmark_heading_levels assigns compressed levels to the on-page
    headings the bookmarks name."""
    from docling_spark.operators.heading_levels import bookmark_heading_levels

    raw = SAMPLE.read_bytes()
    text, items, _ = extract_pdf(raw)
    ol = _outline()
    headings = spark.createDataFrame(
        [(1, it["item_idx"], it["text"]) for it in items
         if it["label"] != "unspecified" and it["text"].strip()],
        "doc_id int, heading_idx int, text string",
    )
    outline = spark.createDataFrame(
        [(1, k, o["title"], o["level"]) for k, o in enumerate(ol)],
        "doc_id int, bm_idx int, title string, bm_level int",
    )
    got = {r.heading_idx: r.level
           for r in bookmark_heading_levels(headings, outline).collect()}
    assert len(got) >= 6  # most of the 8 bookmarks matched a heading
    by_idx = {it["item_idx"]: it["text"] for it in items}
    part_levels = [lvl for idx, lvl in got.items()
                   if by_idx[idx].startswith("PART")]
    sub_levels = [lvl for idx, lvl in got.items()
                  if by_idx[idx].startswith("3.1")]
    assert part_levels and all(lvl == 1 for lvl in part_levels)
    assert all(lvl == 3 for lvl in sub_levels)
