"""Pin the HTML extraction engine against the reference's own groundtruth.

Mirrors the reference test strategy (tests/verify_utils.py:101-116 exact text
equality per source document). Skips automatically when the reference
checkout is not present (the engine itself has no dependency on it).
"""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.htmlx import extract_html

REF = pathlib.Path("/root/reference/tests/data/html")

# Exact-match corpus: every reference HTML source whose md groundtruth we
# reproduce byte-for-byte. The one exclusion:
#  - table_06: nested-table-in-cell spacing in the groundtruth is not
#    derivable from the source. r4 re-derivation: the current reference
#    stores cell text as get_text(html_cell).strip() with NO whitespace
#    transform (parse_table_data, html_backend.py:1548-1550; get_text
#    itself concatenates NavigableStrings raw, :4536-4566), which yields
#    a 45-space run between 'II' and 'III' where the groundtruth has
#    exactly 4 — so the groundtruth was not produced by this code path.
#    No transform of it can work either: the C1→D1 and II→III gaps have
#    IDENTICAL tree structure (three newline-bearing whitespace nodes +
#    one td trailing space; they differ only in 44 pre-newline spaces)
#    yet map to different groundtruth widths (1 vs 4), so the spacing is
#    not a function of the parse tree at all. The widths DO grow
#    monotonically with visual nesting depth (4,4,5,4,8 against the
#    source's cumulative 30px td padding) — consistent with a rendered-
#    page text layer (the browser mode of html_backend.py:581-951, a
#    documented non-goal), not DOM semantics.
EXPECT_MATCH = [
    "example_01", "example_02", "example_03", "example_04", "example_05",
    "example_06", "example_07", "example_08",
    "formatting",
    "html_code_snippets", "html_description_list", "html_heading_in_p",
    "html_inline_group_in_table_cell", "html_nested_block_in_list_item",
    "html_rich_table_cells",
    "hyperlink_01", "hyperlink_02", "hyperlink_03", "hyperlink_04",
    "hyperlink_05", "hyperlink_06",
    "kvp_data_example",
    "table_01", "table_02", "table_03", "table_04", "table_05",
    "table_with_heading_01", "table_with_heading_02",
    "unit_test_01",
    "wiki_duck",
]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", EXPECT_MATCH)
def test_reference_groundtruth_md(name: str) -> None:
    src = (REF / "sources" / f"{name}.html").read_text()
    gt = (REF / "groundtruth" / f"{name}.html.md").read_text()
    text, items = extract_html(src)
    assert text.strip() == gt.strip()


def test_items_structure() -> None:
    src = (REF / "sources" / "example_02.html").read_text()
    text, items = extract_html(src)
    # root + title + 2 text + section_header + text + 2 list groups + 4 li
    labels = [it["label"] for it in items]
    assert labels[0] == "unspecified"
    assert "title" in labels and "section_header" in labels
    assert labels.count("list_item") == 4
    # parent pointers form a tree rooted at 0
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_spans_point_into_extracted_text() -> None:
    src = (REF / "sources" / "example_03.html").read_text()
    text, items = extract_html(src)
    for it in items:
        if it["span_start"] >= 0 and it["label"] in ("text", "title", "section_header"):
            span = text[it["span_start"]:it["span_end"]]
            # heading spans include the '#' prefix
            assert it["text"] in span or span.endswith(it["text"])


def test_malformed_html_does_not_raise() -> None:
    for payload in ["<p>unclosed", "<table><tr><td>x", "<<<>>>", "", "<b><i>nest</b></i>"]:
        text, items = extract_html(payload)
        assert isinstance(text, str)
