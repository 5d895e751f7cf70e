"""chandra-ocr-2 engine: semantics pinned to the reference's own test
assertions (tests/test_chandra_vlm.py) over its fixture corpus."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.chandrax import extract_chandra

SRC = pathlib.Path("/root/reference/tests/data/html_chandra/sources")

pytestmark = pytest.mark.requires_reference(SRC)


def test_simple_parsing() -> None:
    text, items, m = extract_chandra(
        (SRC / "chandra_simple.html").read_text())
    labels = [it["label"] for it in items[1:]]
    assert "section_header" in labels
    assert "caption" in labels
    assert "table" in labels
    # page header classifies as furniture (reference 'page_header' label)
    furn = [it for it in items if it["content_layer"] == "furniture"]
    assert any("Optimized Table Tokenization" in it["text"] for it in furn)
    assert "Hyper Parameter Optimization" in text


def test_multiblock_has_picture_and_footer() -> None:
    text, items, m = extract_chandra(
        (SRC / "chandra_multiblock.html").read_text())
    assert any(it["label"] == "picture" for it in items)
    assert any(it["content_layer"] == "furniture" for it in items[1:])


def test_list_group_items() -> None:
    """The reference asserts 4 list items with these texts in order."""
    text, items, m = extract_chandra(
        (SRC / "chandra_list_group.html").read_text())
    lis = [it["text"] for it in items if it["label"] == "list_item"]
    assert len(lis) == 4
    assert "IBM MT/ST" in lis[0]
    assert "Wang Laboratories" in lis[1]
    assert "WordStar" in lis[2]
    assert "Microsoft Word" in lis[3]


def test_malformed_divs_dropped() -> None:
    content = (
        '<div data-label="Text"><p>no bbox</p></div>'
        '<div data-bbox="0 0 500 500"><p>no label</p></div>'
        '<div data-bbox="bad coords" data-label="Text"><p>bad</p></div>'
        '<div data-bbox="0 0 500" data-label="Text"><p>incomplete</p></div>'
    )
    text, items, m = extract_chandra(content)
    assert len(items) == 1  # root only


def test_unknown_label_falls_back_to_text() -> None:
    content = ('<div data-bbox="100 100 200 200" data-label="UnknownType">'
               "<p>fallback</p></div>")
    text, items, m = extract_chandra(content)
    assert [it["label"] for it in items[1:]] == ["text"]
    assert text == "fallback"


def test_table_div_uses_table_grid() -> None:
    content = (
        '<div data-bbox="50 50 500 300" data-label="Table">'
        "<table><tr><th>Header</th></tr><tr><td>Cell</td></tr></table>"
        "</div>"
    )
    text, items, m = extract_chandra(content)
    tables = [it for it in items if it["label"] == "table"]
    assert len(tables) == 1
    assert "| Header |" in tables[0]["text"]
    assert "| Cell |" in tables[0]["text"]


def test_empty_content() -> None:
    for content in ("", "   ", "\n\t"):
        text, items, m = extract_chandra(content)
        assert len(items) == 1
        assert text == ""
