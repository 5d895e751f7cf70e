"""dots.ocr engine: semantics pinned to the reference's own parser tests
(tests/test_dots_parser.py) plus its fixture corpus."""

from __future__ import annotations

import json
import pathlib

import pytest

from docling_spark.engine.dotsx import extract_dots

SRC = pathlib.Path("/root/reference/tests/data/json_dots/sources")


def test_text_element() -> None:
    data = [{"bbox": [10, 20, 300, 50], "category": "Text",
             "text": "Hello world"}]
    text, items, m = extract_dots(json.dumps(data))
    assert [it["label"] for it in items[1:]] == ["text"]
    assert text == "Hello world"


def test_table_html_grid() -> None:
    html = ("<table><tr><th>A</th><th>B</th></tr>"
            "<tr><td>1</td><td>2</td></tr></table>")
    data = [{"bbox": [0, 0, 100, 100], "category": "Table", "text": html}]
    text, items, m = extract_dots(json.dumps(data))
    tbl = [it for it in items if it["label"] == "table"]
    assert len(tbl) == 1
    assert tbl[0]["num_rows"] == 2 and tbl[0]["num_cols"] == 2


def test_picture_without_text() -> None:
    data = [{"bbox": [50, 50, 200, 200], "category": "Picture"}]
    text, items, m = extract_dots(json.dumps(data))
    assert [it["label"] for it in items[1:]] == ["picture"]
    assert text == "<!-- image -->"


def test_truncated_array_recovers_prefix() -> None:
    raw = ('[{"bbox": [0,0,100,100], "category": "Text", "text": "OK"}, '
           '{"bbox": [0,0,100,1')
    text, items, m = extract_dots(raw)
    assert "OK" in text


def test_leading_garbage_stripped() -> None:
    raw = ('some preamble text [{"bbox": [10,20,30,40], '
           '"category": "Text", "text": "hi"}]')
    text, items, m = extract_dots(raw)
    assert text == "hi"


def test_no_json_structure_is_empty() -> None:
    text, items, m = extract_dots("completely invalid, no brackets")
    assert len(items) == 1 and text == ""


def test_empty_inputs() -> None:
    for raw in ("[]", "", "   "):
        text, items, m = extract_dots(raw)
        assert len(items) == 1


def test_bad_bbox_dropped() -> None:
    data = [{"bbox": [0, 0, 100], "category": "Text", "text": "short"},
            {"bbox": "nope", "category": "Text", "text": "str"},
            {"category": "Text", "text": "missing"}]
    text, items, m = extract_dots(json.dumps(data))
    assert len(items) == 1


def test_consecutive_list_items_group() -> None:
    data = [
        {"bbox": [0, 0, 10, 10], "category": "List-item", "text": "one"},
        {"bbox": [0, 10, 10, 20], "category": "List-item", "text": "two"},
        {"bbox": [0, 20, 10, 30], "category": "Text", "text": "break"},
        {"bbox": [0, 30, 10, 40], "category": "List-item", "text": "three"},
    ]
    text, items, m = extract_dots(json.dumps(data))
    groups = [it for it in items if it["label"] == "list"]
    assert len(groups) == 2
    assert text == "- one\n- two\n\nbreak\n\n- three"


@pytest.mark.requires_reference(SRC)
def test_fixture_corpus_parses() -> None:
    for p in sorted(SRC.glob("*.json")):
        text, items, m = extract_dots(p.read_text())
        assert m["n_items"] > 5, p.name
        assert m["parse_score"] == 1.0


def test_furniture_layers() -> None:
    data = [
        {"bbox": [0, 0, 10, 10], "category": "Page-header",
         "text": "running head"},
        {"bbox": [0, 20, 10, 30], "category": "Text", "text": "body"},
    ]
    text, items, m = extract_dots(json.dumps(data))
    furn = [it for it in items if it["content_layer"] == "furniture"]
    assert any("running head" in it["text"] for it in furn)
    assert "running head" not in text
