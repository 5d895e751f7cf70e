"""SVG layout-debug sink (engine/visualize.py + operators/visualize.py)
— the draw_clusters analog (docling/utils/visualization.py:11):
snapshot-pinned SVG text, well-formedness on the real PDF corpus, and
the Spark operator's (doc, page, svg) contract."""

from __future__ import annotations

import pathlib
import xml.etree.ElementTree as ET

import pytest

from docling_spark.engine.visualize import page_svg, svg_pages

PDF_SRC = pathlib.Path("/root/reference/tests/data/pdf/sources")


def _cell(label, bbox, text="x"):
    return {"page_no": 1, "bbox": bbox, "text": text, "conf": 1.0,
            "label": label}


def test_page_svg_snapshot():
    cells = [
        _cell("title", (72.0, 60.0, 300.0, 80.0)),
        _cell("text", (72.0, 100.0, 500.0, 112.0)),
    ]
    svg = page_svg(cells, (612.0, 792.0), 1)
    assert svg == "\n".join([
        '<svg xmlns="http://www.w3.org/2000/svg" '
        'viewBox="0 0 612 792" width="612" height="792">',
        '<!-- page 1: 2 cells -->',
        '<rect x="0" y="0" width="612" height="792" fill="#ffffff"/>',
        '<rect x="72.00" y="60.00" width="228.00" height="20.00" '
        'fill="#d62728" fill-opacity="0.27" stroke="#d62728" '
        'stroke-width="1"/>',
        '<text x="72.00" y="58.00" font-size="12" '
        'font-family="sans-serif" fill="#d62728">0:title</text>',
        '<rect x="72.00" y="100.00" width="428.00" height="12.00" '
        'fill="#1f77b4" fill-opacity="0.27" stroke="#1f77b4" '
        'stroke-width="1"/>',
        '<text x="72.00" y="98.00" font-size="12" '
        'font-family="sans-serif" fill="#1f77b4">1:text</text>',
        '</svg>',
    ])
    ET.fromstring(svg)  # well-formed XML


def test_svg_pages_totality_and_escaping():
    cells = [_cell("text", (0.0, 0.0, 10.0, 10.0))]
    svgs = svg_pages(cells, {1: (612.0, 792.0), 2: (612.0, 792.0)})
    assert sorted(svgs) == [1, 2]          # cell-less page 2 present
    assert "0 cells" in svgs[2]
    # label text is XML-escaped
    weird = [_cell("a<b&c", (0.0, 0.0, 5.0, 5.0))]
    svg = page_svg(weird, (100.0, 100.0), 1)
    assert "a&lt;b&amp;c" in svg
    ET.fromstring(svg)


@pytest.mark.requires_reference(PDF_SRC)
def test_pdf_debug_svg_real_corpus():
    from docling_spark.engine.visualize import pdf_debug_svg

    svgs = pdf_debug_svg(
        (PDF_SRC / "amt_handbook_sample.pdf").read_bytes())
    assert sorted(svgs) == [1]
    root = ET.fromstring(svgs[1])
    rects = [e for e in root.iter()
             if e.tag.endswith("rect")]
    assert len(rects) > 10  # page background + real layout boxes
    # reading-order indices paint 0..n-1 in order
    texts = [e.text for e in root.iter() if e.tag.endswith("text")]
    assert texts[0].startswith("0:") and texts[1].startswith("1:")


def test_debug_svg_pages_operator(spark):
    from docling_spark.operators.visualize import debug_svg_pages

    payload = "\n".join([
        '{"page_no": 1, "width": 612, "height": 792}',
        '{"page_no": 1, "bbox": [72, 60, 300, 80], "text": "Title",'
        ' "conf": 1.0, "label": "title"}',
        '{"page_no": 1, "bbox": [72, 100, 500, 112], "text": "body",'
        ' "conf": 1.0, "label": "text"}',
    ])
    docs = spark.createDataFrame(
        [(1, payload), (2, "not json at all")],
        "doc_id long, text string")
    rows = debug_svg_pages(docs).collect()
    assert len(rows) == 1  # bad payload contained, no row
    r = rows[0]
    assert (r.doc_id, r.page_no, r.n_cells) == (1, 1, 2)
    ET.fromstring(r.svg)
    assert "0:title" in r.svg and "1:text" in r.svg
