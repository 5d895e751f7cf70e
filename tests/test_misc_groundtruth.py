"""Pin the EPUB, CSV, BoxNote, and DeepSeek-md engines against the
reference's own groundtruth corpora (tests/data/{epub,csv,boxnote,
md_deepseek}) — exact text equality, the reference's verify_utils.py
contract. These engines previously shipped with synthetic-oracle coverage
only; this locks them to the reference bytes."""

from __future__ import annotations

import pathlib

import pytest

REF = pathlib.Path("/root/reference/tests/data")

pytestmark = pytest.mark.requires_reference(REF)

CSV_NAMES = [
    "csv-comma-in-cell", "csv-comma", "csv-inconsistent-header",
    "csv-pipe", "csv-semicolon", "csv-single-column", "csv-tab",
    "csv-too-few-columns", "csv-too-many-columns",
]

DEEPSEEK_NAMES = ["deepseek_example", "deepseek_simple", "deepseek_title"]


def test_epub_groundtruth() -> None:
    from docling_spark.engine.epubx import extract_epub

    src = (REF / "epub/sources/epub_purvis_poetry.epub").read_bytes()
    gt = (REF / "epub/groundtruth/epub_purvis_poetry.epub.md").read_text()
    text, items, metrics = extract_epub(src)
    assert text.strip() == gt.strip()
    assert metrics["n_items"] == len(items) - 1


@pytest.mark.parametrize("name", CSV_NAMES)
def test_csv_groundtruth(name: str) -> None:
    from docling_spark.engine.csvx import extract_csv

    src = (REF / "csv/sources" / f"{name}.csv").read_text()
    gt = (REF / "csv/groundtruth" / f"{name}.csv.md").read_text()
    text, _items, _metrics = extract_csv(src)
    assert text.strip() == gt.strip()


def test_boxnote_groundtruth() -> None:
    from docling_spark.engine.boxnotex import extract_boxnote

    src = (REF / "boxnote/sources/sample.boxnote").read_text()
    gt = (REF / "boxnote/groundtruth/sample.boxnote.md").read_text()
    text, _items, _metrics = extract_boxnote(src)
    assert text.strip() == gt.strip()


@pytest.mark.parametrize("name", DEEPSEEK_NAMES)
def test_deepseek_groundtruth(name: str) -> None:
    from docling_spark.engine.deepseekx import extract_deepseek

    src = (REF / "md_deepseek/sources" / f"{name}.md").read_text()
    gt = (REF / "md_deepseek/groundtruth" / f"{name}.md.md").read_text()
    text, _items, _metrics = extract_deepseek(src)
    assert text.strip() == gt.strip()
