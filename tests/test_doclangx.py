"""DocLang engine: grammar pinned to the reference's own test fixture
(tests/test_backend_doclang.py DOCLANG_XML + assertions), plus
round-trip through the export sink."""

from __future__ import annotations

import io
import pathlib
import zipfile

import pytest

from docling_spark.engine.doclangx import (
    DocLangError,
    extract_doclang,
    serialize_doclang,
)
from docling_spark.engine.htmlx import extract_html
from docling_spark.engine.mdx import extract_markdown

# the reference's fixture, verbatim (tests/test_backend_doclang.py:11-19)
DOCLANG_XML = """<doclang>
  <heading>DocLang Title</heading>
  <text>Hello world</text>
  <table>
    <fcel/><text>H1</text><fcel/><text>H2</text><nl/>
    <fcel/><text>C1</text><fcel/><text>C2</text><nl/>
  </table>
</doclang>
"""


def test_reference_fixture_semantics() -> None:
    text, items, metrics = extract_doclang(DOCLANG_XML)
    # texts[0].label == TITLE; markdown starts '# DocLang Title'
    body = [it for it in items if it["label"] != "unspecified"]
    assert body[0]["label"] == "title"
    assert body[0]["text"] == "DocLang Title"
    assert body[1]["text"] == "Hello world"
    assert text.startswith("# DocLang Title")
    tables = [it for it in items if it["label"] == "table"]
    assert len(tables) == 1
    assert tables[0]["num_rows"] == 2 and tables[0]["num_cols"] == 2
    assert "| H1 | H2 |" in tables[0]["text"]
    assert "| C1 | C2 |" in tables[0]["text"]


def test_dclx_archive() -> None:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("document.dclg", DOCLANG_XML)
    text, items, _ = extract_doclang(buf.getvalue())
    assert text.startswith("# DocLang Title")


def test_rejects_garbage() -> None:
    with pytest.raises(DocLangError):
        extract_doclang("<notdoclang/>")
    with pytest.raises(DocLangError):
        extract_doclang("not xml at all <")


def test_roundtrip_fixture() -> None:
    text1, items1, _ = extract_doclang(DOCLANG_XML)
    xml2 = serialize_doclang(items1)
    text2, items2, _ = extract_doclang(xml2)
    assert text2 == text1


REF_HTML = pathlib.Path("/root/reference/tests/data/html/sources")
REF_MD = pathlib.Path("/root/reference/tests/data/md/sources")


@pytest.mark.requires_reference(REF_HTML)
def test_roundtrip_html_corpus_items() -> None:
    """serialize_doclang → extract_doclang reproduces every HTML-corpus
    document's markdown byte-exactly."""
    failed = []
    for src in sorted(REF_HTML.glob("*.html")):
        text1, items1 = extract_html(src.read_text(errors="replace"))
        xml2 = serialize_doclang(items1)
        text2, _items, _m = extract_doclang(xml2)
        if text2 != text1:
            failed.append(src.stem)
    assert not failed, failed
