"""Pin the OpenDocument engine against the reference corpus — all 6 files
(3 odt, 1 ods, 2 odp) byte-exact: style-resolved formatting, list
numbering with continuation, Writer-vs-Impress rich-cell semantics,
charts from embedded objects, ODS flood-fill regions, slide titles."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.odfx import extract_odf

REF = pathlib.Path("/root/reference/tests/data/odf")

NAMES = [
    "text_document_01.odt", "text_document_02.odt", "text_document_03.odt",
    "odf_table_with_title_01.ods",
    "odf_presentation_01.odp", "odf_presentation_02.odp",
]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", NAMES)
def test_reference_groundtruth_odf(name: str) -> None:
    kind = name.rsplit(".", 1)[1]
    src = (REF / "sources" / name).read_bytes()
    gt = (REF / "groundtruth" / f"{name}.md").read_text()
    text, items, metrics = extract_odf(src, kind)
    assert text.strip() == gt.strip()
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_rejects_non_zip() -> None:
    from docling_spark.engine.odfx import OdfError

    with pytest.raises(OdfError):
        extract_odf(b"nope", "odt")
    with pytest.raises(OdfError):
        extract_odf(b"PK", "docx-ish")
