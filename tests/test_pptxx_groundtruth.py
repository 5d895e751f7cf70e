"""Pin the PPTX engine against the reference's pptx groundtruth corpus —
all 8 files byte-exact: visual shape ordering with layout/master position
inheritance, layered list-marker resolution, merged table grids, charts,
malformed-picture skipping (content-type + magic check), modern comments."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.pptxx import extract_pptx

REF = pathlib.Path("/root/reference/tests/data/pptx")

NAMES = [
    "powerpoint_bad_text", "powerpoint_comments", "powerpoint_issue_2663",
    "powerpoint_malformed_pictures", "powerpoint_sample",
    "powerpoint_unrecognized_shape", "powerpoint_with_image", "pptx_chart",
]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", NAMES)
def test_reference_groundtruth_pptx(name: str) -> None:
    src = (REF / "sources" / f"{name}.pptx").read_bytes()
    gt = (REF / "groundtruth" / f"{name}.pptx.md").read_text()
    text, items, metrics = extract_pptx(src)
    assert text.strip() == gt.strip()
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_rejects_non_zip() -> None:
    from docling_spark.engine.pptxx import PptxError

    with pytest.raises(PptxError):
        extract_pptx(b"nope")
