"""Pin the XLSX engine against the reference's xlsx groundtruth corpus —
all 11 files byte-exact: flood-fill table discovery, merged cells, date
styles, section-label split, charts (cached series → tabulate-style md),
embedded pictures, legacy + threaded comments, hidden sheets."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.xlsxx import extract_xlsx

REF = pathlib.Path("/root/reference/tests/data/xlsx")

NAMES = [
    "xlsx_01.xlsx", "xlsx_02_sample_sales_data.xlsm",
    "xlsx_03_chartsheet.xlsx", "xlsx_04_inflated.xlsx",
    "xlsx_05_table_with_title.xlsx", "xlsx_06_edge_cases_.xlsx",
    "xlsx_07_gap_tolerance_.xlsx", "xlsx_08_one_cell_anchor.xlsx",
    "xlsx_09_section_label_header.xlsx", "xlsx_comments.xlsx",
    "xlsx_emf.xlsx",
]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", NAMES)
def test_reference_groundtruth_xlsx(name: str) -> None:
    src = (REF / "sources" / name).read_bytes()
    gt = (REF / "groundtruth" / f"{name}.md").read_text()
    text, items, metrics = extract_xlsx(src)
    assert text.strip() == gt.strip()
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_rejects_non_zip() -> None:
    from docling_spark.engine.xlsxx import XlsxError

    with pytest.raises(XlsxError):
        extract_xlsx(b"nope")
