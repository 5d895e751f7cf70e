"""Pin the USPTO engine against the reference corpus — all 5 files
byte-exact across the four patent format generations (ICE v4.x app +
grant, ST32 v2.5, application v1.x, APS text), including CALS tables,
Greek ISO-8879 entities, and Unicode sub/superscripts."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.usptox import extract_uspto

REF = pathlib.Path("/root/reference/tests/data/uspto")

NAMES = ["ipa20180000016.xml", "ipa20200022300.xml", "pa20010031492.xml",
         "pftaps057006474.txt", "pg06442728.xml"]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", NAMES)
def test_reference_groundtruth_uspto(name: str) -> None:
    stem = name.rsplit(".", 1)[0]
    src = (REF / "sources" / name).read_text()
    gt = (REF / "groundtruth" / f"{stem}.md").read_text()
    text, items, metrics = extract_uspto(src)
    assert text.strip() == gt.strip()
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_rejects_unknown_doctype() -> None:
    from docling_spark.engine.usptox import UsptoError

    with pytest.raises(UsptoError):
        extract_uspto("<html><body>nope</body></html>")


def test_latex_examples_groundtruth() -> None:
    import pathlib

    from docling_spark.engine.latexx import extract_latex

    base = pathlib.Path("/root/reference/tests/data/latex")
    if not base.exists():
        return
    for name in ("example_01.tex", "example_02.tex"):
        src = (base / "sources" / name).read_text()
        gt = (base / "groundtruth" / f"{name}.md").read_text()
        text, _items, _m = extract_latex(src)
        assert text.strip() == gt.strip(), name
