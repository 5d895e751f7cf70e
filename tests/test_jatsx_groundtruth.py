"""Pin the JATS engine against the reference corpus — all 4 scientific
articles byte-exact (title/authors/abstract front matter, section
hierarchy, tex-math block and inline formulas, figures/tables with
captions, element/mixed citations, footnote groups, NBSP preservation)."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.jatsx import extract_jats

REF = pathlib.Path("/root/reference/tests/data/jats")

NAMES = ["ptag100.xml", "elife-56337.nxml", "pntd.0008301.nxml",
         "pone.0234687.nxml"]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", NAMES)
def test_reference_groundtruth_jats(name: str) -> None:
    src = (REF / "sources" / name).read_text()
    gt = (REF / "groundtruth" / f"{name}.md").read_text()
    text, items, metrics = extract_jats(src)
    assert text.strip() == gt.strip()
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_rejects_non_jats() -> None:
    from docling_spark.engine.jatsx import JatsError

    with pytest.raises(JatsError):
        extract_jats("<html><body>no</body></html>")
    with pytest.raises(JatsError):
        extract_jats("not xml")
