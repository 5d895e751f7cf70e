"""Pin the JSON-Docling deserializer against the reference's parallel
groundtruth exports: for every ``<doc>.json`` the serialized markdown must
equal the sibling ``<doc>.md`` (same doc, two export formats — the
round-trip the reference's docling_json_backend supports).

Exclusion (same as the HTML engine):
- table_06: nested-table-in-cell get_text spacing artifacts
"""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.jsonx import extract_docling_json

HTML_GT = pathlib.Path("/root/reference/tests/data/html/groundtruth")
MD_GT = pathlib.Path("/root/reference/tests/data/md/groundtruth")
LATEX_GT = pathlib.Path("/root/reference/tests/data/latex/groundtruth")

_EXCLUDED = {"table_06.html"}


def _pairs():
    out = []
    for base in (HTML_GT, MD_GT, LATEX_GT):
        if not base.exists():
            continue
        for jf in sorted(base.glob("*.json")):
            stem = jf.name[:-5]
            if stem in _EXCLUDED:
                continue
            mf = base / (stem + ".md")
            if mf.exists():
                out.append((stem, jf, mf))
    return out

PAIRS = _pairs()

pytestmark = pytest.mark.requires_reference(HTML_GT)


@pytest.mark.parametrize("stem,jf,mf", PAIRS, ids=[p[0] for p in PAIRS])
def test_json_md_parallel_export(stem, jf, mf) -> None:
    text, items, metrics = extract_docling_json(jf.read_text())
    assert text.strip() == mf.read_text().strip()
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_rejects_non_docling_json() -> None:
    from docling_spark.engine.jsonx import DoclingJsonError

    with pytest.raises(DoclingJsonError):
        extract_docling_json('{"hello": 1}')
    with pytest.raises(DoclingJsonError):
        extract_docling_json("not json at all")
