"""Pin the LaTeX engine against the reference's FULL groundtruth corpus:
every source under tests/data/latex/sources (two example fixtures and
six real multi-file arXiv papers) must serialize byte-exact to both the
``.md`` and ``.itxt`` groundtruth exports.

The three unpinned legacy sources (0005057, 0106220, 9802040 — LaTeX
2.09-era, no groundtruth shipped) are totality-checked only: extraction
must return without raising.
"""

from __future__ import annotations

import io
import pathlib
import zipfile

import pytest

from docling_spark.engine.latexx import (
    LatexError,
    extract_latex,
    extract_latex_archive,
)
from docling_spark.engine.serialize import serialize_itxt

BASE = pathlib.Path("/root/reference/tests/data/latex")

PINNED = [
    "example_01.tex", "example_02.tex",
    "1706.03762", "2305.03393", "2310.06825", "2412.19437",
    "2501.00089", "arXiv-2501.01300v2",
]
UNPINNED = ["0005057", "0106220", "9802040"]

pytestmark = pytest.mark.requires_reference(BASE)


def _zip_tree(d: pathlib.Path) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for f in sorted(d.rglob("*")):
            if f.is_file():
                z.writestr(str(f.relative_to(d)), f.read_bytes())
    return buf.getvalue()


def _extract(name: str):
    p = BASE / "sources" / name
    if p.is_file():
        return extract_latex(p.read_text(errors="replace"))
    return extract_latex_archive(_zip_tree(p))


@pytest.mark.parametrize("name", PINNED)
def test_latex_md_groundtruth(name: str) -> None:
    gt_name = name if name.endswith(".tex") else name + "_main.tex"
    text, _items, _m = _extract(name)
    gt = (BASE / "groundtruth" / (gt_name + ".md")).read_text()
    assert text.strip() == gt.strip(), name


@pytest.mark.parametrize("name", PINNED)
def test_latex_itxt_groundtruth(name: str) -> None:
    gt_name = name if name.endswith(".tex") else name + "_main.tex"
    _text, items, _m = _extract(name)
    gt = (BASE / "groundtruth" / (gt_name + ".itxt")).read_text()
    assert serialize_itxt(items).strip() == gt.strip(), name


@pytest.mark.parametrize("name", UNPINNED)
def test_latex_legacy_sources_total(name: str) -> None:
    text, items, metrics = _extract(name)
    assert isinstance(text, str)
    assert items and items[0]["label"] == "unspecified"


def test_rejects_non_latex() -> None:
    with pytest.raises(LatexError):
        extract_latex("just some text, no document env")
    with pytest.raises(LatexError):
        extract_latex_archive(b"not a zip")


def test_archive_input_resolution() -> None:
    """\\input{...} resolves from archive members with a circular guard."""
    main = (
        "\\documentclass{article}\\begin{document}"
        "Intro.\n\n\\input{part1}\n\\end{document}"
    )
    part1 = "Part one body.\n\n\\input{part1}\n"
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("main.tex", main)
        z.writestr("part1.tex", part1)
    text, items, _ = extract_latex_archive(buf.getvalue())
    assert "Intro." in text
    assert text.count("Part one body.") == 1  # circular include guarded


def test_items_well_formed() -> None:
    _text, items, _ = _extract("2310.06825")
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]
        assert it["level"] == items[it["parent_idx"]]["level"] + 1


@pytest.mark.parametrize("name", PINNED)
def test_latex_json_roundtrip_lossless(name: str) -> None:
    """items → DoclingDocument JSON sink → deserialize → identical md
    (captions ref-wired, empty tabular trailing rows preserved)."""
    from docling_spark.engine.htmlx import serialize_items
    from docling_spark.engine.jsonx import extract_docling_json
    from docling_spark.engine.serialize import serialize_docling_json

    _text, items, _m = _extract(name)
    md1 = serialize_items(items, layer="body")
    md2, _items2, _m2 = extract_docling_json(serialize_docling_json(items))
    assert md1.strip() == md2.strip(), name
