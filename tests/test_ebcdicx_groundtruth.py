"""Pin the EBCDIC engine against the reference corpus — all 3 files
byte-exact (character fields, packed/zoned decimals, record prefixes)."""

from __future__ import annotations

import base64
import json
import pathlib

import pytest

from docling_spark.engine.ebcdicx import extract_ebcdic

SRC = pathlib.Path("/root/reference/tests/data/ebcdic/sources")
GT = pathlib.Path("/root/reference/tests/data/ebcdic/groundtruth")

NAMES = ["311_calls_for_service", "gas_disposition", "ola013k"]

pytestmark = pytest.mark.requires_reference(SRC)


@pytest.mark.parametrize("name", NAMES)
def test_reference_groundtruth_ebcdic(name: str) -> None:
    layout = json.loads((SRC / f"{name}.layout.json").read_text())
    payload = json.dumps({
        "layout": layout,
        "data_b64": base64.b64encode(
            (SRC / f"{name}.ebc").read_bytes()).decode(),
    })
    text, items, metrics = extract_ebcdic(payload)
    gt = (GT / f"{name}.ebc.md").read_text()
    assert text.strip() == gt.strip()


def test_packed_and_zoned_decimals() -> None:
    import base64 as b64

    layout = {
        "description": "decimals",
        "records": [{
            "name": "r",
            "fields": [
                {"name": "packed", "size": 2, "type": "packed_decimal",
                 "scale": 1},
                {"name": "zoned", "size": 3, "type": "zoned_decimal"},
            ],
        }],
    }
    # packed 0x123d = digits 123, negative sign → -12.3
    # zoned F1 F2 D3 = 123 with negative zone → -123
    data = bytes([0x12, 0x3D, 0xF1, 0xF2, 0xD3])
    payload = json.dumps({"layout": layout,
                          "data_b64": b64.b64encode(data).decode()})
    text, _i, _m = extract_ebcdic(payload)
    assert "| -12.3 | -123 |" in text


def test_boxnote_groundtruth() -> None:
    import pathlib

    from docling_spark.engine.boxnotex import extract_boxnote

    src = pathlib.Path(
        "/root/reference/tests/data/boxnote/sources/sample.boxnote")
    gt = pathlib.Path(
        "/root/reference/tests/data/boxnote/groundtruth/sample.boxnote.md")
    if not src.exists():
        return
    text, items, _m = extract_boxnote(src.read_text())
    assert text.strip() == gt.read_text().strip()
