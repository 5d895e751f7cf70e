"""Image engine: pure-Python header parsing vs hand-constructed files.

The oracle is the file-format specification itself: each helper below
builds a minimal, valid container byte-for-byte from the spec with known
dimensions/frame counts, and the parser must read them back. The
reference's own multi-page TIFF source (tests/data/tiff/sources/) pins
real-world behavior (docling/backend/image_backend.py:160-170 loads one
page per frame).
"""

from __future__ import annotations

import struct
import zlib
from pathlib import Path

import pytest

from docling_spark.engine import imagex

REF_TIFF = Path("/root/reference/tests/data/tiff/sources/2206.01062.tif")
REF_WEBP = Path("/root/reference/tests/data/webp/sources")


def make_png(w: int, h: int) -> bytes:
    ihdr = struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"
    chunk = b"IHDR" + ihdr
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", len(ihdr)) + chunk
            + struct.pack(">I", zlib.crc32(chunk)))


def make_jpeg(w: int, h: int) -> bytes:
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = (b"\xff\xc0" + struct.pack(">H", 11) + b"\x08"
            + struct.pack(">HH", h, w) + b"\x01\x11\x00")
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def make_gif(w: int, h: int, frames: int = 1) -> bytes:
    out = b"GIF89a" + struct.pack("<HH", w, h) + b"\x00\x00\x00"
    for _ in range(frames):
        out += (b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
                + b"\x02" + b"\x01\x00" + b"\x00")  # lzw min + 1 sub-block
    return out + b"\x3b"


def make_bmp(w: int, h: int) -> bytes:
    info = struct.pack("<Iii", 40, w, -h) + b"\x00" * 28
    return b"BM" + struct.pack("<I", 54) + b"\x00" * 8 + info


def make_webp_vp8x(w: int, h: int, frames: int = 0) -> bytes:
    vp8x = (b"\x00\x00\x00\x00" + (w - 1).to_bytes(3, "little")
            + (h - 1).to_bytes(3, "little"))
    body = b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x
    for _ in range(frames):
        body += b"ANMF" + struct.pack("<I", 0)
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WEBP" + body


def make_webp_lossless(w: int, h: int) -> bytes:
    bits = (w - 1) | ((h - 1) << 14)
    vp8l = b"\x2f" + struct.pack("<I", bits)
    return (b"RIFF" + struct.pack("<I", 12 + len(vp8l) + (len(vp8l) & 1))
            + b"WEBP" + b"VP8L" + struct.pack("<I", len(vp8l)) + vp8l
            + (b"\x00" if len(vp8l) & 1 else b""))


def make_tiff(sizes: list[tuple[int, int]], big_endian: bool = False) -> bytes:
    e = ">" if big_endian else "<"
    head = (b"MM\x00*" if big_endian else b"II*\x00")
    out = bytearray(head + struct.pack(e + "I", 8))
    offsets = []
    for w, h in sizes:
        offsets.append(len(out))
        ifd = struct.pack(e + "H", 2)
        ifd += struct.pack(e + "HHI", 256, 4, 1) + struct.pack(e + "I", w)
        ifd += struct.pack(e + "HHI", 257, 3, 1)
        ifd += struct.pack(e + "H", h) + b"\x00\x00"
        out += ifd + b"\x00\x00\x00\x00"  # next-IFD placeholder
    for i, off in enumerate(offsets):
        nxt = offsets[i + 1] if i + 1 < len(offsets) else 0
        count = struct.unpack(e + "H", bytes(out[off:off + 2]))[0]
        at = off + 2 + 12 * count
        out[at:at + 4] = struct.pack(e + "I", nxt)
    return bytes(out)


def make_ico(sizes: list[tuple[int, int]]) -> bytes:
    out = b"\x00\x00\x01\x00" + struct.pack("<H", len(sizes))
    for w, h in sizes:
        out += bytes([0 if w == 256 else w, 0 if h == 256 else h])
        out += b"\x00" * 14
    return out


@pytest.mark.parametrize(
    "data,fmt,pages",
    [
        (make_png(640, 480), "png", [(640, 480)]),
        (make_jpeg(123, 456), "jpeg", [(123, 456)]),
        (make_gif(80, 25), "gif", [(80, 25)]),
        (make_gif(80, 25, frames=3), "gif", [(80, 25)] * 3),
        (make_bmp(31, 17), "bmp", [(31, 17)]),
        (make_webp_vp8x(1920, 1080), "webp", [(1920, 1080)]),
        (make_webp_vp8x(64, 64, frames=4), "webp", [(64, 64)] * 4),
        (make_webp_lossless(300, 200), "webp", [(300, 200)]),
        (make_tiff([(100, 50)]), "tiff", [(100, 50)]),
        (make_tiff([(100, 50), (200, 75)]), "tiff", [(100, 50), (200, 75)]),
        (make_tiff([(99, 44)], big_endian=True), "tiff", [(99, 44)]),
        (make_ico([(16, 16), (256, 256)]), "ico", [(16, 16), (256, 256)]),
    ],
)
def test_spec_constructed_containers(data, fmt, pages):
    assert imagex.sniff_image(data) == fmt
    assert imagex.image_pages(data) == pages


def test_non_image_rejected():
    assert imagex.sniff_image(b"hello world") is None
    with pytest.raises(ValueError):
        imagex.image_pages(b"hello world")


def test_extract_image_items():
    extracted, items, metrics = imagex.extract_image(make_gif(10, 10, 2))
    assert extracted == "<!-- image -->\n\n<!-- image -->"
    assert [it["label"] for it in items] == ["unspecified", "picture", "picture"]
    assert metrics["pages_parsed"] == 2 and metrics["n_items"] == 2


@pytest.mark.requires_reference(REF_TIFF)
def test_reference_multipage_tiff():
    data = REF_TIFF.read_bytes()
    pages = imagex.image_pages(data)
    # 2206.01062 (DocLayNet paper) rendered to a multi-page TIFF
    assert len(pages) > 1
    assert all(w > 100 and h > 100 for w, h in pages)
    assert len({(w, h) for w, h in pages}) == 1  # uniform page size


@pytest.mark.requires_reference(REF_WEBP)
def test_reference_webp_sources():
    for p in sorted(REF_WEBP.glob("*.webp")):
        w, h = imagex.image_pages(p.read_bytes())[0]
        assert w > 0 and h > 0


def test_routing_via_extract_payload():
    import base64

    from docling_spark.engine.extract import extract_payload

    payload = base64.b64encode(make_png(320, 240)).decode()
    res = extract_payload(payload, tool="")
    assert res["format"] == "image"
    assert res["status"] == "success"
    assert res["extracted_text"] == "<!-- image -->"
    res2 = extract_payload(base64.b64encode(make_bmp(8, 8)).decode(),
                           tool="bmp")
    assert res2["format"] == "image" and res2["metrics"]["pages_parsed"] == 1


def test_multimodal_decode_uses_real_headers():
    from docling_spark.operators.multimodal import decode_image

    assert decode_image(make_png(777, 555)) == (777, 555)
    # unrecognized bytes keep the deterministic fallback
    w, h = decode_image(b"\x00\x01\x02synthetic")
    assert 64 <= w and 64 <= h
