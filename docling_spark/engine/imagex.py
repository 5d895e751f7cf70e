"""Image payloads → pages + picture items, without PIL.

Re-expresses the reference's ``ImageDocumentBackend``
(docling/backend/image_backend.py:126-199): one page per image *frame*
(multi-frame TIFF/GIF/ICO handled, image_backend.py:160-170), page size =
pixel dimensions (image_backend.py:117-119 ``get_size``), no text cells
without OCR (image_backend.py:74-76), the whole page is one bitmap rect
(image_backend.py:78-90) — i.e. a full-page picture item.

The reference decodes via PIL; this container has no image libraries, so
the dimensions/frame-count come from a from-scratch pure-Python *header*
parse of the container formats PIL would accept (PNG, JPEG, GIF, BMP,
WEBP, TIFF, ICO). Pixel decoding is *not* needed for the backend's
observable output (sizes + empty segmented pages); nothing here is
stubbed.

Markdown export of a picture item is the reference serializer's
``<!-- image -->`` placeholder, matching every other engine in this repo.
"""

from __future__ import annotations

import struct

from docling_spark.engine.htmlx import new_items, result

__all__ = ["sniff_image", "image_pages", "extract_image"]

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def sniff_image(data: bytes) -> str | None:
    """Magic-byte container detection (the extension/MIME routing analog,
    docling/datamodel/base_models.py:176-257 image MIME rows)."""
    if data.startswith(_PNG_SIG):
        return "png"
    if data.startswith(b"\xff\xd8\xff"):
        return "jpeg"
    if data.startswith((b"GIF87a", b"GIF89a")):
        return "gif"
    if data.startswith(b"BM") and len(data) >= 26:
        return "bmp"
    if data[:4] == b"RIFF" and data[8:12] == b"WEBP":
        return "webp"
    if data[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if data[:4] == b"\x00\x00\x01\x00" and len(data) >= 6:
        return "ico"
    return None


def _png_pages(data: bytes) -> list[tuple[int, int]]:
    # IHDR is always the first chunk: length(4) 'IHDR' width(4BE) height(4BE)
    if len(data) < 24 or data[12:16] != b"IHDR":
        raise ValueError("truncated PNG header")
    w, h = struct.unpack(">II", data[16:24])
    return [(w, h)]


def _jpeg_pages(data: bytes) -> list[tuple[int, int]]:
    # Scan marker segments for a start-of-frame (C0-CF except C4/C8/CC):
    # SOFn payload = length(2) precision(1) height(2BE) width(2BE).
    i, n = 2, len(data)
    while i + 4 <= n:
        if data[i] != 0xFF:
            i += 1
            continue
        marker = data[i + 1]
        if marker == 0xFF:  # fill byte
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2  # standalone marker, no length
            continue
        if i + 4 > n:
            break
        seg_len = struct.unpack(">H", data[i + 2:i + 4])[0]
        if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
            if i + 9 > n:
                break
            h, w = struct.unpack(">HH", data[i + 5:i + 9])
            return [(w, h)]
        if marker == 0xDA:  # start of scan — SOF must have come before
            break
        i += 2 + seg_len
    raise ValueError("no JPEG SOF marker found")


def _gif_pages(data: bytes) -> list[tuple[int, int]]:
    # Logical screen descriptor gives the canvas (PIL's Image.size for
    # every frame); frames = number of image descriptors (PIL n_frames).
    if len(data) < 13:
        raise ValueError("truncated GIF header")
    w, h = struct.unpack("<HH", data[6:10])
    flags = data[10]
    i = 13
    if flags & 0x80:  # global color table
        i += 3 * (2 << (flags & 0x07))
    frames = 0
    n = len(data)

    def _skip_subblocks(j: int) -> int:
        while j < n:
            size = data[j]
            j += 1
            if size == 0:
                return j
            j += size
        return j

    while i < n:
        b = data[i]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label byte then sub-blocks
            i = _skip_subblocks(i + 2)
        elif b == 0x2C:  # image descriptor
            frames += 1
            if i + 10 > n:
                break
            lflags = data[i + 9]
            i += 10
            if lflags & 0x80:  # local color table
                i += 3 * (2 << (lflags & 0x07))
            i += 1  # LZW minimum code size
            i = _skip_subblocks(i)
        else:
            raise ValueError(f"unknown GIF block 0x{b:02x}")
    return [(w, h)] * max(frames, 1)


def _bmp_pages(data: bytes) -> list[tuple[int, int]]:
    # BITMAPINFOHEADER at offset 14: size(4) width(i32LE) height(i32LE);
    # negative height = top-down rows, magnitude is the pixel height.
    hdr_size = struct.unpack("<I", data[14:18])[0]
    if hdr_size >= 40:
        w, h = struct.unpack("<ii", data[18:26])
    else:  # BITMAPCOREHEADER: u16 fields
        w, h = struct.unpack("<HH", data[18:22])
    return [(abs(w), abs(h))]


def _webp_pages(data: bytes) -> list[tuple[int, int]]:
    # RIFF chunks after the 12-byte header; VP8X carries the canvas size
    # and (with the animation flag) ANMF chunks carry the frames.
    i, n = 12, len(data)
    size: tuple[int, int] | None = None
    frames = 0
    while i + 8 <= n:
        fourcc = data[i:i + 4]
        chunk_len = struct.unpack("<I", data[i + 4:i + 8])[0]
        body = data[i + 8:i + 8 + chunk_len]
        if fourcc == b"VP8X" and len(body) >= 10:
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
            size = (w, h)
        elif fourcc == b"VP8 " and size is None and len(body) >= 10:
            # key-frame: 3-byte tag, sync 9D 01 2A, then 14-bit w and h
            if body[3:6] == b"\x9d\x01\x2a":
                w = struct.unpack("<H", body[6:8])[0] & 0x3FFF
                h = struct.unpack("<H", body[8:10])[0] & 0x3FFF
                size = (w, h)
        elif fourcc == b"VP8L" and size is None and len(body) >= 5:
            if body[0] == 0x2F:
                bits = int.from_bytes(body[1:5], "little")
                size = (1 + (bits & 0x3FFF), 1 + ((bits >> 14) & 0x3FFF))
        elif fourcc == b"ANMF":
            frames += 1
        i += 8 + chunk_len + (chunk_len & 1)  # chunks are 2-byte aligned
    if size is None:
        raise ValueError("no WEBP size chunk found")
    return [size] * max(frames, 1)


def _tiff_pages(data: bytes) -> list[tuple[int, int]]:
    # One page per IFD in the chain (image_backend.py:160-166 multi-frame);
    # dimensions from tags 256/257 (SHORT or LONG, inline values).
    endian = "<" if data[:2] == b"II" else ">"
    offset = struct.unpack(endian + "I", data[4:8])[0]
    pages: list[tuple[int, int]] = []
    seen: set[int] = set()
    n = len(data)
    while offset and offset not in seen and offset + 2 <= n:
        seen.add(offset)
        count = struct.unpack(endian + "H", data[offset:offset + 2])[0]
        w = h = 0
        for k in range(count):
            e = offset + 2 + 12 * k
            if e + 12 > n:
                break
            tag, typ = struct.unpack(endian + "HH", data[e:e + 4])
            if tag in (256, 257):
                if typ == 3:  # SHORT: value in the first 2 payload bytes
                    val = struct.unpack(endian + "H", data[e + 8:e + 10])[0]
                else:  # LONG
                    val = struct.unpack(endian + "I", data[e + 8:e + 12])[0]
                if tag == 256:
                    w = val
                else:
                    h = val
        pages.append((w, h))
        next_at = offset + 2 + 12 * count
        if next_at + 4 > n:
            break
        offset = struct.unpack(endian + "I", data[next_at:next_at + 4])[0]
    if not pages:
        raise ValueError("no TIFF IFD found")
    return pages


def _ico_pages(data: bytes) -> list[tuple[int, int]]:
    count = struct.unpack("<H", data[4:6])[0]
    pages = []
    for k in range(count):
        e = 6 + 16 * k
        if e + 2 > len(data):
            break
        w, h = data[e], data[e + 1]
        pages.append((w or 256, h or 256))  # 0 encodes 256
    if not pages:
        raise ValueError("empty ICO directory")
    return pages


_PARSERS = {
    "png": _png_pages,
    "jpeg": _jpeg_pages,
    "gif": _gif_pages,
    "bmp": _bmp_pages,
    "webp": _webp_pages,
    "tiff": _tiff_pages,
    "ico": _ico_pages,
}


def image_pages(data: bytes) -> list[tuple[int, int]]:
    """(width, height) per page/frame — the ``get_size``/``page_count``
    surface of the reference backend (image_backend.py:117-119, 177-178)."""
    fmt = sniff_image(data)
    if fmt is None:
        raise ValueError("unrecognized image container")
    return _PARSERS[fmt](data)


def extract_image(data: bytes) -> tuple[str, list[dict], dict]:
    """Image bytes → (extracted_text, items, metrics).

    Mirrors the no-OCR conversion result: per frame one full-page picture
    item with no text (image_backend.py:74-90), serialized to markdown as
    the picture placeholder. Page pixel sizes ride in the metrics."""
    pages = image_pages(data)
    items = new_items()
    for _ in pages:
        items.append(
            dict(item_idx=len(items), parent_idx=0, label="picture", level=1,
                 text="", content_layer="body", span_start=-1, span_end=-1)
        )
    # dims/format surface is :func:`image_pages`; metrics stay on the fixed
    # sidecar schema (schema.py METRICS_SCHEMA)
    return result(items, "\n\n".join("<!-- image -->" for _ in pages),
                  pages_parsed=len(pages))
