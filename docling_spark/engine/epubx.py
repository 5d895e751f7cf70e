"""EPUB payload → item table, by delegation to the HTML engine.

Re-expression of the reference EPUB backend (docling/backend/
epub_backend.py:84-145 spine discovery, :336-430 convert): an EPUB is a
zip whose META-INF/container.xml names an OPF package file; the OPF
manifest maps ids to hrefs and the spine gives the reading order. Each
content document's <body> is concatenated into one combined HTML document
(internal file.xhtml#anchor links rewritten to #anchor) and the whole
thing is parsed by the HTML engine — the reference delegates to
HTMLDocumentBackend the same way (epub_backend.py:425-447).

Image fetching/temp-dir extraction is out of scope here (no image decode
in this pipeline); <img> tags still yield picture placeholders via the
HTML engine.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from docling_spark.engine.htmlx import HtmlExtractor, Item, result


class EpubError(ValueError):
    pass


_OPF_NS = {"opf": "http://www.idpf.org/2007/opf"}
_CONTAINER_NS = {"c": "urn:oasis:names:tc:opendocument:xmlns:container"}
_BODY_RE = re.compile(r"<body[^>]*>(.*?)</body>", re.DOTALL | re.IGNORECASE)
# file.xhtml#anchor → #anchor (epub_backend.py _fix_internal_links)
_INTERNAL_LINK_RE = re.compile(
    r'(href=["\'])(?!#|[a-z][a-z0-9+.-]*:)[^"\'#]*#', re.IGNORECASE
)

MAX_CONTENT_FILES = 1000  # zip-bomb guard (mirrors the reference's limits)


def _content_files(zf: zipfile.ZipFile) -> list[str]:
    container = ET.fromstring(zf.read("META-INF/container.xml"))
    rootfile = container.find(".//c:rootfile", _CONTAINER_NS)
    if rootfile is None:  # some producers omit the namespace
        rootfile = container.find(".//rootfile")
    if rootfile is None:
        raise EpubError("container.xml has no rootfile")
    opf_path = rootfile.get("full-path")
    if not opf_path:
        raise EpubError("rootfile has no full-path")
    opf_root = ET.fromstring(zf.read(opf_path))
    opf_dir = opf_path.rsplit("/", 1)[0] if "/" in opf_path else ""

    manifest = opf_root.find(".//opf:manifest", _OPF_NS)
    spine = opf_root.find(".//opf:spine", _OPF_NS)
    if manifest is None or spine is None:
        raise EpubError("content.opf missing spine or manifest")
    href_by_id = {
        item.get("id"): item.get("href")
        for item in manifest.findall("opf:item", _OPF_NS)
    }
    files: list[str] = []
    for itemref in spine.findall("opf:itemref", _OPF_NS):
        href = href_by_id.get(itemref.get("idref"))
        if href:
            files.append(f"{opf_dir}/{href}" if opf_dir else href)
    return files[:MAX_CONTENT_FILES]


def extract_epub(payload: bytes) -> tuple[str, list[Item], dict]:
    """payload (epub zip bytes) → (extracted_text, items, metrics)."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(payload))
    except zipfile.BadZipFile as exc:
        raise EpubError(f"not a zip archive: {exc}") from exc
    with zf:
        files = _content_files(zf)
        parts = ['<!DOCTYPE html><html><head><meta charset="utf-8"/></head><body>']
        n_read = 0
        for name in files:
            try:
                xhtml = zf.read(name).decode("utf-8", errors="replace")
            except KeyError:
                continue
            m = _BODY_RE.search(xhtml)
            body = m.group(1) if m else xhtml
            parts.append(_INTERNAL_LINK_RE.sub(r"\1#", body))
            n_read += 1
        parts.append("</body></html>")
    if n_read == 0:
        raise EpubError("no readable content documents in spine")
    html = "\n".join(parts)
    return result(HtmlExtractor().extract(html), pages_parsed=n_read)
