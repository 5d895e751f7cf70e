"""Regression pin for ``extract_payload`` (NOT reference parity).

The digest below was computed from this repo's own output before the
format table replaced the per-format dispatch chain. It pins two things:

- every result over a fixed range of synthetic conversations
  (``sources.transcripts.gen_conversation``), which covers every format
  the generator emits plus its malformed, empty and oversize payloads;
- every format hint with a handful of small probe payloads, which pins
  each payload-decode arm's failure message, plus the null-payload,
  size-limit and allowed-format policy rows.

A change to any engine's output moves the digest. When that change is
intended, recompute it with
``PYTHONPATH=. python tests/test_extract_pin.py`` and say why in the
commit.
"""

from __future__ import annotations

import hashlib
import json

PIN = "67c4a0664af5ca56e1d38df9ebcdbd7d4dcc58b16c9488fc99f0e0c1b3df2879"

# every hint spelling routed by name before the format table existed
HINTS = (
    "", "html", "md", "csv", "pdfish", "pdf", "code", "vtt", "email",
    "asciidoc", "adoc", "epub", "docling_json", "docx", "deepseek", "xlsx",
    "pptx", "ebcdic", "boxnote", "jats", "odt", "ods", "odp", "uspto",
    "latex", "doclang", "dclx", "mets_gbs", "mets", "chandra", "dots",
    "xbrl", "glm", "glm_json", "doctags", "yaml", "docling_yaml",
    "doc", "dot", "xls", "xlt", "ppt", "pot",
    "image", "png", "jpg", "jpeg", "gif", "bmp", "webp", "tiff", "tif", "ico",
    "audio", "video", "wav", "mp3", "flac", "ogg", "m4a", "mp4", "mov",
    "avi", "aac", "asr",
)

PROBES = (
    "x",
    "eA==",
    "<x/>",
    "%PDF-1.4\n",
    "\xd0\xcf\x11\xe0garbage",
    "UEsDBBQAAAAIAA==",
)

# content-sniffed binary shapes (hint-free)
SNIFFS = (
    "UklGRiQAAABXQVZFZm10IBAAAAABAAEAQB8AAIA+AAACABAAZGF0YQAAAAA=",
    "0M8R4KGxGARBAGE###not-base64",
    "iVBORw0KGgoAAAANSUhEUg==",
    "JVBERi0xLjQK",
)


def pin_digest() -> str:
    from docling_spark.engine.extract import extract_payload
    from docling_spark.sources.transcripts import gen_conversation

    h = hashlib.sha256()

    def add(res: dict) -> None:
        h.update(json.dumps(res, sort_keys=True, ensure_ascii=False)
                 .encode("utf-8"))
        h.update(b"\n")

    for conv in range(64):
        for turn in gen_conversation(conv):
            add(extract_payload(turn["text"], turn["tool"]))
    for hint in HINTS:
        for probe in PROBES:
            add(extract_payload(probe, hint))
    for probe in SNIFFS:
        add(extract_payload(probe))
    add(extract_payload(None))
    add(extract_payload("<h1>T</h1>", "html", max_bytes=4))
    add(extract_payload("<h1>T</h1>", "html", allowed_formats=("pdf",)))
    add(extract_payload("= T\n\n== S\n\nx", "adoc",
                        allowed_formats=("adoc",)))
    return h.hexdigest()


def test_extract_payload_regression_pin():
    assert pin_digest() == PIN


if __name__ == "__main__":
    print(pin_digest())
