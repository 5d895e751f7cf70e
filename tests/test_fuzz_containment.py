"""Cross-engine failure-containment fuzz: mutations of the reference's own
corpus files (byte flips, truncations, garbage splices) routed through
``extract_payload`` must always come back as a result ROW — never an
exception. At 100 TB an uncontained parser raise is a task failure that
kills the whole stage retry budget; the engine contract
(engine/extract.py, mirroring base_pipeline.py:84-94 raises_on_error=False)
is that any payload yields exactly one row with a structured status.

Deterministic (seeded) so failures reproduce; per-format trial counts are
kept small because each trial is a full parse of a real document.
"""

from __future__ import annotations

import base64
import pathlib
import random

import pytest

from docling_spark.engine.extract import extract_payload

REF = pathlib.Path("/root/reference/tests/data")

# (hint, corpus file, payload travels base64)
_CASES = [
    ("docx", "docx/sources/word_sample.docx", True),
    ("xlsx", "xlsx/sources/xlsx_01.xlsx", True),
    ("pptx", "pptx/sources/powerpoint_sample.pptx", True),
    ("odp", "odf/sources/odf_presentation_01.odp", True),
    ("ods", "odf/sources/odf_table_with_title_01.ods", True),
    ("epub", "epub/sources/epub_purvis_poetry.epub", True),
    ("doc", "doc/sources", True),
    ("xls", "xls/sources", True),
    ("ppt", "ppt/sources", True),
    ("pdf", "pdf/sources", True),
    ("mets_gbs", "mets_gbs/sources", True),
    ("jats", "jats/sources", False),
    ("uspto", "uspto/sources", False),
    ("xbrl", "xbrl/sources", False),
    ("latex", "latex/sources", False),
    ("email", "email/sources", False),
    ("ebcdic", "ebcdic/sources", False),
    ("vtt", "webvtt/sources", False),
    ("boxnote", "boxnote/sources", False),
]

_STATUSES = {"success", "partial_success", "failure", "skipped"}

pytestmark = pytest.mark.requires_reference(REF)


def _first_file(p: pathlib.Path) -> pathlib.Path:
    if p.is_file():
        return p
    return next(f for f in sorted(p.iterdir()) if f.is_file())


@pytest.mark.parametrize("hint,rel,b64", _CASES,
                         ids=[c[0] for c in _CASES])
def test_mutated_corpus_payloads_are_contained(hint, rel, b64):
    raw = _first_file(REF / rel).read_bytes()
    rng = random.Random(hash(hint) & 0xFFFF)
    for trial in range(9):
        b = bytearray(raw)
        mode = trial % 3
        if mode == 0:  # random byte flips
            for _ in range(rng.randrange(1, 20)):
                b[rng.randrange(len(b))] = rng.randrange(256)
        elif mode == 1:  # truncation
            b = b[: rng.randrange(len(b))]
        else:  # garbage splice
            pos = rng.randrange(len(b))
            b[pos:pos + 50] = bytes(rng.randrange(256) for _ in range(50))
        if b64:
            payload = base64.b64encode(bytes(b)).decode()
        else:
            payload = bytes(b).decode("utf-8", "replace")
        res = extract_payload(payload, hint)
        assert res["status"] in _STATUSES, (hint, trial, res["status"])
        assert isinstance(res["extracted_text"], str)
        if res["status"] in ("failure", "skipped"):
            assert res["errors"], (hint, trial)
