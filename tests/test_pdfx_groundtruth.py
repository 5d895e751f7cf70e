"""Pin the from-scratch PDF engine against the reference's PDF corpus.

The reference's PDF groundtruth is produced by its ML layout pipeline
(docling-parse native text + layout/tableformer models), so byte-exact
markdown equality is out of scope for a rule-based engine by design.
What IS pinned, per source document:

  * page count == the reference's pages.meta.json length;
  * word-set recall/precision against the reference .md groundtruth
    above a per-file floor (word set = the content itself; the floors
    are the measured values at commit time minus a small margin, so any
    parser regression trips them);
  * RTL documents come out in logical order (the bidi pass), checked the
    same way against the reference's logical-order groundtruth.
"""

from __future__ import annotations

import json
import pathlib
import re
import unicodedata

import pytest

from docling_spark.engine.pdfx import PdfDocument, extract_pdf

SRC = pathlib.Path("/root/reference/tests/data/pdf/sources")
GT = pathlib.Path("/root/reference/tests/data/pdf/groundtruth")

# name → (min recall, min precision); measured r3 (after the
# overlapping-duplicate glyph sanitation closed the RTL kashida gap):
# recall 0.95-1.00 on LTR docs, 0.92-0.96 on RTL
FLOORS = {
    "2305.03393v1-pg9": (0.95, 0.90),
    "amt_handbook_sample": (0.95, 0.93),
    "code_and_formula": (0.95, 0.95),
    "multi_page": (0.97, 0.97),
    "normal_4pages": (0.96, 0.93),
    "picture_classification": (0.97, 0.97),
    "redp5110_sampled": (0.98, 0.93),  # r4: /gNNN glyph-name fallback
    # r5 RTL pass (script-seam spaces + 0.20-em RTL word gaps + the
    # display-typography formula rule): measured 0.987/0.952/1.000
    "right_to_left_01": (0.97, 0.96),
    "right_to_left_02": (0.93, 0.94),
    "right_to_left_03": (0.98, 0.98),
    "table_mislabeled_as_picture": (0.95, 0.92),
}

pytestmark = pytest.mark.requires_reference(SRC)


def _words(s: str) -> set[str]:
    s = unicodedata.normalize("NFKC", s.lower())
    return set(re.findall(r"[^\W\d_]{3,}|\w\w+", s))


@pytest.mark.parametrize("name", sorted(FLOORS))
def test_word_recall_vs_reference_groundtruth(name: str) -> None:
    min_rec, min_prec = FLOORS[name]
    text, items, metrics = extract_pdf((SRC / f"{name}.pdf").read_bytes())
    gw = _words((GT / f"{name}.md").read_text())
    ow = _words(text)
    hit = len(gw & ow)
    assert hit / max(len(gw), 1) >= min_rec, (
        f"recall {hit/max(len(gw),1):.3f} < {min_rec}; "
        f"missing e.g. {sorted(gw - ow)[:8]}"
    )
    assert hit / max(len(ow), 1) >= min_prec, (
        f"precision {hit/max(len(ow),1):.3f} < {min_prec}"
    )


@pytest.mark.parametrize("name", sorted(FLOORS))
def test_page_count_matches_reference_meta(name: str) -> None:
    meta = GT / f"{name}.pages.meta.json"
    if not meta.exists():
        pytest.skip("no pages meta")
    want = len(json.load(open(meta)))
    doc = PdfDocument((SRC / f"{name}.pdf").read_bytes())
    assert len(doc.pages()) == want


def test_rtl_logical_order() -> None:
    """The logical-order transform: the first heading word of the Arabic
    doc must appear exactly as the reference's logical groundtruth spells
    it (visual order would reverse the characters)."""
    text, _, _ = extract_pdf((SRC / "right_to_left_01.pdf").read_bytes())
    assert "تحسين" in text  # 'improvement', logical order
    assert "الإنتاجية" in text or "الانتاجية" in text


def test_malformed_pdfs_contained() -> None:
    from docling_spark.engine.pdfx import PdfError

    for bad in [b"", b"%PDF-1.4", b"%PDF-1.4\ngarbage",
                b"%PDF-1.4\n1 0 obj << /Type /Catalog >> endobj"]:
        try:
            text, items, metrics = extract_pdf(bad)
            assert isinstance(text, str)
        except PdfError:
            pass  # contained, typed error — extract.py maps it to a row


def test_not_a_pdf_raises_typed() -> None:
    from docling_spark.engine.pdfx import PdfError

    with pytest.raises(PdfError):
        extract_pdf(b"hello world " * 200)


# -- encrypted PDFs (standard security handler, engine/pdfcrypto.py) --------

PW_SRC = pathlib.Path("/root/reference/tests/data/pdf_password/sources")


def test_encrypted_pdf_requires_password() -> None:
    from docling_spark.engine.pdfx import PdfError

    data = (PW_SRC / "2206.01062_pg3.pdf").read_bytes()
    with pytest.raises(PdfError, match="password"):
        extract_pdf(data)
    with pytest.raises(PdfError, match="password"):
        extract_pdf(data, password="wrong")


def test_encrypted_pdf_decrypts_with_user_password() -> None:
    """AES-128 /V4 file from the reference's locked corpus (README:
    opening password 1234). The payload is page 3 of 2206.01062, whose
    full-document groundtruth exists — so the decrypted page's words
    must overwhelmingly appear in that groundtruth."""
    data = (PW_SRC / "2206.01062_pg3.pdf").read_bytes()
    text, items, metrics = extract_pdf(data, password="1234")
    assert "DocLayNet" in text
    ow = _words(text)
    gw = _words((GT / "2206.01062.md").read_text())
    assert len(ow) > 200
    assert len(ow & gw) / len(ow) >= 0.85


def test_rc4_and_aes_kats() -> None:
    """Known-answer tests: RC4 (RFC 6229 vectors) and AES-128 (FIPS-197
    appendix) pin the from-scratch primitives."""
    from docling_spark.engine.pdfcrypto import (
        _aes_decrypt_block, _expand_key, rc4,
    )

    # RFC 6229, 40-bit key 0x0102030405, first 16 keystream bytes
    ks = rc4(bytes([1, 2, 3, 4, 5]), b"\x00" * 16)
    assert ks.hex() == "b2396305f03dc027ccc3524a0a1118a8"
    # FIPS-197 C.1: AES-128 cipher of 00112233..ff under key 000102..0f
    key = bytes(range(16))
    ct = bytes.fromhex("69c4e0d86a7b0430d8cdb78070b4c55a")
    pt = _aes_decrypt_block(_expand_key(key), ct)
    assert pt == bytes.fromhex("00112233445566778899aabbccddeeff")


# -- reading order (sequence-sensitive, not just bag-of-words) --------------

ORDER_FLOORS = {
    # r4 raised every floor to the then-measured value minus ≤0.01: the
    # unconditional bottom-zone footer rule (publication metadata /
    # page numbers the reference's model excludes) lifted all docs, and
    # the column-edge STRADDLE split (pdfx._runs_to_lines) fixed the
    # normal_4pages gutter-crossing mis-merge that faked a band break
    "2305.03393v1-pg9": 0.96,  # ruled table reconstructed from grid lines
    "amt_handbook_sample": 0.97,   # two-column, 8 pt gutter (r4 pictures: 0.98)
    "code_and_formula": 0.99,
    "multi_page": 0.99,
    "normal_4pages": 0.94,         # two-column Korean (r3: 0.82; r4 pictures+absorb: 0.95)
    "picture_classification": 0.99,
    "redp5110_sampled": 0.93,  # r4: glyph-name fallback + pictures (was 0.89)
    "table_mislabeled_as_picture": 0.98,
    # r5 RTL pass: RTL↔LTR script-seam space restoration, 0.20-em RTL
    # inter-word run gaps (measured genuine gaps at 0.248 em, under the
    # 0.25 LTR cut), and the tatweel display-typography rule that emits
    # the reference's formula placeholder for the rtl_02 diagram region.
    # Measured 0.992 / 0.958 / 0.954.
    "right_to_left_01": 0.98,
    "right_to_left_02": 0.94,
    "right_to_left_03": 0.94,
}


@pytest.mark.parametrize("name", sorted(ORDER_FLOORS))
def test_reading_order_sequence_similarity(name: str) -> None:
    """Word recall can't see ordering; this pins the SEQUENCE of words
    against the reference groundtruth (difflib ratio over word lists).
    Catches two-column interleaving, band mis-ordering, RTL reversal."""
    import difflib

    text, _, _ = extract_pdf((SRC / f"{name}.pdf").read_bytes())
    ow = re.findall(r"\w{3,}", text.lower())
    gw = re.findall(r"\w{3,}", (GT / f"{name}.md").read_text().lower())
    ratio = difflib.SequenceMatcher(None, ow, gw, autojunk=False).ratio()
    assert ratio >= ORDER_FLOORS[name], f"order similarity {ratio:.3f}"


def test_ruled_table_reconstruction() -> None:
    """The OTSL paper page's booktabs table (grid from vector rules, no
    outer vertical borders, \\cmidrule partial rules ignored) assembles
    into ONE 8-column markdown table whose header matches the reference
    groundtruth's column set."""
    text, items, _ = extract_pdf(
        (SRC / "2305.03393v1-pg9.pdf").read_bytes())
    tables = [it for it in items if it["label"] == "table"]
    assert len(tables) == 1
    header = tables[0]["text"].splitlines()[0]
    for col in ["# enc-layers", "# dec-layers", "Language",
                "mAP (0.75)", "Inference time (secs)"]:
        assert col in header
    assert "| 6 | 6 | OTSL HTML | 0.965 0.969 |" in tables[0]["text"]


def test_extract_routing_media_and_passwords(spark) -> None:
    """Spark-level routing: a base64 WAV turn becomes a contained media
    dependency-error row carrying the REAL stream probe; an encrypted
    PDF turn extracts when the job's pdf_passwords include the user
    password, and fails contained when not."""
    import base64

    from docling_spark.operators.extract_ops import extract_turns

    wav = pathlib.Path(
        "/root/reference/tests/data/audio/sources/sample_10s_audio-wav.wav"
    ).read_bytes()
    pdf = (PW_SRC / "2206.01062_pg3.pdf").read_bytes()
    rows = [
        ("c0", 0, "user", None, base64.b64encode(wav).decode(), "wav"),
        ("c0", 1, "user", None, base64.b64encode(pdf).decode(), "pdf"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp, "
              "text string, tool string")
    got = {r.turn_idx: r for r in
           extract_turns(df, pdf_passwords=("1234",)).collect()}
    assert got[0].status == "failure" and got[0].format == "media"
    assert "container=wav" in got[0].errors[0]["message"]
    assert "duration_s=9.99" in got[0].errors[0]["message"]
    assert got[1].status == "success"
    assert "DocLayNet" in got[1].extracted_text
    nopw = {r.turn_idx: r for r in extract_turns(df).collect()}
    assert nopw[1].status == "failure"
    # password retries exhaust by POSITION, not value: a trailing ""
    # (equal to the engine's built-in first try) must not abort the
    # loop before "1234" is tried
    dup = {r.turn_idx: r for r in
           extract_turns(df, pdf_passwords=("1234", "")).collect()}
    assert dup[1].status == "success"


def test_corrupted_pdfs_always_contained() -> None:
    """Deterministic fuzz: seeded byte corruptions of a real PDF (flips,
    truncations, splices) must either extract or raise the typed
    PdfError — never an unhandled exception. extract_payload maps both
    outcomes to rows, so task failure is impossible."""
    import hashlib

    from docling_spark.engine.extract import extract_payload
    from docling_spark.engine.pdfx import PdfError, extract_pdf

    base = (SRC / "multi_page.pdf").read_bytes()
    for trial in range(24):
        h = hashlib.sha256(f"fuzz{trial}".encode()).digest() * 4  # 128 B
        data = bytearray(base)
        mode = trial % 4
        if mode == 0:  # flip 64 bytes
            for k in range(0, 64, 2):
                data[int.from_bytes(h[k:k + 2], "big") % len(data)] ^= h[k]
        elif mode == 1:  # truncate
            data = data[:1024 + int.from_bytes(h[:3], "big") % (len(data) - 1024)]
        elif mode == 2:  # splice garbage mid-file
            pos = int.from_bytes(h[:3], "big") % len(data)
            data = data[:pos] + h * 32 + data[pos:]
        else:  # zero a window
            pos = int.from_bytes(h[:3], "big") % (len(data) - 512)
            data[pos:pos + 512] = b"\x00" * 512
        try:
            text, items, metrics = extract_pdf(bytes(data))
            assert isinstance(text, str)
        except PdfError:
            pass
        # and the pipeline containment: always a row, never a raise
        import base64

        res = extract_payload(base64.b64encode(bytes(data)).decode(), "pdf")
        assert res["status"] in ("success", "failure", "skipped")


def test_borderless_rail_table_reconstruction() -> None:
    """table_mislabeled_as_picture: the questionnaire grid has NO ruling
    lines (the page's only painted rules are crop-frame artifacts); the
    whitespace-rail detector must reconstruct the groundtruth's 4-column
    grid — stacked two-line header merged into one row, the 2-up page's
    left half untouched."""
    text, items, _ = extract_pdf(
        (SRC / "table_mislabeled_as_picture.pdf").read_bytes())
    tables = [it for it in items if it["label"] == "table"]
    assert len(tables) == 1
    lines = tables[0]["text"].splitlines()
    assert lines[0] == "|  |  | State funded legal aid | CSOs |"
    body = [ln for ln in lines[2:]]
    assert len(body) == 7
    assert body[0] == "| y | Persons with disabilities | * | * |"
    assert body[-1] == "| y | Internally displaced persons | * | * |"
    # the left half of the 2-up page keeps its text inline
    assert "Yes, at the national (federal) level" in text


def test_picture_placeholders_and_text_absorption() -> None:
    """r4 picture pipeline: drawn bitmaps become picture items (the md
    '<!-- image -->' markers the reference's model emits), text baked ON
    a bitmap is absorbed like the reference's postprocessor does, and
    text BETWEEN the tiles of a composed figure survives."""
    text, items, _ = extract_pdf(
        (SRC / "picture_classification.pdf").read_bytes())
    assert text.count("<!-- image -->") == 2  # matches groundtruth

    text, _, _ = extract_pdf(
        (SRC / "amt_handbook_sample.pdf").read_bytes())
    assert text.count("<!-- image -->") >= 1
    # between-tile text survives (GT keeps it)...
    assert "locks the nut firmly" in text

    text, _, _ = extract_pdf((SRC / "normal_4pages.pdf").read_bytes())
    # ...while banner-baked text is absorbed (GT omits the masthead
    # that is part of the title-banner bitmap)
    assert text.count("<!-- image -->") >= 3


def test_korean_ruled_table_reconstruction() -> None:
    """normal_4pages: the 3-column revision-comparison table is drawn with
    per-column rules PLUS unrelated title underlines on the same page;
    the r4 mutual-extent clip (h-rules inside the v-rules' y-span) must
    isolate the real grid and assemble all 5 groundtruth rows."""
    text, items, _ = extract_pdf((SRC / "normal_4pages.pdf").read_bytes())
    tables = [it for it in items if it["label"] == "table"]
    assert len(tables) == 1
    lines = tables[0]["text"].splitlines()
    assert lines[0] == "| 구분 | 개정전 | 개정후 |"
    assert len(lines) == 6  # header + separator + 4 data rows
    assert lines[2].startswith("| 분류 |")
    assert lines[-1].startswith("| U코드 |")


def test_failed_page_corpus_keeps_all_page_numbers() -> None:
    """The reference's failed-pages contract (test_failed_pages.py):
    pages its docling-parse backend cannot parse must still appear in
    the document so numbering and page-break export stay correct. Our
    parser goes further — it degrades to partial text on those pages —
    but the totality contract is the pinned part: every physical page
    present, in order, with its size."""
    for name, n_pages in (("skipped_1page", 3), ("skipped_2pages", 4)):
        cells, sizes = __import__(
            "docling_spark.engine.pdfx", fromlist=["pdf_line_cells"]
        ).pdf_line_cells((SRC / f"{name}.pdf").read_bytes())
        assert sorted(sizes) == list(range(1, n_pages + 1))
        pages_with_cells = {c["page_no"] for c in cells}
        assert pages_with_cells == set(range(1, n_pages + 1))


def test_bottom_zone_footer_requires_detachment() -> None:
    """A tight-margin page whose last BODY line starts inside the bottom
    8% must keep it (continuation lines follow their predecessor within
    a line height); a detached line in the same zone is furniture."""
    from docling_spark.engine.pdfx import _mark_repeated_furniture

    def cell(top, bot, text):
        return {"page_no": 1, "bbox": (72.0, top, 400.0, bot),
                "text": text, "conf": 1.0, "label": "text"}

    # body runs to the margin: lines every 14pt, last one at 740 (0.934)
    cells = [cell(600 + 14 * i, 610 + 14 * i, f"body line {i}")
             for i in range(11)]
    _mark_repeated_furniture(cells, {1: (612.0, 792.0)}, 1)
    assert all(c["label"] == "text" for c in cells)

    # same zone, but DETACHED from the body (gap 60pt) -> footer; the
    # stacked second footer line detaches as part of the block
    cells = [cell(600 + 14 * i, 610 + 14 * i, f"body line {i}")
             for i in range(5)] + [
        cell(730.0, 740.0, "publisher address line"),
        cell(744.0, 754.0, "Tel. 000-0000 ISSN 0000-0000"),
    ]
    _mark_repeated_furniture(cells, {1: (612.0, 792.0)}, 1)
    assert [c["label"] for c in cells[-2:]] == ["page_footer"] * 2
    assert all(c["label"] == "text" for c in cells[:-2])


def test_multi_strip_scan_background_absorbs_nothing() -> None:
    """A page scanned as two ~49% strips must keep its whole OCR text
    layer even though each strip passes the single-bitmap 90% guard."""
    from docling_spark.engine.pdfx import _absorb_text_on_bitmaps

    strips = [(0.0, 0.0, 612.0, 390.0), (0.0, 390.0, 612.0, 792.0)]
    cells = [{"page_no": 1, "bbox": (72.0, 100.0 + 20 * i, 400.0,
                                     112.0 + 20 * i),
              "text": f"ocr line {i}", "conf": 1.0, "label": "text"}
             for i in range(10)]
    out = _absorb_text_on_bitmaps(cells, strips, (612.0, 792.0))
    assert len(out) == 10


def test_footer_detachment_is_per_candidate() -> None:
    """A tight-margin page keeps its last body line (continuation gap)
    while STILL shedding the genuinely detached page number below it."""
    from docling_spark.engine.pdfx import _mark_repeated_furniture

    def cell(top, bot, text):
        return {"page_no": 1, "bbox": (72.0, top, 400.0, bot),
                "text": text, "conf": 1.0, "label": "text"}

    cells = [cell(700 + 14 * i, 710 + 14 * i, f"body {i}")
             for i in range(4)]  # last body line top 742 (in zone)
    cells.append(cell(772.0, 782.0, "17"))  # page number, 20pt detached
    _mark_repeated_furniture(cells, {1: (612.0, 792.0)}, 1)
    assert [c["label"] for c in cells] == ["text"] * 4 + ["page_footer"]


def test_restroked_figure_does_not_disable_absorption() -> None:
    """One 25%-area figure re-stroked 5x must not fake page-blanket
    coverage: text ON it is still absorbed."""
    from docling_spark.engine.pdfx import _absorb_text_on_bitmaps

    fig = (100.0, 100.0, 406.0, 496.0)  # ~25% of 612x792
    cells = [
        {"page_no": 1, "bbox": (120.0, 792 - 480.0, 300.0, 792 - 468.0),
         "text": "caption baked into the figure", "conf": 1.0,
         "label": "text"},
        {"page_no": 1, "bbox": (72.0, 720.0, 400.0, 732.0),
         "text": "real body text outside", "conf": 1.0, "label": "text"},
    ]
    out = _absorb_text_on_bitmaps(cells, [fig] * 5, (612.0, 792.0))
    assert [c["text"] for c in out] == ["real body text outside"]


def test_rtl_script_seam_spaces_restored() -> None:
    """An embedded Latin word in an RTL line never joins an Arabic
    word: _fix_rtl restores the inter-word space at bare script seams
    (the corpus renders 'Python لتنفيذ' with the separating space glyph
    carried by a run whose geometry lands it elsewhere)."""
    from docling_spark.engine.pdfx import _fix_rtl

    # visual order: Arabic reversed, LTR as-is, no spaces at the seams
    glyphs = list("تاودألا نمPython") + list("و")
    out = _fix_rtl(glyphs)
    assert out == "و Python من الأدوات"


def test_display_typography_becomes_formula_placeholder() -> None:
    """Tatweel-stretched display text (>=3-run, >=15% of chars) is the
    reference layout model's FORMULA region: one placeholder for the
    whole contiguous region, prose untouched."""
    from docling_spark.engine.layoutx import extract_from_cells

    def cell(i, text):
        return {"page_no": 1, "bbox": (72.0, 100.0 + 14 * i, 400.0,
                                       110.0 + 14 * i),
                "text": text, "conf": 1.0, "label": "text"}

    cells = [
        cell(0, "نص عادي قبل المخطط"),
        cell(1, "بنــــاء نســــا بنـــــاء تصـــــاع"),
        cell(2, "المصــــــــــر تنابســـــــــي"),
        cell(3, "نص عادي بعد المخطط"),
    ]
    text, items, _ = extract_from_cells(cells, {1: (612.0, 792.0)})
    assert text.count("<!-- formula-not-decoded -->") == 1
    labels = [it["label"] for it in items if it["item_idx"] > 0]
    assert labels.count("formula") == 1
    assert "نص عادي قبل المخطط" in text and "نص عادي بعد المخطط" in text
