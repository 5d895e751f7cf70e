"""Pin the DOCX engine against the reference's own docx groundtruth corpus
(tests/data/docx/{sources,groundtruth}) — exact text equality.

textbox.docx is pinned as a SUPERSET: the reference's textbox pass
deduplicates containers by ``id()`` of transient lxml proxies
(msword_backend.py:719,770-773), which non-semantically drops four
textboxes in this file ('A report must be submitted…', 'Department of
Education:…', 'The Health Bureau will handle…', one 'No'). This engine
keeps them; the test asserts the output equals the groundtruth with
exactly those four blocks re-inserted.
"""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.docxx import extract_docx

REF = pathlib.Path("/root/reference/tests/data/docx")

EXPECT_MATCH = [
    "Strict", "Transitional", "drawingml",
    "docx_checkboxes", "docx_code_blocks", "docx_comments",
    "docx_external_image", "docx_grouped_images", "docx_list_blank_spacer",
    "docx_list_resumed_numbering", "docx_lists",
    "docx_page_header_footer_first_page", "docx_rich_cells",
    "docx_rich_tables_01",
    "docx_vml_images", "equations", "list_after_num_headers",
    "lorem_ipsum",
    "omml_frac_superscript", "omml_func_log",
    "omml_multi_equation_paragraph", "omml_text_escapes_in_math",
    "table_with_equations",
    "tablecell", "test_emf_docx", "unit_test_formatting",
    "unit_test_headers", "unit_test_headers_numbered",
    "word_image_anchors", "word_sample", "word_tables",
]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", EXPECT_MATCH)
def test_reference_groundtruth_docx(name: str) -> None:
    src = (REF / "sources" / f"{name}.docx").read_bytes()
    gt = (REF / "groundtruth" / f"{name}.docx.md").read_text()
    text, items, metrics = extract_docx(src)
    assert text.strip() == gt.strip()
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]


def test_rejects_non_zip() -> None:
    from docling_spark.engine.docxx import DocxError

    with pytest.raises(DocxError):
        extract_docx(b"this is not a zip")


def test_textbox_dropped_content_is_real_document_content() -> None:
    """Structural proof (the table_06 standard) that the groundtruth's
    omission — not our inclusion — is the accident: each of the three
    texts missing from textbox.docx.md exists in word/document.xml
    exactly once per mc branch, inside the mc:Choice (DrawingML)
    txbxContent of a floating textbox — i.e. first-class document
    content under OOXML markup-compatibility (process Choice, skip
    Fallback). The reference loses them to transient-lxml-proxy id()
    reuse in its processed_textbox_elements bookkeeping
    (msword_backend.py:718-719 stores id(element), :770-773 stores
    id(tb_element); a fresh xpath proxy allocated at a freed proxy's
    address spuriously matches), so the drop is a CPython allocator
    artifact no semantic reimplementation can derive."""
    import io
    import xml.etree.ElementTree as ET
    import zipfile

    src = (REF / "sources" / "textbox.docx").read_bytes()
    xml = zipfile.ZipFile(io.BytesIO(src)).read("word/document.xml")
    root = ET.fromstring(xml)
    MC = "{http://schemas.openxmlformats.org/markup-compatibility/2006}"
    W = ("{http://schemas.openxmlformats.org/wordprocessingml/2006/"
         "main}")
    # collect the full text of every Choice-branch textbox
    choice_tb_texts = []
    for alt in root.iter(MC + "AlternateContent"):
        choice = alt.find(MC + "Choice")
        if choice is None:
            continue
        for tb in choice.iter(W + "txbxContent"):
            choice_tb_texts.append("".join(
                t.text or "" for t in tb.iter(W + "t")))
    gt = (REF / "groundtruth" / "textbox.docx.md").read_text()
    for needle in ("A report must be submitted within 24 hours",
                   "Department of Education:",
                   "The Health Bureau will handle"):
        assert sum(needle in t for t in choice_tb_texts) == 1, needle
        assert needle not in gt  # the groundtruth lost real content


def test_textbox_superset_of_groundtruth() -> None:
    """textbox.docx: groundtruth plus the four textboxes the reference's
    id()-reuse dedup drops (see module docstring and the structural
    proof above)."""
    src = (REF / "sources" / "textbox.docx").read_bytes()
    gt = (REF / "groundtruth" / "textbox.docx.md").read_text().strip()
    text, items, metrics = extract_docx(src)
    got_blocks = text.strip().split("\n\n")
    gt_blocks = gt.split("\n\n")
    extras = [
        b for b in got_blocks
        if b.startswith((
            "- A report must be submitted within 24 hours",
            "Department of Education:",
            "The Health Bureau will handle",
        )) or b == "No"
    ]
    # all four dropped boxes present (the lone extra 'No' + three texts)
    assert len([b for b in extras if b != "No"]) == 3
    # and removing exactly those yields the groundtruth sequence
    remaining = list(got_blocks)
    for b in [
        "- A report must be submitted within 24 hours via the Ministry "
        "of Education’s Campus Safety and Disaster Prevention Information "
        "Network.\n- A report must also be submitted within 48 hours "
        "through Chiayi County’s School Suspected Infectious Disease "
        "Reporting System.",
        "Department of Education:\nCollaborate with the Health Bureau in "
        "conducting epidemiological investigations and assist Health "
        "Bureau personnel in implementing necessary epidemic prevention "
        "measures at all school levels.",
        "The Health Bureau will handle **reporting and specimen "
        "collection** .",
    ]:
        remaining.remove(b)
    # the LAST 'No' (the flowchart-bottom box) is the dropped duplicate
    assert remaining.count("No") == gt_blocks.count("No") + 1
    del remaining[len(remaining) - 1 - remaining[::-1].index("No")]
    assert remaining == gt_blocks
