"""Email engine: header items, paragraph splitting, attachment exclusion,
html-part delegation, routing, containment (reference semantics per
docling/backend/email_backend.py:90-176)."""

import base64
import pathlib

import pytest

from docling_spark.engine.emailx import (
    extract_email,
    looks_like_email,
)
from docling_spark.engine.extract import detect_format, extract_payload

REF = pathlib.Path("/root/reference/tests/data/email/sources")

needs_ref = pytest.mark.requires_reference(REF)

SIMPLE_EML = (
    "From: Alice Example <alice@example.com>\n"
    "To: Bob Example <bob@example.com>\n"
    "Subject: Simple Email\n"
    "MIME-Version: 1.0\n"
    "Content-Type: text/plain; charset=utf-8\n"
    "\n"
    "Hello Bob,\n"
    "\n"
    "This is a simple email body.\n"
)

ATTACHMENT_EML = (
    "From: Carol Example <carol@example.com>\n"
    "To: Dave Example <dave@example.com>\n"
    "Subject: Report\n"
    "MIME-Version: 1.0\n"
    'Content-Type: multipart/mixed; boundary="BOUNDARY"\n'
    "\n"
    "--BOUNDARY\n"
    "Content-Type: text/plain; charset=utf-8\n"
    "\n"
    "Hi Dave,\n"
    "\n"
    "The report is attached.\n"
    "\n"
    "Best regards,\n"
    "Carol\n"
    "--BOUNDARY\n"
    'Content-Type: text/plain; name="report.txt"\n'
    'Content-Disposition: attachment; filename="report.txt"\n'
    "Content-Transfer-Encoding: base64\n"
    "\n"
    + base64.b64encode(b"attachment file body\n").decode() + "\n"
    "--BOUNDARY--\n"
)


def test_simple_eml():
    text, items, _m = extract_email(SIMPLE_EML)
    assert text == (
        "# Simple Email\n\n"
        "From: Alice Example <alice@example.com>\n\n"
        "To: Bob Example <bob@example.com>\n\n"
        "Hello Bob,\n\n"
        "This is a simple email body."
    )
    assert items[1]["label"] == "title"
    assert items[1]["text"] == "Simple Email"
    assert [it["text"] for it in items[2:4]] == [
        "From: Alice Example <alice@example.com>",
        "To: Bob Example <bob@example.com>",
    ]
    # header/body items hang under the subject title
    assert all(it["parent_idx"] == 1 for it in items[2:])


def test_multipart_base64_attachment_excluded():
    text, items, _m = extract_email(ATTACHMENT_EML)
    assert items[1]["label"] == "title" and items[1]["text"] == "Report"
    assert "attachment file" not in text
    assert "report.txt" not in text
    assert "The report is attached." in text
    assert "Best regards," in text


@needs_ref
def test_reference_simple_eml():
    src = (REF / "eml_simple.eml").read_text()
    text, items, m = extract_email(src)
    assert text == (
        "# Simple Email\n\n"
        "From: Alice Example <alice@example.com>\n\n"
        "To: Bob Example <bob@example.com>\n\n"
        "Hello Bob,\n\n"
        "This is a simple email body."
    )
    assert items[1]["label"] == "title"
    # header/body items hang under the subject title
    assert all(it["parent_idx"] == 1 for it in items[2:])


@needs_ref
def test_attachment_excluded():
    src = (REF / "eml_with_attachment.eml").read_text()
    text, _items, _m = extract_email(src)
    assert "attachment file" not in text
    assert "Best regards," in text


def test_date_iso():
    src = (
        "From: a@x.com\nTo: b@y.com\nSubject: Hi\n"
        "Date: Mon, 17 Aug 2026 10:30:00 +0000\n\nbody text\n"
    )
    text, _items, _m = extract_email(src)
    assert "Date: 2026-08-17T10:30:00+00:00" in text


def test_html_part_fallback():
    src = (
        "From: a@x.com\nTo: b@y.com\nSubject: H\n"
        "MIME-Version: 1.0\nContent-Type: text/html; charset=utf-8\n\n"
        "<h1>Heading</h1><p>para one</p>"
    )
    text, _items, _m = extract_email(src)
    assert "# Heading" in text and "para one" in text


def test_routing_and_containment():
    assert looks_like_email("From: a@x\nSubject: s\n\nhi")
    assert not looks_like_email("From the start, this was a plain sentence.")
    assert detect_format("From: a@x\nTo: b@y\n\nhi") == "email"
    r = extract_payload("not really\nan email", "email")
    assert r["status"] == "failure"
    assert r["errors"][0]["category"] == "parse_error"
