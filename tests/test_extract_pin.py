"""Regression pin for ``extract_payload`` (NOT reference parity).

The digest below was computed from this repo's own output before the
format table replaced the per-format dispatch chain. It pins two things:

- every result over a fixed range of synthetic conversations
  (``sources.transcripts.gen_conversation``), which covers every format
  the generator emits plus its malformed, empty and oversize payloads;
- every format hint with a handful of small probe payloads, which pins
  each payload-decode arm's failure message, plus the null-payload,
  size-limit and allowed-format policy rows.

A second digest, ``SUCCESS_PIN``, pins one small successful document
per format engine (plus the empty and root-only edge documents), built
inline: OOXML/ODF/EPUB/dclx/XBRL archives with ``zipfile``, legacy
Office CFB files with the engines' own ``synthesize_*`` writers
(``engine/olex.py``), a METS tar with ``tarfile`` and a native PDF in
the single-page shape of the ``extract_pdf`` query. The generator and the
probes reach the binary engines only through their failure rows; this
pin covers their successful results, metrics included.

A change to any engine's output moves a digest. When that change is
intended, recompute it with
``PYTHONPATH=. python tests/test_extract_pin.py`` and say why in the
commit.
"""

from __future__ import annotations

import base64
import hashlib
import io
import json
import struct
import tarfile
import zipfile

import yaml

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


SUCCESS_PIN = (
    "1914b04ce97439cb9be70ffa61bff81668500c0dc86e2020764adf97bec6f690"
)

# formats whose engine never yields a successful result here: the
# media and other-OLE2 rows are contained dependency failures (pinned
# by the probes above)
NO_SUCCESS_PATH = frozenset({"media", "legacy_office"})


def _zip_b64(files: dict[str, str]) -> str:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return base64.b64encode(buf.getvalue()).decode()


def _b64(raw: bytes) -> str:
    return base64.b64encode(raw).decode()


_RELS = ('<?xml version="1.0"?><Relationships xmlns="http://schemas.'
         'openxmlformats.org/package/2006/relationships">'
         '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/'
         'officeDocument/2006/relationships/{kind}" Target="{target}"/>'
         "</Relationships>")


def _docx() -> str:
    w = "http://schemas.openxmlformats.org/wordprocessingml/2006/main"
    styles = (f'<?xml version="1.0"?><w:styles xmlns:w="{w}">'
              '<w:style w:type="paragraph" w:styleId="Heading1">'
              '<w:name w:val="heading 1"/></w:style></w:styles>')
    doc = (f'<?xml version="1.0"?><w:document xmlns:w="{w}"><w:body>'
           '<w:p><w:pPr><w:pStyle w:val="Heading1"/></w:pPr>'
           "<w:r><w:t>Doc 7</w:t></w:r></w:p>"
           "<w:p><w:r><w:t>alpha beta </w:t></w:r>"
           "<w:r><w:rPr><w:b/></w:rPr><w:t>gamma</w:t></w:r></w:p>"
           "</w:body></w:document>")
    return _zip_b64({"word/styles.xml": styles, "word/document.xml": doc})


def _xlsx() -> str:
    ns = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    rns = ("http://schemas.openxmlformats.org/officeDocument/2006/"
           "relationships")
    wb = (f'<?xml version="1.0"?><workbook xmlns="{ns}" xmlns:r="{rns}">'
          '<sheets><sheet name="Data" sheetId="1" r:id="rId1"/></sheets>'
          "</workbook>")
    sheet = (f'<?xml version="1.0"?><worksheet xmlns="{ns}"><sheetData>'
             '<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c>'
             '<c r="B1" t="inlineStr"><is><t>v</t></is></c></row>'
             '<row r="2"><c r="A2" t="inlineStr"><is><t>x</t></is></c>'
             '<c r="B2"><v>3</v></c></row></sheetData></worksheet>')
    return _zip_b64({
        "xl/workbook.xml": wb,
        "xl/_rels/workbook.xml.rels": _RELS.format(
            kind="worksheet", target="worksheets/sheet1.xml"),
        "xl/worksheets/sheet1.xml": sheet,
    })


def _pptx() -> str:
    p = "http://schemas.openxmlformats.org/presentationml/2006/main"
    a = "http://schemas.openxmlformats.org/drawingml/2006/main"
    r = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    pres = (f'<?xml version="1.0"?><p:presentation xmlns:p="{p}" '
            f'xmlns:r="{r}"><p:sldIdLst><p:sldId id="256" r:id="rId1"/>'
            "</p:sldIdLst></p:presentation>")

    def sp(ph: str, y: int, paras: list[tuple[str, str]]) -> str:
        body = "".join(f"<a:p>{ppr}<a:r><a:t>{tx}</a:t></a:r></a:p>"
                       for ppr, tx in paras)
        return ('<p:sp><p:nvSpPr><p:cNvPr id="1" name="s"/><p:cNvSpPr/>'
                f"<p:nvPr>{ph}</p:nvPr></p:nvSpPr><p:spPr><a:xfrm>"
                f'<a:off x="0" y="{y}"/><a:ext cx="100" cy="100"/></a:xfrm>'
                f"</p:spPr><p:txBody><a:bodyPr/>{body}</p:txBody></p:sp>")

    bullet = '<a:pPr><a:buChar char="*"/></a:pPr>'
    slide = (f'<?xml version="1.0"?><p:sld xmlns:p="{p}" xmlns:a="{a}">'
             '<p:cSld><p:spTree><p:nvGrpSpPr><p:cNvPr id="0" name="g"/>'
             "<p:cNvGrpSpPr/><p:nvPr/></p:nvGrpSpPr><p:grpSpPr/>"
             + sp('<p:ph type="title"/>', 0, [("", "Deck 7")])
             + sp('<p:ph idx="1"/>', 1000,
                  [(bullet, "alpha"), (bullet, "beta")])
             + "</p:spTree></p:cSld></p:sld>")
    return _zip_b64({
        "ppt/presentation.xml": pres,
        "ppt/_rels/presentation.xml.rels": _RELS.format(
            kind="slide", target="slides/slide1.xml"),
        "ppt/slides/slide1.xml": slide,
    })


_ODF_NS = (
    'xmlns:office="urn:oasis:names:tc:opendocument:xmlns:office:1.0" '
    'xmlns:text="urn:oasis:names:tc:opendocument:xmlns:text:1.0" '
    'xmlns:table="urn:oasis:names:tc:opendocument:xmlns:table:1.0" '
    'xmlns:draw="urn:oasis:names:tc:opendocument:xmlns:drawing:1.0"')


def _odf(body: str) -> str:
    return _zip_b64({"content.xml": (
        f'<?xml version="1.0"?><office:document-content {_ODF_NS}>'
        f"<office:body>{body}</office:body></office:document-content>")})


def _epub() -> str:
    container = (
        '<?xml version="1.0"?><container version="1.0" '
        'xmlns="urn:oasis:names:tc:opendocument:xmlns:container">'
        '<rootfiles><rootfile full-path="content.opf" '
        'media-type="application/oebps-package+xml"/></rootfiles>'
        "</container>")
    opf = ('<?xml version="1.0"?><package xmlns="http://www.idpf.org/2007/'
           'opf" version="3.0" unique-identifier="id"><manifest>'
           '<item id="c1" href="ch1.xhtml" '
           'media-type="application/xhtml+xml"/>'
           '<item id="c2" href="ch2.xhtml" '
           'media-type="application/xhtml+xml"/></manifest>'
           '<spine><itemref idref="c1"/><itemref idref="c2"/></spine>'
           "</package>")
    return _zip_b64({
        "mimetype": "application/epub+zip",
        "META-INF/container.xml": container,
        "content.opf": opf,
        "ch1.xhtml": "<html><body><h1>Book 7</h1><p>alpha</p></body></html>",
        "ch2.xhtml": "<html><body><h2>Two</h2><p>beta.</p></body></html>",
    })


_DOCLANG = ("<doclang><heading>Doc 7</heading><text>alpha beta</text>"
            "<table><fcel/><text>id</text><fcel/><text>7</text><nl/>"
            "</table></doclang>")


def _mets() -> str:
    mets = ('<METS:mets xmlns:METS="http://www.loc.gov/METS/" '
            'xmlns:xlink="http://www.w3.org/1999/xlink" PROFILE="gbs">'
            '<METS:fileSec><METS:fileGrp USE="coordOCR">'
            '<METS:file ID="OCR1" MIMETYPE="text/html">'
            '<METS:FLocat xlink:href="p1.html"/></METS:file>'
            "</METS:fileGrp></METS:fileSec>"
            '<METS:structMap><METS:div TYPE="page" ORDER="1">'
            '<METS:fptr FILEID="OCR1"/></METS:div></METS:structMap>'
            "</METS:mets>")
    hocr = ("<html><body><div class='ocr_page' title='bbox 0 0 1000 1400'>"
            "<span class='ocr_line' title='bbox 100 100 900 140;x_wconf 97'>"
            "alpha beta gamma</span></div></body></html>")
    buf = io.BytesIO()
    with tarfile.open(fileobj=buf, mode="w:gz") as tar:
        for name, data in (("book.xml", mets), ("p1.html", hocr)):
            info = tarfile.TarInfo(name)
            info.size = len(data.encode())
            tar.addfile(info, io.BytesIO(data.encode()))
    return _b64(buf.getvalue())


def _xbrl(disclosure: str = "&lt;p&gt;alpha beta&lt;/p&gt;") -> str:
    tns = "http://example.com/t"
    xsd = ('<?xml version="1.0"?><xs:schema '
           'xmlns:xs="http://www.w3.org/2001/XMLSchema" '
           f'targetNamespace="{tns}" '
           'xmlns:dtr-types="http://www.xbrl.org/dtr/type/2020-01-21">'
           '<xs:element name="Disclosure" '
           'type="dtr-types:textBlockItemType"/></xs:schema>')
    inst = ('<?xml version="1.0"?><xbrl '
            'xmlns="http://www.xbrl.org/2003/instance" '
            f'xmlns:dei="http://xbrl.sec.gov/dei/2025" xmlns:t="{tns}">'
            '<context id="c0"><entity><identifier scheme="cik">1'
            "</identifier></entity><period><instant>2026-01-01</instant>"
            "</period></context>"
            '<dei:DocumentType contextRef="c0">10-K</dei:DocumentType>'
            f'<t:Disclosure contextRef="c0">{disclosure}</t:Disclosure>'
            "</xbrl>")
    return _zip_b64({"instance.xml": inst, "tax/t.xsd": xsd})


def _pdf() -> str:
    content = ("BT /F1 18 Tf 72 720 Td (Doc 7) Tj ET\n"
               "BT /F1 11 Tf 72 680 Td (alpha beta) Tj ET\n"
               "BT /F1 11 Tf 72 660 Td (gamma delta) Tj ET\n")
    return ("%PDF-1.4\n"
            "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
            "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
            "3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Resources << /Font << /F1 4 0 R >> >> /Contents 5 0 R >> "
            "endobj\n"
            "4 0 obj << /Type /Font /Subtype /Type1 /BaseFont /Helvetica >> "
            "endobj\n"
            f"5 0 obj << /Length {len(content)} >> stream\n"
            f"{content}endstream endobj\n"
            "trailer << /Root 1 0 R >>\n%%EOF\n")


def _gif() -> str:
    gif = b"GIF89a" + struct.pack("<HH", 16, 9) + b"\x00\x00\x00"
    for _ in range(2):
        gif += (b"\x2c" + struct.pack("<HHHH", 0, 0, 16, 9)
                + b"\x00\x02\x01\x00\x00")
    return _b64(gif + b"\x3b")


_DOCLING_JSON = json.dumps({
    "schema_name": "DoclingDocument", "version": "1.0",
    "body": {"self_ref": "#/body", "label": "unspecified", "name": "_root_",
             "content_layer": "body",
             "children": [{"$ref": "#/texts/0"}, {"$ref": "#/texts/1"}]},
    "texts": [
        {"self_ref": "#/texts/0", "parent": {"$ref": "#/body"},
         "children": [], "content_layer": "body", "label": "title",
         "text": "Doc 7"},
        {"self_ref": "#/texts/1", "parent": {"$ref": "#/body"},
         "children": [], "content_layer": "body", "label": "text",
         "text": "alpha beta"},
    ],
    "groups": [], "tables": [], "pictures": [],
})


def _glm() -> str:
    def pe(name: str, iref: str) -> dict:
        return {"type": "paragraph", "name": name, "span": [0, 4096],
                "iref": iref, "page": 1, "bbox": [0.0, 0.0, 100.0, 10.0]}

    return json.dumps({
        "file-info": {"filename": "doc.pdf", "document-hash": "7"},
        "page-dimensions": [{"page": 1, "width": 612.0, "height": 792.0}],
        "main-text": [{"text": "Doc 7"}, {"text": "alpha beta"},
                      {"text": "p. 1"}],
        "page-elements": [pe("section_header", "#/main-text/0"),
                          pe("text", "#/main-text/1"),
                          pe("page_footer", "#/main-text/2"),
                          pe("text", "#/main-text/9")],
    })


def success_cases() -> list[tuple[str, str]]:
    """(hint, payload) pairs: one successful document per format engine,
    then the empty and root-only edge documents."""
    from docling_spark.engine.docbinx import synthesize_doc
    from docling_spark.engine.pptbinx import synthesize_ppt
    from docling_spark.engine.xlsbinx import synthesize_xls

    return [
        ("html", "<title>T</title><h1>Doc 7</h1><p>alpha beta</p>"
                 "<ul><li>x</li></ul><footer>f</footer>"),
        ("md", "# Doc 7\n\nalpha *beta*\n\n- x\n- y\n"),
        ("md", "# Doc 7\n\n<div>raw block</div>\n"),
        ("csv", "a,b\n1,2\n3,4\n"),
        ("pdfish", "\n".join(json.dumps(c) for c in (
            {"page_no": 1, "bbox": [0, 0, 100, 6], "text": "Report 7",
             "conf": 0.9, "label": "page_header"},
            {"page_no": 1, "bbox": [10, 10, 90, 18], "text": "Doc Title",
             "conf": 0.95, "label": "title"},
            {"page_no": 1, "bbox": [0, 24, 90, 32], "text": "alpha beta",
             "conf": 0.9, "label": "text"},
            {"page_no": 1, "bbox": [0, 40, 90, 48], "text": "noise",
             "conf": 0.2, "label": "text"},
        ))),
        ("pdf", _pdf()),
        ("code", "def f(x):\n    return x\n"),
        ("vtt", "WEBVTT\n\n00:00:00.000 --> 00:00:02.000\n<v a>hello\n\n"
                "00:00:02.000 --> 00:00:04.000\n<v b>world\n"),
        ("email", "From: a@example.com\nTo: b@example.com\n"
                  "Subject: Hi 7\n\nalpha beta\n"),
        ("asciidoc", "= Guide 7\n\nabstract\n\n== Usage\n\n* a\n* b\n"),
        ("epub", _epub()),
        ("docling_json", _DOCLING_JSON),
        ("docx", _docx()),
        ("deepseek", "<|ref|>title<|/ref|><|det|>[[10, 10, 500, 40]]<|/det|>"
                     "\n# Doc 7\n\n<|ref|>text<|/ref|><|det|>"
                     "[[10, 50, 500, 90]]<|/det|>\nalpha beta\n"),
        ("xlsx", _xlsx()),
        ("pptx", _pptx()),
        ("ebcdic", json.dumps({
            "layout": {"description": "ledger", "records": [{
                "name": "main", "fields": [
                    {"name": "word", "size": 6},
                    {"name": "amount", "size": 4, "type": "zoned_decimal",
                     "scale": 2}]}]},
            "data_b64": _b64("alpha ".encode("cp037")
                             + bytes(0xF0 | d for d in (0, 1, 2, 3))),
        })),
        ("boxnote", json.dumps({"version": 1, "doc": {
            "type": "doc", "content": [
                {"type": "heading", "attrs": {"level": 1},
                 "content": [{"type": "text", "text": "Note 7"}]},
                {"type": "paragraph",
                 "content": [{"type": "text", "text": "alpha beta"}]}]}})),
        ("jats", "<article><front><article-meta><title-group>"
                 "<article-title>Study 7</article-title></title-group>"
                 "<abstract><p>alpha beta</p></abstract></article-meta>"
                 "</front><body><sec><title>1. Results</title>"
                 "<p>gamma</p></sec></body></article>"),
        ("odt", _odf('<office:text><text:h text:outline-level="1">Doc 7'
                     "</text:h><text:p>alpha beta</text:p></office:text>")),
        ("ods", _odf('<office:spreadsheet><table:table table:name="S">'
                     "<table:table-row><table:table-cell><text:p>k</text:p>"
                     "</table:table-cell><table:table-cell><text:p>v"
                     "</text:p></table:table-cell></table:table-row>"
                     "</table:table></office:spreadsheet>")),
        ("odp", _odf('<office:presentation><draw:page draw:name="p1">'
                     "<draw:frame><draw:text-box><text:p>Slide 7</text:p>"
                     "</draw:text-box></draw:frame></draw:page>"
                     "</office:presentation>")),
        ("uspto", '<?xml version="1.0" encoding="UTF-8"?>\n'
                  "<!DOCTYPE us-patent-application SYSTEM "
                  '"us-patent-application-v44-2014-04-03.dtd" [ ]>\n'
                  "<us-patent-application><invention-title>Patent 7"
                  "</invention-title><abstract><p>alpha beta</p></abstract>"
                  "<claims><claim><claim-text>1. A method.</claim-text>"
                  "</claim></claims></us-patent-application>"),
        ("latex", "\\documentclass{article}\n\\begin{document}\n"
                  "\\section{Paper 7}\n\nalpha beta.\n\n$$E = mc^2$$\n\n"
                  "\\end{document}\n"),
        ("doclang", _DOCLANG),
        ("dclx", _zip_b64({"content.xml": _DOCLANG})),
        ("mets_gbs", _mets()),
        ("chandra", '<div data-bbox="0 0 1000 40" data-label="Page-Header">'
                    'page 7</div><div data-bbox="10 50 900 80" '
                    'data-label="Section-Header"><h2>Doc 7</h2></div>'
                    '<div data-bbox="10 90 900 400" data-label="Text">'
                    "<p>alpha beta</p></div>"),
        ("dots", json.dumps([
            {"bbox": [0, 0, 1000, 30], "category": "Page-header",
             "text": "page 7"},
            {"bbox": [10, 50, 900, 80], "category": "Section-header",
             "text": "Doc 7"},
            {"bbox": [10, 90, 900, 400], "category": "Text",
             "text": "alpha beta"},
        ])),
        ("xbrl", _xbrl()),
        ("image", _gif()),
        ("glm_json", _glm()),
        ("doctags", "<doctag><title><loc_10><loc_10><loc_100><loc_20>T 7"
                    "</title>\n<text>alpha beta</text>\n<page_break>\n"
                    "<text>gamma</text>\n<page_footer>p. 2</page_footer>\n"
                    "</doctag>"),
        ("docling_yaml", yaml.safe_dump(json.loads(_DOCLING_JSON))),
        ("doc", _b64(synthesize_doc("one\ntwo"))),
        ("xls", _b64(synthesize_xls("S1", [["k", "v"], ["x", 3]]))),
        ("ppt", _b64(synthesize_ppt([{"title": "Deck 7", "paras": ["hi"],
                                      "bullets": ["a", "b"]}]))),
        ("plain", "alpha beta gamma"),
        # empty, root-only and degenerate documents: the metrics each
        # engine computes for them (an xbrl instance without a text
        # block scores 0.5)
        ("html", ""),
        ("html", "<footer>only furniture</footer>"),
        ("md", ""),
        ("dots", ""),
        ("dots", "[]"),
        ("chandra", '<div data-bbox="0 0 9 9" data-label="Page-Header">'
                    "p</div>"),
        ("doctags", "<doctag></doctag>"),
        ("glm_json", '{"page-elements": []}'),
        ("xbrl", _xbrl(disclosure="")),
        ("pdfish", json.dumps({"page_no": 1, "bbox": [0, 0, 100, 6],
                               "text": "", "conf": 0.9, "label": "text"})),
        ("plain", ""),
    ]


def success_digest() -> str:
    from docling_spark.engine.extract import extract_payload

    h = hashlib.sha256()
    for hint, payload in success_cases():
        res = extract_payload(payload, hint)
        h.update(json.dumps(res, sort_keys=True, ensure_ascii=False)
                 .encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()


def test_success_path_covers_every_engine():
    from docling_spark.engine.extract import _FORMATS, FORMAT_HINTS

    covered = {FORMAT_HINTS[hint] for hint, _ in success_cases()}
    assert covered == set(_FORMATS) - NO_SUCCESS_PATH


def test_success_path_results_keep_the_metrics_schema():
    from docling_spark.engine.extract import STATUS_SUCCESS, extract_payload
    from docling_spark.schema import METRICS_SCHEMA

    keys = set(METRICS_SCHEMA.fieldNames())
    for hint, payload in success_cases():
        res = extract_payload(payload, hint)
        assert res["status"] == STATUS_SUCCESS, (hint, res["errors"])
        assert set(res["metrics"]) == keys, hint


def test_success_path_regression_pin():
    assert success_digest() == SUCCESS_PIN


if __name__ == "__main__":
    print(pin_digest())
    print(success_digest())
