"""Per-turn extraction: format routing + error containment.

The single-document entry point of the engine, mirroring the reference
conversion lifecycle (docling/document_converter.py:441-503 →
pipeline/base_pipeline.py:65-98) with its invariants:

- format detection by hint then content sniffing
  (docling/datamodel/document.py:763-1100)
- size limits → SKIPPED status (docling/datamodel/settings.py:23-26,
  document.py:290-298)
- failures NEVER propagate: malformed payloads produce a FAILURE result row
  with structured errors (base_pipeline.py:84-94 raises_on_error=False path,
  ErrorItem/FailureCategory base_models.py:287-327)
- every input turn yields exactly one result (missing-page placeholder rule,
  standard_pdf_pipeline.py:1139-1175)

Pure Python; the Spark operator wraps :func:`extract_payload` in a
mapInPandas batch loop.
"""

from __future__ import annotations

import base64
import importlib
import re
from collections.abc import Callable
from typing import Any, NamedTuple

from docling_spark.engine import asciidocx, csvx, emailx, htmlx, layoutx, mdx, vttx
from docling_spark.functions.textnorm import normalize_plain, rate_text_quality

STATUS_SUCCESS = "success"
STATUS_PARTIAL = "partial_success"
STATUS_FAILURE = "failure"
STATUS_SKIPPED = "skipped"

# DocumentLimits.max_file_size analog (settings.py:23-26); payloads above
# this are skipped, not parsed.
DEFAULT_MAX_BYTES = 8 * 1024 * 1024

_ADOC_SNIFF_RE = re.compile(r"(?m)^= \S.*\n(?:.*\n)*?^==+ \S")

_HTML_SNIFF_RE = re.compile(r"(?is)^\s*(<!doctype\s+html|<html[\s>]|<body[\s>])")
_HTML_TAGS_RE = re.compile(r"(?s)<[a-zA-Z][^>]*>.*</[a-zA-Z]")
# bounded probe: an unbounded '.*' scan paid a full-document pass per
# sniff and classified ANY JSON containing "bbox" at any depth as
# pdfish. The key may sit on a later line (a pdfish payload can open
# with the page-size declaration line), so the sniff is {-prefix plus a
# windowed key search, like the sibling sniffs.
_BBOX_KEY_RE = re.compile(r'"bbox"\s*:')
_DOCLING_JSON_KEY_RE = re.compile(r'"schema_name"\s*:\s*"DoclingDocument"')
_MD_CUES_RE = re.compile(r"(?m)^(#{1,6}\s|\s*[-*+]\s+\S|\s*\d+\.\s+\S|```)")
_YAML_HEAD_RE = re.compile(r"\s*[a-z_]+:\s")


def detect_format(text: str, tool: str = "", _carry: dict | None = None
                  ) -> str:
    """Extension/MIME routing analog (base_models.py:143-263): the ``tool``
    column is the format hint; content sniffing is the fallback
    (document.py:1014 HTML detection, 1058 CSV dialect detection).

    ``_carry`` (internal): extract_payload passes a dict so the OLE sniff
    can hand over its decoded bytes — classifying .doc/.xls/.ppt needs
    the container directory, and decoding a multi-MB base64 payload
    twice (sniff + handler) doubled the costliest part of routing.
    Every format name and alias in ``_FORMATS`` is a hint."""
    fmt = FORMAT_HINTS.get((tool or "").strip().lower())
    if fmt is not None:
        return fmt
    ls = text.lstrip() if text else ""  # shared: the sniffs below probe
    # the first non-ws char repeatedly; one lstrip instead of four
    if text and text.find("<|ref|>", 0, 8192) >= 0:
        from docling_spark.engine import deepseekx

        if deepseekx.looks_like_deepseek(text):
            return "deepseek"
    if ls.startswith("{") and \
            _DOCLING_JSON_KEY_RE.search(text, 0, 2048):
        # regex, not an exact-substring find: compact serialization
        # (separators=(',',':')) drops the ': ' spacing and previously
        # fell through to the pdfish sniff via prov "bbox" keys
        return "docling_json"
    if ls.startswith("{") and \
            (text.find('"file-info"', 0, 4096) >= 0
             or text.find('"page-elements"', 0, 4096) >= 0) \
            and '"page-elements"' in text:
        # legacy GLM layout-model JSON (utils/glm_utils.py input shape).
        # Key order varies and the payload arrays are unbounded, so one
        # key anchors in the head window and the other may sit anywhere
        # (the full scan only runs for {-prefixed payloads that already
        # matched a GLM key up front)
        return "glm_json"
    if text and not ls.startswith(("{", "<")) and \
            _YAML_HEAD_RE.match(text) and \
            "schema_name: DoclingDocument" in text:
        # the CLI's save_as_yaml artifact (same model as the JSON
        # export). safe_dump sorts keys, so schema_name lands AFTER the
        # unbounded body/groups/texts sections — the full scan is gated
        # on the cheap yaml-mapping head shape
        return "docling_yaml"
    if ls.startswith("<doclang"):
        return "doclang"
    if ls.startswith("<doctag>"):
        # SmolDocling-style VLM DocTags answer (vlm_pipeline.py:447-465)
        return "doctags"
    if text and text.find("http://www.xbrl.org/2003/instance", 0, 4096) >= 0 \
            and text.find("<", 0, 64) >= 0:
        return "xbrl"
    if ls.startswith("[") and text.find('"category"', 0, 4096) >= 0 \
            and text.find('"bbox"', 0, 4096) >= 0:
        return "dots"
    if text and text.find("data-bbox=", 0, 4096) >= 0 \
            and text.find("data-label=", 0, 4096) >= 0:
        from docling_spark.engine import chandrax

        if chandrax.looks_like_chandra(text):
            return "chandra"
    if not text or text.isspace():
        return "plain"
    # base64-encoded image magic (binary payloads travel b64 in the text
    # column): PNG / JPEG / GIF / RIFF-WEBP / TIFF prefixes
    if text.startswith(("iVBORw0KGgo", "/9j/", "R0lGOD",
                        "SUkqAA", "TU0AKg")):
        return "image"
    if text.startswith("UklGR"):
        # base64 RIFF: WEBP is an image; WAVE/AVI are media — decode the
        # 12-byte header to disambiguate
        try:
            head = base64.b64decode(text[:16] + "=" * 2)[:12]
        except Exception:
            head = b""
        return "media" if head[8:12] in (b"WAVE", b"AVI ") else "image"
    if text.startswith(("ZkxhQw", "T2dnUw", "SUQz")):  # fLaC / OggS / ID3
        return "media"
    # native PDF: raw %PDF- header (latin-1-safe) or its base64 prefix
    if text.startswith(("%PDF-", "JVBERi")):
        return "pdf"
    if text.startswith("0M8R4KGx"):  # base64 OLE2 magic d0cf11e0a1b1
        # .doc vs .xls/.ppt needs the directory: peek the stream names
        from docling_spark.engine import olex

        try:
            raw = base64.b64decode(text)
            if _carry is not None:
                _carry["raw"] = raw
            streams = olex.OleFile(raw).streams()
        except Exception:
            streams = []
        if "WordDocument" in streams:
            return "docbin"
        if "Workbook" in streams or "Book" in streams:
            return "xlsbin"
        if "PowerPoint Document" in streams:
            return "pptbin"
        # other OLE2 containers (Visio, MSI, Publisher, …): the
        # reference has no backend either — contained failure row
        return "legacy_office"
    if text.lstrip("﻿").lstrip().startswith("WEBVTT"):
        return "vtt"
    if emailx.looks_like_email(text):
        return "email"
    if ls.startswith("{") and _BBOX_KEY_RE.search(text, 0, 4096):
        return "pdfish"
    if _HTML_SNIFF_RE.match(text) or _HTML_TAGS_RE.search(text, 0, 4096):
        return "html"
    if text.startswith("= ") and _ADOC_SNIFF_RE.match(text, 0, 4096):
        return "asciidoc"
    if _MD_CUES_RE.search(text, 0, 4096):
        return "md"
    # CSV head probe bounded to the 5th newline: a multi-MB malformed
    # blob must not pay a full splitlines just to be called plain, and no
    # probed line is ever truncated (the first 5 splitlines-lines always
    # end at or before the 5th \n, since every \n is a splitlines
    # terminator)
    end = 0
    for _ in range(5):
        nl = text.find("\n", end)
        if nl < 0:
            end = len(text)
            break
        end = nl + 1
    head = [ln for ln in text[:end].splitlines()[:5] if ln.strip()]
    if len(head) >= 2:
        for d in (",", ";", "\t", "|"):
            counts = [ln.count(d) for ln in head]
            if min(counts) >= 1 and len(set(counts)) == 1:
                return "csv"
    return "plain"


# serializer-facing extras carried as ONE sparse stringified map (see
# schema.ITEM_SCHEMA: ten mostly-null struct fields measurably halved
# extraction throughput); operators/export.clean_item restores types
_ITEM_EXTRA_KEYS = ("page_no", "_hlevel", "_marker", "_start", "_inline",
                    "_raw", "_cap_ref", "_table_caption", "num_rows",
                    "num_cols")


_ITEM_EXTRA_SET = frozenset(_ITEM_EXTRA_KEYS)


def _project_item(it: dict) -> dict:
    g = it.get
    out = {
        "item_idx": g("item_idx"), "parent_idx": g("parent_idx"),
        "label": g("label"), "level": g("level"), "text": g("text"),
        "content_layer": g("content_layer"), "span_start": g("span_start"),
        "span_end": g("span_end"), "code_language": g("code_language"),
        "extras": None,
    }
    if _ITEM_EXTRA_SET.intersection(it):  # rare: most items carry no extras
        extras = None
        for k in _ITEM_EXTRA_KEYS:  # fixed key order keeps hashes stable
            v = g(k)
            if v is not None:
                if extras is None:
                    extras = {}
                extras[k] = str(v)
        out["extras"] = extras
    return out


_EMPTY_METRICS = htmlx.make_metrics(0, pages_parsed=0, parse_score=0.0)


def _plain_result(text: str) -> tuple[str, list[dict], dict]:
    norm = normalize_plain(text)
    items = htmlx.new_items()
    if norm:
        items.append(
            dict(item_idx=1, parent_idx=0, label="text", level=1, text=norm,
                 content_layer="body", span_start=0, span_end=len(norm))
        )
    return htmlx.result(items, norm, parse_score=rate_text_quality(norm))


def _code_result(text: str) -> tuple[str, list[dict], dict]:
    """Tool-output blobs pass through newline-preserving as code items
    (html_backend.py:2740-2771 pre semantics)."""
    body = text.strip("\n").rstrip()
    items = htmlx.new_items()
    # span delimits the item TEXT inside extracted_text (the same
    # exactness _plain_result keeps): fences are rendering, not item
    items.append(
        dict(item_idx=1, parent_idx=0, label="code", level=1, text=body,
             content_layer="body", span_start=4, span_end=4 + len(body),
             code_language=htmlx.detect_code_language(body))
    )
    return htmlx.result(items, "```\n" + body + "\n```",
                        parse_score=rate_text_quality(body))


def _html_result(text: str) -> tuple[str, list[dict], dict]:
    extracted, items = htmlx.extract_html(text)
    n_body = sum(1 for it in items[1:] if it["content_layer"] == "body")
    n_all = max(len(items) - 1, 1)
    return htmlx.result(items, extracted,
                        boilerplate_ratio=1.0 - n_body / n_all)


class _Unavailable(Exception):
    """(module, message): a format whose reference backend delegates to
    an external runtime this engine does not ship — a contained
    dependency_error row."""


def _media(text: str):
    # the reference's ASR path needs ffmpeg + whisper
    # (asr_transcriber.py MISSING_FFMPEG_MESSAGE); absent runtimes are a
    # contained failure row — but the stream PROBE is real
    # (engine/audiox.py), so the error carries the technical metadata a
    # scheduler can route on
    from docling_spark.engine.audiox import probe_media

    try:
        blob = base64.b64decode(text, validate=False) \
            if not text.startswith(("RIFF", "fLaC", "OggS", "ID3")) \
            else text.encode("latin-1", "ignore")
    except Exception:
        blob = b""
    m = probe_media(blob)
    probe = ", ".join(
        f"{k}={m[k]}" for k in
        ("container", "codec", "duration_s", "sample_rate", "channels")
        if m.get(k) is not None
    )
    raise _Unavailable("asr", "ASR transcription requires an ffmpeg+whisper "
                              "runtime (reference delegates; not available "
                              "here); stream probe: "
                              + (probe or "unrecognized"))


def _legacy_office(payload):
    raise _Unavailable("routing", "legacy Office format requires a "
                                  "LibreOffice conversion step (reference "
                                  "delegates; not available here)")


def _pdf(raw: bytes, passwords: tuple[str, ...] = ()):
    # job-level password list (the reference's per-document
    # backend_options password, datamodel/backend_options.py); the
    # engine always tries the empty user password itself
    from docling_spark.engine import pdfx

    pw_list = ("",) + tuple(passwords)
    for pw_i, pw in enumerate(pw_list):
        try:
            return pdfx.extract_pdf(raw, password=pw)
        except pdfx.PdfError as exc:
            # exhaust by POSITION, not value: a duplicate or an early
            # password equal to the last entry must not abort the
            # retries before every password is tried
            if "password" not in str(exc) or pw_i == len(pw_list) - 1:
                raise


def _latex(text: str):
    from docling_spark.engine import latexx

    if "\\begin{document}" not in text and text.lstrip().startswith("UEsDB"):
        # base64 zip of an arXiv-style multi-file tex tree
        return latexx.extract_latex_archive(base64.b64decode(text))
    return latexx.extract_latex(text)


def _lazy(path: str, *args) -> Callable[[Any], tuple]:
    """Engine ``module.function`` imported on first call: a job touches
    a few formats, and importing every engine up front costs each Python
    worker process."""
    module, _, name = path.rpartition(".")

    def engine(payload):
        mod = importlib.import_module(f"docling_spark.engine.{module}")
        return getattr(mod, name)(payload, *args)
    return engine


# payload decodes: text formats travel as-is, binary formats base64 in
# the text column; some binary families also arrive raw (latin-1) and
# some XML formats also arrive as a base64 archive
def _text(text: str) -> str:
    return text


def _b64(text: str) -> bytes:
    return base64.b64decode(text)


def _raw_or_b64(magic: str) -> Callable[[str], bytes]:
    def decode(text: str) -> bytes:
        if text.startswith(magic):
            return text.encode("latin-1", "ignore")
        return base64.b64decode(text)
    return decode


def _xml_or_b64(text: str) -> bytes | str:
    return text if text.lstrip().startswith("<") else base64.b64decode(text)


class _Format(NamedTuple):
    aliases: tuple[str, ...]  # hint spellings besides the name itself
    decode: Callable[[str], Any]
    engine: Callable[[Any], tuple[str, list[dict], dict]]


_OLE = _raw_or_b64("\xd0\xcf")

# the one format table (the reference's format_to_options,
# document_converter.py:267-309): a new input format is one row
_FORMATS: dict[str, _Format] = {
    "html": _Format((), _text, _html_result),
    "md": _Format((), _text, mdx.extract_markdown),
    "csv": _Format((), _text, csvx.extract_csv),
    "pdfish": _Format((), _text, layoutx.extract_layout),
    "pdf": _Format((), _raw_or_b64("%PDF-"), _pdf),
    "code": _Format((), _text, _code_result),
    "vtt": _Format((), _text, vttx.extract_vtt),
    "email": _Format((), _text, emailx.extract_email),
    "asciidoc": _Format(("adoc",), _text, asciidocx.extract_asciidoc),
    "epub": _Format((), _b64, _lazy("epubx.extract_epub")),
    "docling_json": _Format((), _text, _lazy("jsonx.extract_docling_json")),
    "docx": _Format((), _b64, _lazy("docxx.extract_docx")),
    "deepseek": _Format((), _text, _lazy("deepseekx.extract_deepseek")),
    "xlsx": _Format((), _b64, _lazy("xlsxx.extract_xlsx")),
    "pptx": _Format((), _b64, _lazy("pptxx.extract_pptx")),
    "ebcdic": _Format((), _text, _lazy("ebcdicx.extract_ebcdic")),
    "boxnote": _Format((), _text, _lazy("boxnotex.extract_boxnote")),
    "jats": _Format((), _text, _lazy("jatsx.extract_jats")),
    "odt": _Format((), _b64, _lazy("odfx.extract_odf", "odt")),
    "ods": _Format((), _b64, _lazy("odfx.extract_odf", "ods")),
    "odp": _Format((), _b64, _lazy("odfx.extract_odf", "odp")),
    "uspto": _Format((), _text, _lazy("usptox.extract_uspto")),
    "latex": _Format((), _text, _latex),
    # a .dclx archive travels base64
    "doclang": _Format(("dclx",), _xml_or_b64,
                       _lazy("doclangx.extract_doclang")),
    "mets_gbs": _Format(("mets",), _b64, _lazy("metsx.extract_mets_gbs")),
    "chandra": _Format((), _text, _lazy("chandrax.extract_chandra")),
    "dots": _Format((), _text, _lazy("dotsx.extract_dots")),
    # an instance+taxonomy zip travels base64
    "xbrl": _Format((), _xml_or_b64, _lazy("xbrlx.extract_xbrl")),
    "image": _Format(("png", "jpg", "jpeg", "gif", "bmp", "webp", "tiff",
                      "tif", "ico"), _b64, _lazy("imagex.extract_image")),
    "glm_json": _Format(("glm",), _text, _lazy("glmx.extract_glm")),
    "doctags": _Format((), _text, _lazy("doctagsx.extract_doctags")),
    "docling_yaml": _Format(("yaml",), _text,
                            _lazy("jsonx.extract_docling_yaml")),
    "media": _Format(("audio", "video", "wav", "mp3", "flac", "ogg", "m4a",
                      "mp4", "mov", "avi", "aac", "asr"), _text, _media),
    # legacy Office binaries are parsed NATIVELY (engine/docbinx.py,
    # xlsbinx.py, pptbinx.py) — the reference needs a LibreOffice
    # subprocess for them
    "docbin": _Format(("doc", "dot"), _OLE, _lazy("docbinx.extract_doc")),
    "xlsbin": _Format(("xls", "xlt"), _OLE, _lazy("xlsbinx.extract_xls")),
    "pptbin": _Format(("ppt", "pot"), _OLE, _lazy("pptbinx.extract_ppt")),
    # other OLE2 containers (Visio, MSI, Publisher, …): the reference has
    # no backend either
    "legacy_office": _Format((), _text, _legacy_office),
    "plain": _Format((), _text, _plain_result),
}

KNOWN_FORMATS = tuple(_FORMATS)

# every accepted spelling → format name, wherever a format name is taken
# (the tool column AND the allowed-formats policy list)
FORMAT_HINTS = {alias: name for name, spec in _FORMATS.items()
                for alias in (name, *spec.aliases)}


def _result(status: str, fmt: str, errors: list[dict]) -> dict:
    """A result row with no content: a failure, a skip or a timeout."""
    return {
        "status": status,
        "format": fmt,
        "extracted_text": "",
        "items": [],
        "errors": errors,
        "metrics": dict(_EMPTY_METRICS),
    }


def extract_payload(
    text: str | None,
    tool: str = "",
    max_bytes: int = DEFAULT_MAX_BYTES,
    pdf_passwords: tuple[str, ...] = (),
    allowed_formats: frozenset[str] | set[str] | tuple[str, ...] | None = None,
) -> dict:
    """One turn in → one result dict out; never raises.

    Returns ``{status, format, extracted_text, items, errors, metrics}``.
    """
    if text is None:
        return _result(STATUS_FAILURE, "plain", [
            {"module": "input", "message": "null payload",
             "category": "input_error"}])
    # byte-size gate without the up-to-8MB encode on the hot path:
    # len(text) > max_bytes ⇒ over (≥1 byte/char); len*4 ≤ max_bytes ⇒
    # under (≤4 bytes/char); only the narrow band between needs the
    # real encode
    if len(text) > max_bytes or (
        len(text) * 4 > max_bytes
        and len(text.encode("utf-8", errors="replace")) > max_bytes
    ):
        return _result(STATUS_SKIPPED, "plain", [
            {"module": "limits",
             "message": f"payload exceeds {max_bytes} bytes",
             "category": "size_limit"}])
    _carry: dict = {}
    fmt = detect_format(text, tool, _carry)
    # the allow-list takes the same alias spellings the hint vocabulary
    # takes (--from adoc must allow what tool='adoc' detects as)
    if allowed_formats is not None and fmt not in {
            FORMAT_HINTS.get(a, a) for a in allowed_formats}:
        # allowed-format policy (document_converter.py:738-752): a
        # disallowed format is SKIPPED with a POLICY-category error —
        # never attempted, never a failure. The gate sits after format
        # detection and before any engine runs, mirroring the reference's
        # pre-pipeline check in _process_document.
        return _result(STATUS_SKIPPED, fmt, [
            {"module": "user_input",
             "message": f"File format not allowed: {fmt}",
             "category": "policy"}])
    spec = _FORMATS[fmt]
    try:
        # the OLE sniff may already hold the decoded bytes
        payload = _carry.get("raw") or spec.decode(text)
        if fmt == "pdf":  # the only engine that takes a job-level option
            extracted, items, metrics = _pdf(payload, pdf_passwords)
        else:
            extracted, items, metrics = spec.engine(payload)
    except _Unavailable as exc:
        module, message = exc.args
        return _result(STATUS_FAILURE, fmt, [
            {"module": module, "message": message,
             "category": "dependency_error"}])
    except Exception as exc:  # containment: ErrorItem row, not a task error
        return _result(STATUS_FAILURE, fmt, [
            {"module": f"engine.{fmt}", "message": str(exc)[:500],
             "category": "parse_error"}])
    errors: list[dict] = []
    status = STATUS_SUCCESS
    if metrics.get("parse_score", 1.0) == 0.0 and extracted:
        status = STATUS_PARTIAL
        errors.append({"module": f"engine.{fmt}",
                       "message": "low parse quality", "category": "quality"})
    return {
        "status": status,
        "format": fmt,
        "extracted_text": extracted,
        "items": [_project_item(it) for it in items],
        "errors": errors,
        "metrics": metrics,
    }
