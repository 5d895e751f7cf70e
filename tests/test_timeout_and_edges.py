"""Operator edge cases: per-batch time budget → failure rows (never task
failures, base_pipeline.py:301-320 analog), empty inputs, null payloads."""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_spark.operators.extract_ops import extract_turns, with_turn_rank
from docling_spark.schema import TRANSCRIPTS_SCHEMA


def test_time_budget_produces_skipped_rows(spark):
    rows = [("c1", i, "user", None, "<h1>T</h1><p>body %d</p>" % i, "html")
            for i in range(50)]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp, "
              "text string, tool string"
    ).coalesce(1)
    out = extract_turns(df, timeout_s=0.0).collect()
    # budget 0 → every row still comes back; rows never attempted are
    # SKIPPED (not failed — a rerun must distinguish "never ran" from
    # "parsed and broke"), each carrying the timeout error record
    assert len(out) == 50
    cats = {e["category"] for r in out for e in r["errors"]}
    assert all(r["status"] == "skipped" for r in out)
    assert cats == {"timeout"}


def test_no_timeout_means_success(spark):
    rows = [("c1", 0, "user", None, "<h1>T</h1><p>b</p>", "html")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp, "
              "text string, tool string"
    )
    out = extract_turns(df, timeout_s=None).collect()
    assert out[0]["status"] == "success"


def test_empty_input(spark):
    df = spark.createDataFrame([], TRANSCRIPTS_SCHEMA)
    assert extract_turns(df).count() == 0
    assert with_turn_rank(extract_turns(df)).count() == 0


def test_null_payload_rows(spark):
    rows = [("c1", 0, "user", None, None, None),
            ("c1", 1, "user", None, "ok text", "")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp, "
              "text string, tool string"
    )
    got = {r["turn_idx"]: r for r in extract_turns(df).collect()}
    assert got[0]["status"] == "failure"
    assert got[0]["errors"][0]["category"] == "input_error"
    assert got[1]["status"] == "success"
    assert got[1]["extracted_text"] == "ok text"


def test_oversize_skip(spark):
    rows = [("c1", 0, "user", None, "x" * 1000, "")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp, "
              "text string, tool string"
    )
    out = extract_turns(df, max_bytes=100).collect()
    assert out[0]["status"] == "skipped"
    assert out[0]["errors"][0]["category"] == "size_limit"


def test_assemble_empty_and_single(spark):
    from docling_spark.operators.extract_ops import assemble_conversations

    df = spark.createDataFrame(
        [("c1", 0, "only turn", "success")],
        "conv_id string, turn_idx int, extracted_text string, status string",
    )
    out = assemble_conversations(df).collect()
    assert out[0]["conversation_text"] == "only turn"
    assert out[0]["n_turns"] == 1
    empty = spark.createDataFrame(
        [], "conv_id string, turn_idx int, extracted_text string, status string"
    )
    assert assemble_conversations(empty).count() == 0


def test_legacy_office_contained_failure():
    """Unrecognized OLE2 containers (Visio/MSI/…) route to a contained
    dependency-error row, mirroring the reference's LibreOffice-missing
    RuntimeError (backend/docx/drawingml/utils.py:79-120) — never a
    raise, never a misparse as plain text."""
    import base64

    from docling_spark.engine.extract import detect_format, extract_payload
    from docling_spark.engine.xlsbinx import synthesize_xls

    # fabricate a valid OLE2 file whose single stream is NOT a known
    # Office document: reuse the xls container writer and rename
    blob = bytearray(synthesize_xls("S", [["x", "y"], ["a", "b"]]))
    pos = blob.find("Workbook".encode("utf-16-le"))
    nm = "VisioDoc".encode("utf-16-le")
    blob[pos:pos + len(nm)] = nm
    b64 = base64.b64encode(bytes(blob)).decode()
    assert detect_format(b64, "") == "legacy_office"
    r = extract_payload(b64, "")
    assert r["status"] == "failure"
    assert r["format"] == "legacy_office"
    assert r["errors"][0]["category"] == "dependency_error"
    assert r["extracted_text"] == ""
    # .doc/.xls/.ppt now parse natively (docbinx/xlsbinx/pptbinx); junk
    # payloads are a contained parse failure, not a dependency error
    for hint, fmt in (("doc", "docbin"), ("dot", "docbin"),
                      ("xls", "xlsbin"), ("xlt", "xlsbin"),
                      ("ppt", "pptbin"), ("pot", "pptbin")):
        r = extract_payload("\xd0\xcfbinary junk", hint)
        assert r["status"] == "failure"
        assert r["format"] == fmt


def test_hostile_boundary_rows_survive_arrow(spark):
    """Lone surrogates, NUL bytes, and null text/tool columns must cross
    the Arrow boundary and come back as contained result rows — at scale
    one poisoned string that raises in serialization would fail the
    whole task, not one row."""
    rows = [
        ("c1", 0, "user", None, "\ud800 lone surrogate", "html"),
        ("c1", 1, "user", None, "ok \udfff tail", ""),
        ("c1", 2, "user", None, None, "html"),
        ("c1", 3, "user", None, "<p>fine</p>", None),
        ("c1", 4, "user", None, "\x00null byte\x00", ""),
        ("c1", 5, "user", None, "a" * 10, "\ud800"),
    ]
    df = spark.createDataFrame(
        rows, schema="conv_id string, turn_idx int, role string, "
                     "ts timestamp, text string, tool string")
    out = {r["turn_idx"]: r for r in extract_turns(df).collect()}
    assert len(out) == 6  # every input row yields exactly one result row
    assert out[2]["status"] in ("failure", "skipped") and out[2]["errors"]
    assert out[3]["status"] == "success"
    assert out[3]["extracted_text"] == "fine"
    for r in out.values():
        assert r["status"] in ("success", "partial_success",
                               "failure", "skipped")


def test_allowed_formats_policy_kernel():
    """document_converter.py:738-752: a detected format outside
    allowed_formats is SKIPPED with a POLICY error, never attempted."""
    from docling_spark.engine.extract import extract_payload

    ok = extract_payload("<h1>T</h1><p>b</p>", "html",
                         allowed_formats={"html"})
    assert ok["status"] == "success"

    rej = extract_payload("# Title\n\nbody", "md",
                          allowed_formats={"html"})
    assert rej["status"] == "skipped"
    assert rej["format"] == "md"
    assert rej["extracted_text"] == "" and rej["items"] == []
    assert [e["category"] for e in rej["errors"]] == ["policy"]
    assert "File format not allowed" in rej["errors"][0]["message"]

    # None (default) = everything allowed — behavior unchanged
    assert extract_payload("# Title\n\nbody", "md")["status"] == "success"


def test_allowed_formats_policy_operator(spark):
    rows = [("c1", 0, "user", None, "<h1>T</h1><p>b</p>", "html"),
            ("c1", 1, "user", None, "# Title\n\nbody", "md"),
            ("c1", 2, "user", None, "a,b\n1,2\n3,4", "csv")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp, "
              "text string, tool string"
    )
    out = {r["turn_idx"]: r for r in
           extract_turns(df, allowed_formats=("html", "csv")).collect()}
    assert out[0]["status"] == "success"
    assert out[2]["status"] == "success"
    assert out[1]["status"] == "skipped"
    assert [e["category"] for e in out[1]["errors"]] == ["policy"]


class TestDispatcherReviewFixes:
    def test_compact_docling_json_routes_correctly(self):
        """Compact serialization (separators=(',',':')) must still sniff
        as docling_json — the ': ' substring anchor used to miss it and
        the prov bbox keys then misrouted it to pdfish (failure row)."""
        import json

        from docling_spark.engine.extract import detect_format

        doc = {"schema_name": "DoclingDocument", "version": "1.0.0",
               "name": "t", "body": {"children": []}, "texts": [],
               "groups": [], "tables": [], "pictures": [],
               "furniture": {"children": []}}
        assert detect_format(json.dumps(doc, separators=(",", ":"))) \
            == "docling_json"

    def test_deep_bbox_json_not_pdfish(self):
        from docling_spark.engine.extract import detect_format

        blob = '{"a":1, "pad": "' + "x" * 5000 + '", "bbox": [1]}'
        assert detect_format(blob) != "pdfish"

    def test_allowed_formats_accepts_hint_aliases(self):
        from docling_spark.engine.extract import extract_payload

        r = extract_payload("= Title\n\n== Section\n\nbody", "adoc",
                            allowed_formats=("adoc",))
        assert r["status"] == "success"

    def test_known_formats_covers_every_detected_format(self):
        from docling_spark.engine.extract import (
            _FORMATS, KNOWN_FORMATS, detect_format, extract_payload,
        )

        assert KNOWN_FORMATS == tuple(_FORMATS)
        for name, spec in _FORMATS.items():
            for hint in (name, *spec.aliases):
                assert detect_format("x", hint) == name, hint
                res = extract_payload("x", hint)
                assert res["format"] == name, hint
                assert res["status"] in ("success", "partial_success",
                                         "failure"), hint
        probes = ["%PDF-1.4 x", "0M8R4KGxGARBAGE###not-base64"]
        for p in probes:
            assert detect_format(p) in KNOWN_FORMATS, p

    def test_code_span_delimits_body_not_fences(self):
        from docling_spark.engine.extract import extract_payload

        r = extract_payload("print('x')", "code")
        it = r["items"][1]
        assert r["extracted_text"][it["span_start"]:it["span_end"]] \
            == it["text"]

    def test_size_gate_band_equivalence(self):
        """The encode-avoiding fast paths must agree with the exact
        byte-length gate on ASCII, multibyte, and boundary payloads."""
        from docling_spark.engine.extract import extract_payload

        # ASCII over limit via len(text) alone
        r = extract_payload("a" * 2_000_001, "", max_bytes=2_000_000)
        assert r["status"] == "skipped"
        # multibyte text in the narrow band: 700k chars x 3 bytes > 2MB
        r = extract_payload("中" * 700_000, "", max_bytes=2_000_000)
        assert r["status"] == "skipped"
        # multibyte under the limit
        r = extract_payload("中" * 100, "plain", max_bytes=2_000_000)
        assert r["status"] == "success"
