"""CLI (docling_spark/cli.py): the file-oriented twin of the reference's
``docling`` command — one output file per (input, format), through the
same extraction kernel and export sinks as the table job."""

from __future__ import annotations

import pathlib

import pytest

REF = pathlib.Path("/root/reference/tests/data")

pytestmark = pytest.mark.requires_reference(REF)


def test_parse_args_rejects_unknown_format():
    from docling_spark.cli import parse_args

    with pytest.raises(SystemExit):
        parse_args(["convert", "x.html", "--to", "md,bogus"])


def test_collect_files_recurses_and_errors():
    from docling_spark.cli import _collect_files

    got = _collect_files([str(REF / "html" / "sources")])
    assert any(p.name == "example_02.html" for p in got)
    with pytest.raises(FileNotFoundError):
        _collect_files(["/no/such/path"])


def test_convert_end_to_end(tmp_path, spark):
    """Real files through the full CLI path (reusing the session fixture
    keeps this off a second JVM): groundtruth-exact md for the HTML and
    DOCX inputs, item sinks emitted, summary exit code 0."""
    import docling_spark.cli as cli

    # reuse the test session instead of letting the CLI build its own
    real_stop = spark.stop
    spark.stop = lambda: None
    try:
        rc = cli.main([
            "convert",
            str(REF / "html" / "sources" / "example_02.html"),
            str(REF / "docx" / "sources" / "word_sample.docx"),
            "--to", "md,json,doctags",
            "--output", str(tmp_path),
        ])
    finally:
        spark.stop = real_stop
    assert rc == 0
    md = (tmp_path / "example_02.md").read_text()
    gt = (REF / "html" / "groundtruth" / "example_02.html.md").read_text()
    assert md.strip() == gt.strip()
    md2 = (tmp_path / "word_sample.md").read_text()
    gt2 = (REF / "docx" / "groundtruth" / "word_sample.docx.md").read_text()
    assert md2.strip() == gt2.strip()
    assert (tmp_path / "example_02.json").exists()
    assert (tmp_path / "word_sample.doctags.txt").exists()


def test_convert_from_policy_and_abort(tmp_path, spark):
    """--from gates formats into SKIPPED; --abort-on-error returns
    non-zero when a document fails."""
    import docling_spark.cli as cli

    bad = tmp_path / "broken.pdf"
    bad.write_bytes(b"%PDF-1.4\ngarbage with no objects at all")
    real_stop = spark.stop
    spark.stop = lambda: None
    try:
        rc = cli.main([
            "convert", str(REF / "html" / "sources" / "example_02.html"),
            "--from", "pdf", "--to", "md",
            "--output", str(tmp_path / "out1"),
        ])
        assert rc == 0  # skipped is not an error
        assert not (tmp_path / "out1" / "example_02.md").exists()

        rc = cli.main([
            "convert", str(bad), "--to", "md", "--abort-on-error",
            "--output", str(tmp_path / "out2"),
        ])
        assert rc == 1
    finally:
        spark.stop = real_stop


def test_convert_remote_roundtrip(tmp_path, spark):
    """Both ends of our own protocol: `convert-remote` submits real
    files to a live jobs/service.py over HTTP (POST async → ?wait=
    poll → result), then writes the same artifacts `convert` writes —
    the reference's client.py submit/poll/fetch loop in miniature."""
    import threading

    import docling_spark.cli as cli
    from docling_spark.jobs.service import serve

    server, service = serve(spark)
    host, port = server.server_address
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        rc = cli.main([
            "convert-remote",
            str(REF / "html" / "sources" / "example_02.html"),
            str(REF / "docx" / "sources" / "word_sample.docx"),
            "--url", f"http://{host}:{port}",
            "--to", "md,json",
            "--output", str(tmp_path),
        ])
        assert rc == 0
        md = (tmp_path / "example_02.md").read_text()
        gt = (REF / "html" / "groundtruth" /
              "example_02.html.md").read_text()
        assert md.strip() == gt.strip()
        assert (tmp_path / "word_sample.json").exists()

        # single source exercises the ConvertDocumentResponse branch
        rc = cli.main([
            "convert-remote",
            str(REF / "html" / "sources" / "example_02.html"),
            "--url", f"http://{host}:{port}",
            "--to", "md", "--output", str(tmp_path / "solo"),
        ])
        assert rc == 0
        assert (tmp_path / "solo" / "example_02.md").read_text().strip() \
            == gt.strip()
    finally:
        server.shutdown()
        service.shutdown()


def test_convert_chunks_sink(tmp_path, spark):
    """--to chunks writes the reference CLI's chunked-JSONL records
    (cli/main.py:596-640): per-chunk contextualized text, raw_text,
    num_tokens, headings, and item provenance refs — with counts from a
    supplied tokenizer.json driving the boundaries."""
    import json

    import docling_spark.cli as cli
    from docling_spark.functions.bpe import Tokenizer

    src = tmp_path / "doc.html"
    src.write_text("<h1>hello</h1><p>world world world</p>")
    tok_path = pathlib.Path(__file__).parent / "fixtures" / \
        "tokenizer_bpe.json"
    real_stop = spark.stop
    spark.stop = lambda: None
    try:
        rc = cli.main([
            "convert", str(src), "--to", "md,chunks",
            "--chunk-max-tokens", "7",
            "--chunk-tokenizer", str(tok_path),
            "--output", str(tmp_path / "out"),
        ])
    finally:
        spark.stop = real_stop
    assert rc == 0
    lines = (tmp_path / "out" / "doc.chunks.jsonl").read_text() \
        .strip().splitlines()
    recs = [json.loads(ln) for ln in lines]
    # fixture-BPE boundaries: 'world world' then 'world' (test_bpe.py)
    assert [r["raw_text"] for r in recs] == ["world world", "world"]
    assert recs[0]["filename"] == "doc"
    assert recs[0]["headings"] == ["hello"]
    assert recs[0]["text"] == "hello\nworld world"
    assert recs[0]["doc_items"] and recs[0]["doc_items"][0] \
        .startswith("#/items/")
    tok = Tokenizer.from_file(str(tok_path))
    for r in recs:
        assert r["num_tokens"] == tok.count(r["text"])


def test_convert_chunks_hierarchical(tmp_path, spark):
    """--chunker hierarchical = one chunk per item with heading context,
    never merged or split (the reference's HierarchicalChunker kind)."""
    import json

    import docling_spark.cli as cli

    src = tmp_path / "doc.html"
    src.write_text("<h1>H</h1><p>one two three</p><p>four five</p>")
    real_stop = spark.stop
    spark.stop = lambda: None
    try:
        rc = cli.main([
            "convert", str(src), "--to", "chunks",
            "--chunker", "hierarchical",
            "--output", str(tmp_path / "out"),
        ])
    finally:
        spark.stop = real_stop
    assert rc == 0
    recs = [json.loads(ln) for ln in
            (tmp_path / "out" / "doc.chunks.jsonl").read_text()
            .strip().splitlines()]
    assert [r["raw_text"] for r in recs] == ["one two three",
                                             "four five"]
    assert all(r["headings"] == ["H"] for r in recs)


def test_convert_remote_chunks(tmp_path, spark):
    """--to chunks over the wire: convert-remote routes through the
    service's chunk task endpoint and writes the same chunks.jsonl the
    local sink writes."""
    import json
    import threading

    import docling_spark.cli as cli
    from docling_spark.jobs.service import serve

    src = tmp_path / "doc.html"
    src.write_text("<h1>Head</h1><p>one two three</p><p>four five</p>")
    server, service = serve(spark)
    host, port = server.server_address
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        rc = cli.main([
            "convert-remote", str(src),
            "--url", f"http://{host}:{port}",
            "--to", "md,chunks", "--chunk-max-tokens", "5",
            "--output", str(tmp_path / "out"),
        ])
        assert rc == 0
        assert (tmp_path / "out" / "doc.md").read_text() \
            == "# Head\n\none two three\n\nfour five"
        recs = [json.loads(ln) for ln in
                (tmp_path / "out" / "doc.chunks.jsonl").read_text()
                .strip().splitlines()]
        assert [r["raw_text"] for r in recs] == ["one two three",
                                                 "four five"]
        assert recs[0]["headings"] == ["Head"]
    finally:
        server.shutdown()
        service.shutdown()
