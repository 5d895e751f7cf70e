"""The convert core shared by the CLI and the job service
(jobs/convert.py), driven end to end through both CLI commands with
in-repo inputs."""

from __future__ import annotations

import json
import socket
import subprocess
import sys
import threading

import pytest


@pytest.fixture
def kept_spark(spark):
    """The session fixture, shielded from the CLI's spark.stop()."""
    real_stop = spark.stop
    spark.stop = lambda: None
    yield spark
    spark.stop = real_stop


def _chunk_texts(path) -> list[str]:
    return [json.loads(ln)["raw_text"]
            for ln in path.read_text().splitlines()]


def test_same_named_inputs_keep_their_own_chunks(tmp_path, kept_spark):
    """Two inputs named doc.html in different directories: through both
    `convert` and `convert-remote`, each .chunks.jsonl holds only its own
    document's chunks."""
    import docling_spark.cli as cli
    from docling_spark.jobs.service import serve

    a = tmp_path / "a" / "doc.html"
    b = tmp_path / "b" / "doc.html"
    a.parent.mkdir()
    b.parent.mkdir()
    a.write_text("<h1>Alpha</h1><p>alpha one</p><p>alpha two</p>")
    b.write_text("<h1>Beta</h1><p>beta one</p>")
    server, service = serve(kept_spark)
    host, port = server.server_address
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        for command, extra in (
                ("convert", []),
                ("convert-remote", ["--url", f"http://{host}:{port}"])):
            out = tmp_path / command
            rc = cli.main([command, str(a), str(b), "--to", "md,chunks",
                           "--chunker", "hierarchical",
                           "--output", str(out), *extra])
            assert rc == 0, command
            assert (out / "doc.md").read_text().startswith("# Alpha")
            assert (out / "doc_2.md").read_text().startswith("# Beta")
            assert _chunk_texts(out / "doc.chunks.jsonl") == [
                "alpha one", "alpha two"], command
            assert _chunk_texts(out / "doc_2.chunks.jsonl") == [
                "beta one"], command
            recs = [json.loads(ln) for ln in
                    (out / "doc.chunks.jsonl").read_text().splitlines()]
            assert {r["filename"] for r in recs} == (
                {"doc"} if command == "convert" else {"doc.html"})
    finally:
        server.shutdown()
        service.shutdown()


def test_convert_remote_unreachable_service(tmp_path):
    """A closed port is one stderr line and exit code 1, no traceback."""
    src = tmp_path / "doc.html"
    src.write_text("<h1>T</h1>")
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        port = s.getsockname()[1]
    proc = subprocess.run(
        [sys.executable, "-m", "docling_spark.cli", "convert-remote",
         str(src), "--url", f"http://127.0.0.1:{port}",
         "--output", str(tmp_path / "out")],
        capture_output=True, text=True, timeout=120)
    assert proc.returncode == 1
    assert "Traceback" not in proc.stderr
    assert len(proc.stderr.strip().splitlines()) == 1


def test_convert_remote_gives_up_on_a_task_that_stays_pending(
        tmp_path, monkeypatch, capsys):
    """A service that reports the task pending forever hits the client's
    task deadline: one stderr line naming the task, exit code 1, no
    traceback."""
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    import docling_spark.cli as cli

    class Pending(BaseHTTPRequestHandler):
        def _json(self, body: dict) -> None:
            data = json.dumps(body).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):
            self.rfile.read(int(self.headers["Content-Length"]))
            self._json({"task_id": "stuck-task-7"})

        def do_GET(self):
            self._json({"task_id": "stuck-task-7",
                        "task_status": "pending"})

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Pending)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    monkeypatch.setattr(cli, "_TASK_DEADLINE_S", 0.3)
    src = tmp_path / "doc.html"
    src.write_text("<h1>T</h1>")
    try:
        code = cli.main(["convert-remote", str(src),
                         "--url", f"http://127.0.0.1:{server.server_port}",
                         "--poll-interval", "0.05",
                         "--output", str(tmp_path / "out")])
    finally:
        server.shutdown()
    err = capsys.readouterr().err
    assert code == 1
    assert "Traceback" not in err
    assert len(err.strip().splitlines()) == 1
    assert "stuck-task-7" in err
