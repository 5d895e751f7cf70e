"""HTTP job service — the control-plane analog of docling-serve's task
API, which the reference's ``docling convert-remote`` CLI drives
(docling/service_client/client.py: POST /v1/convert/source/async →
task_id, GET /v1/status/poll/<task_id>, GET /v1/result/<task_id>;
``task_status`` terminal values ``success``/``failure`` per
docling/service_client/job.py).

Stdlib-only (ThreadingHTTPServer) over ONE shared SparkSession: a POST
enqueues the payload batch, a single worker thread runs the same
Arrow-batched extraction kernel and export sinks as the table job and
the CLI, and clients poll status then fetch results. The single worker
keeps Spark scheduling deterministic and mirrors docling-serve's
default one-task-at-a-time engine loop.

Request body (JSON)::

    {"sources": [{"name": "a.html", "payload": "<h1>T</h1>",
                  "b64": false, "tool": "html"}, ...],
     "options": {"to_formats": ["md", "json"],
                 "from_formats": ["html"],          # optional allow-list
                 "pdf_passwords": ["1234"]}}        # optional

Result body matches the reference's ``ConvertDocumentResponse``
(docling/datamodel/service/responses.py:270-279) for single-source
tasks — a singular required ``document`` (``ExportDocumentResponse``
with ``filename`` + ``md_content``/``json_content``/... fields,
responses.py:64-71, ``json_content`` an OBJECT the client validates as
a DoclingDocument) plus required top-level ``status`` and
``processing_time`` — so the reference's ``convert-remote`` client can
parse it directly (client.py:413-440 ``_build_conversion_result``).
Multi-source tasks get the documented batch shape
``{"documents": [{"filename", "status", "errors", "<fmt>_content"...}],
"status", "processing_time", "num_converted", "num_succeeded",
"num_failed"}`` (counts per ``ConvertedOutcomeCountsMixin``,
responses.py:200-204).

Chunk tasks: POST ``/v1/chunk/{hybrid|hierarchical}/source/async``
(the reference client's chunk submission path, client.py:1288-1292)
with ``{"sources": [...], "convert_options": {...},
"chunking_options": {"max_tokens": N, "tokenizer_json": {...}},
"include_converted_doc": bool}``; the result is the reference's
``ChunkDocumentResponse`` shape (responses.py:308-311).
"""

from __future__ import annotations

import base64
import json
import queue
import threading
import time
import urllib.parse
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from docling_spark.jobs.convert import (
    CONTENT_FORMATS, check_formats, convert_batch,
)

TERMINAL = ("success", "failure")


class JobService:
    """Task store + single Spark worker. Start/stop from the host
    process (spark-submit driver or a test)."""

    # terminal tasks beyond this count are evicted oldest-first — the
    # mirrored docling-serve API also expires results; without a bound a
    # long-running service accumulates every request payload and result
    MAX_TERMINAL_TASKS = 100

    def __init__(self, spark):
        self.spark = spark
        self.tasks: dict[str, dict] = {}
        self._terminal_order: list[str] = []
        self._q: "queue.Queue[str]" = queue.Queue()
        self._lock = threading.Lock()
        self._worker = threading.Thread(target=self._run, daemon=True)
        self._stop = False
        self._worker.start()

    def submit(self, body: dict) -> str:
        task_id = uuid.uuid4().hex
        with self._lock:
            self.tasks[task_id] = {"task_status": "pending",
                                   "request": body, "result": None,
                                   "error": None}
        self._q.put(task_id)
        return task_id

    def status(self, task_id: str) -> dict | None:
        with self._lock:
            t = self.tasks.get(task_id)
            if t is None:
                return None
            return {"task_id": task_id, "task_status": t["task_status"]}

    def result(self, task_id: str) -> dict | None:
        with self._lock:
            t = self.tasks.get(task_id)
            if t is None or t["task_status"] not in TERMINAL:
                return None
            if t["task_status"] == "failure":
                return {"error": t["error"] or "conversion failed"}
            return t["result"]

    def shutdown(self):
        self._stop = True
        self._q.put("")  # unblock

    # ------------------------------------------------------------ worker

    def _run(self):
        while not self._stop:
            task_id = self._q.get()
            if not task_id:
                continue
            try:
                req = self.tasks[task_id]["request"]
                if req.get("_task_kind") == "chunk":
                    result = self._chunk(req)
                else:
                    result = self._convert(req)
                with self._lock:
                    self.tasks[task_id]["result"] = result
                    self.tasks[task_id]["task_status"] = "success"
            except Exception as exc:  # contained: one bad task, not the loop
                with self._lock:
                    self.tasks[task_id]["error"] = f"{type(exc).__name__}: {exc}"
                    self.tasks[task_id]["task_status"] = "failure"
            with self._lock:
                self.tasks[task_id]["request"] = None  # payload no longer needed
                self._terminal_order.append(task_id)
                while len(self._terminal_order) > self.MAX_TERMINAL_TASKS:
                    old = self._terminal_order.pop(0)
                    self.tasks.pop(old, None)

    def _sources_df(self, sources: list) -> tuple:
        """(source rows keyed by batch-index conv_id, names). conv_id =
        the batch INDEX, not the client-supplied name: two sources
        sharing a name would cross-multiply the per-format export
        joins."""
        if not sources:
            raise ValueError("no sources")
        rows = []
        names = []
        for i, s in enumerate(sources):
            payload = s.get("payload")
            if s.get("b64"):
                # travel base64 exactly like binary table payloads —
                # the engine's sniffers accept the b64 spelling natively
                payload = payload if isinstance(payload, str) else \
                    base64.b64encode(payload).decode("ascii")
            names.append(s.get("name") or f"doc_{i}")
            rows.append((str(i), 0, "user", payload,
                         s.get("tool") or ""))
        df = self.spark.createDataFrame(
            rows, "conv_id string, turn_idx int, role string, "
                  "text string, tool string")
        return df, names

    def _chunk(self, body: dict) -> dict:
        """Chunk-task twin of the reference's
        POST /v1/chunk/<kind>/source/async (client.py:1264-1292):
        convert the sources through the same kernel, then run the
        HybridChunker semantics (operators/chunker.py) over the item
        table. Result is the reference's ChunkDocumentResponse shape
        (responses.py:308-311): ``chunks`` =
        ChunkedDocumentResultItem records, ``documents`` = per-source
        export results when ``include_converted_doc``,
        ``processing_time``. kind 'hierarchical' = one chunk per item
        with heading context (no merge, no token budget); 'hybrid'
        adds the token-budget split/merge, with
        ``chunking_options.max_tokens`` and an optional inline
        ``chunking_options.tokenizer_json`` (HF tokenizer.json dict —
        counts then come from functions/bpe.py)."""
        t0 = time.monotonic()
        opts = body.get("convert_options") or {}
        copts = body.get("chunking_options") or {}
        allowed = opts.get("from_formats")
        df, names = self._sources_df(body.get("sources") or [])
        check_formats((), allowed)
        docs = convert_batch(
            df, names, ("md", "chunks"), allowed_formats=allowed,
            pdf_passwords=opts.get("pdf_passwords") or (),
            chunker=body.get("_chunker") or copts.get("chunker")
            or "hybrid",
            max_tokens=int(copts.get("max_tokens") or 128),
            tokenizer_json=copts.get("tokenizer_json"))
        documents = [
            {"kind": "ExportResult",
             "content": {"filename": name,
                         "md_content": d["md_content"]},
             "status": d["status"], "errors": []}
            for name, d in zip(names, docs)
        ] if body.get("include_converted_doc") else []
        return {"chunks": [c for d in docs for c in d["chunks"]],
                "documents": documents,
                "processing_time": time.monotonic() - t0}

    def _convert(self, body: dict) -> dict:
        t0 = time.monotonic()
        opts = body.get("options") or {}
        to_formats = opts.get("to_formats") or ["md"]
        allowed = opts.get("from_formats")
        df, names = self._sources_df(body.get("sources") or [])
        # validated exactly like the CLI's --to and --from
        check_formats(to_formats, allowed, CONTENT_FORMATS)
        docs = []
        for name, res in zip(names, convert_batch(
                df, names, to_formats, allowed_formats=allowed,
                pdf_passwords=opts.get("pdf_passwords") or ())):
            d = {"filename": name}
            for fmt in to_formats:
                content = res[f"{fmt}_content"]
                if fmt == "json" and content is not None:
                    # the client validates json_content as a
                    # DoclingDocument OBJECT, not a string
                    # (responses.py:67)
                    content = json.loads(content)
                d[f"{fmt}_content"] = content
            d["errors"] = [
                {"component_type": "document_backend",
                 "module_name": e["module"],
                 "error_message": e["message"]}
                for e in res["errors"]]
            d["status"] = res["status"]
            docs.append(d)
        elapsed = time.monotonic() - t0
        if len(docs) == 1:
            # reference-exact ConvertDocumentResponse: singular
            # `document`, flattened status/errors/processing_time
            doc = docs[0]
            errors = doc.pop("errors")
            return {"document": doc, "status": doc.pop("status"),
                    "errors": errors, "processing_time": elapsed}
        n_ok = sum(d["status"] == "success" for d in docs)
        return {"documents": docs,
                "status": ("success" if n_ok == len(docs)
                           else "failure" if n_ok == 0
                           else "partial_success"),
                "processing_time": elapsed,
                "num_converted": len(docs),
                "num_succeeded": n_ok,
                "num_failed": sum(d["status"] == "failure" for d in docs)}


def make_handler(service: JobService):
    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _send(self, code: int, payload: dict):
            data = json.dumps(payload).encode()
            self.send_response(code)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_POST(self):
            path = urllib.parse.urlsplit(self.path).path
            kind = None
            if path.startswith("/v1/chunk/") and \
                    path.endswith("/source/async"):
                # the reference client's chunk submission path:
                # /v1/chunk/<chunker>/source/async (client.py:1288-1292)
                kind = path.split("/")[3]
                if kind not in ("hybrid", "hierarchical"):
                    self._send(404, {"detail": f"unknown chunker "
                                               f"'{kind}'"})
                    return
            elif path != "/v1/convert/source/async":
                self._send(404, {"detail": "not found"})
                return
            try:
                n = int(self.headers.get("Content-Length") or 0)
                body = json.loads(self.rfile.read(n) or b"{}")
            except (ValueError, json.JSONDecodeError):
                self._send(400, {"detail": "invalid JSON body"})
                return
            if kind is not None:
                body["_task_kind"] = "chunk"
                body["_chunker"] = kind
            task_id = service.submit(body)
            self._send(200, {"task_id": task_id,
                             "task_status": "pending"})

        def do_GET(self):
            # the reference client polls GET /v1/status/poll/<id>?wait=<f>
            # (client.py:1324-1328) — the query string must not leak
            # into the task-id lookup
            path = urllib.parse.urlsplit(self.path).path
            if path == "/health":
                # HealthCheckResponse (responses.py:255-256), probed by
                # the reference client's health() (client.py:1136-1137)
                self._send(200, {"status": "ok"})
                return
            if path.startswith("/v1/status/poll/"):
                st = service.status(path.rsplit("/", 1)[1])
                if st is None:
                    self._send(404, {"detail": "unknown task"})
                else:
                    self._send(200, st)
                return
            if path.startswith("/v1/result/"):
                res = service.result(path.rsplit("/", 1)[1])
                if res is None:
                    self._send(404, {"detail": "task not finished"})
                else:
                    self._send(200, res)
                return
            self._send(404, {"detail": "not found"})

    return Handler


def serve(spark, host: str = "127.0.0.1", port: int = 0):
    """Returns (server, service); run ``server.serve_forever()`` (or in a
    thread) and ``server.server_address`` for the bound port."""
    service = JobService(spark)
    server = ThreadingHTTPServer((host, port), make_handler(service))
    return server, service


def main(argv=None) -> int:  # pragma: no cover — long-running entry
    import argparse

    from pyspark.sql import SparkSession

    p = argparse.ArgumentParser(description="docling-spark job service")
    p.add_argument("--host", default="127.0.0.1")
    p.add_argument("--port", type=int, default=5001)
    args = p.parse_args(argv)
    spark = (SparkSession.builder.appName("docling-spark-serve")
             .getOrCreate())
    server, _ = serve(spark, args.host, args.port)
    print(f"serving on {server.server_address}")
    server.serve_forever()
    return 0


if __name__ == "__main__":  # pragma: no cover
    raise SystemExit(main())
