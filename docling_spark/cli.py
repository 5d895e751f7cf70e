"""File-oriented CLI — the Spark twin of the reference's ``docling``
command (docling/cli/main.py:705-1224 ``convert``): convert local
document files and write one output file per (input, format).

    python -m docling_spark.cli convert SOURCES... \
        [--from FMT[,FMT...]] [--to md,text,json,yaml,doctags,itxt,html,\
html_split_page,doclang,dclx] [--output DIR] [--password PW]... \
        [--parallelism N] [--abort-on-error] [-v]

Spark-first even at file granularity: sources load as a ``binaryFile``
DataFrame (bytes stay executor-side; the driver never materializes
payloads), the text/base64 payload encoding happens inside the same
Arrow batch that feeds the extraction kernel the 10^12-turn table job
uses (operators/extract_ops.py), and serialization reuses the export
sinks (operators/export.py) — the CLI is a thin shell over the cluster
path, never a second engine. Output filenames mirror the reference's
export_documents (cli/export_utils.py): ``<stem>.<ext>`` in the output
directory, with colliding stems disambiguated by a numeric suffix.
"""

from __future__ import annotations

import argparse
import base64
import json
import pathlib
import sys
import urllib.parse

from docling_spark.jobs.convert import (
    OUTPUT_FORMATS, check_formats, convert_batch,
)

# html and html_split_page must not share one extension — the second
# write would silently clobber the first
_EXTENSIONS = {"md": "md", "text": "txt", "json": "json", "yaml": "yaml",
               "doctags": "doctags.txt", "itxt": "itxt", "html": "html",
               "html_split_page": "split.html", "doclang": "doclang",
               "dclx": "dclx", "vtt": "vtt",
               "chunks": "chunks.jsonl"}
# formats whose string transport is base64 of real bytes — decoded at
# the file boundary so the on-disk artifact is the actual archive
_B64_FORMATS = frozenset({"dclx"})
# seconds one service request may take on top of the ?wait= long poll
_HTTP_TIMEOUT_S = 30.0
# seconds a submitted task may stay pending or running before the client
# gives up on it
_TASK_DEADLINE_S = 3600.0


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(
        prog="docling-spark",
        description="Convert documents through the Spark-native engine")
    sub = p.add_subparsers(dest="command", required=True)

    def _common(c):
        c.add_argument("sources", nargs="+",
                       help="input files or directories (recursed)")
        c.add_argument("--from", dest="from_formats", default=None,
                       help="comma-separated allowed input formats; "
                            "detected formats outside the set become "
                            "SKIPPED results (the reference CLI's --from)")
        c.add_argument("--to", dest="to_formats", default="md",
                       help=f"comma-separated output formats "
                            f"({','.join(OUTPUT_FORMATS)}); default md")
        c.add_argument("--output", default=".",
                       help="output directory (created if missing)")
        c.add_argument("--password", action="append", default=[],
                       help="password to try for encrypted PDFs "
                            "(repeatable)")
        c.add_argument("-v", "--verbose", action="store_true")
        # --to chunks options (the reference's chunker_type /
        # chunk_max_tokens / chunk_tokenizer, cli/main.py:448-450);
        # shared — convert-remote routes them to the service's chunk
        # task endpoint
        c.add_argument("--chunker", default="hybrid",
                       choices=("hybrid", "hierarchical"),
                       help="chunker kind for --to chunks: hybrid "
                            "(token-budget split/merge) or hierarchical "
                            "(one chunk per item with heading context)")
        c.add_argument("--chunk-max-tokens", type=int, default=128,
                       help="HybridChunker token budget for --to chunks")
        c.add_argument("--chunk-tokenizer", default=None,
                       help="path to a HuggingFace tokenizer.json; "
                            "counts then come from the from-scratch "
                            "BPE/WordPiece encoder (functions/bpe.py) "
                            "for reference chunk-boundary parity "
                            "(default: whitespace)")

    c = sub.add_parser("convert", help="convert files to structured text")
    _common(c)
    c.add_argument("--parallelism", type=int, default=None,
                   help="Spark local[] core count (default: all cores)")
    c.add_argument("--abort-on-error", action="store_true",
                   help="exit non-zero if any document fails")

    # the reference's `docling convert-remote` twin
    # (docling/cli/remote.py:132): same sources/sinks, but the work runs
    # on a docling-spark job service over its task API
    r = sub.add_parser("convert-remote",
                       help="convert via a running docling-spark job "
                            "service (jobs/service.py task API)")
    _common(r)
    r.add_argument("--url", required=True,
                   help="service base URL, e.g. http://127.0.0.1:5001")
    r.add_argument("--poll-interval", type=float, default=0.5,
                   help="seconds between status polls (sent as ?wait=)")

    args = p.parse_args(argv)
    try:
        check_formats(args.to_formats.split(","),
                      args.from_formats.split(",") if args.from_formats
                      else None)
    except ValueError as exc:
        p.error(str(exc))
    return args


def _collect_files(sources: list[str]) -> list[pathlib.Path]:
    out: list[pathlib.Path] = []
    seen: set[str] = set()
    for s in sources:
        path = pathlib.Path(s)
        if path.is_dir():
            found = sorted(f for f in path.rglob("*") if f.is_file())
        elif path.is_file():
            found = [path]
        else:
            raise FileNotFoundError(s)
        for f in found:
            # dedupe resolved paths: the same file listed twice must
            # convert (and count) once, not fan out into a dup join
            key = str(f.resolve())
            if key not in seen:
                seen.add(key)
                out.append(f)
    return out


def _payload_of(data: bytes) -> str:
    """Files enter the engine exactly like table payloads: text stays
    text, binary travels base64 (the format sniffers accept both
    spellings for every binary family)."""
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        return base64.b64encode(data).decode("ascii")


def _sources_df(spark, files: list[pathlib.Path]):
    """binaryFile scan → the table-job row shape, keyed by the index of
    each file in ``files``. Payload encoding runs INSIDE the Arrow batch
    on executors — the driver holds paths only."""
    import pandas as pd

    raw = (
        spark.read.format("binaryFile")
        .load([str(f) for f in files])
        .select("path", "content")
    )
    # _collect_files dedupes resolved paths, so this map is 1:1
    index = {str(f.resolve()): str(i) for i, f in enumerate(files)}

    def encode(batches):
        for pdf in batches:
            ids = []
            texts = []
            tools = []
            for path, content in zip(pdf["path"], pdf["content"]):
                # binaryFile reports file: URIs — sometimes single-slash
                # 'file:/…' with percent-escapes; parse, don't slice
                if path.startswith("file:"):
                    parts = urllib.parse.urlsplit(path)
                    p = urllib.parse.unquote(parts.path)
                else:
                    p = path
                ids.append(index[str(pathlib.Path(p).resolve())])
                texts.append(_payload_of(bytes(content)))
                tools.append(pathlib.PurePath(p).suffix.lstrip(".").lower())
            yield pd.DataFrame({
                "conv_id": ids,
                "turn_idx": [0] * len(ids),
                "role": ["user"] * len(ids),
                "text": texts,
                "tool": tools,
            })

    df = raw.mapInPandas(
        encode,
        schema="conv_id string, turn_idx int, role string, "
               "text string, tool string")
    # one file per task: the kernel cost is per-document CPU, and a CLI
    # batch is small — the same pinned fan-out rationale as the table
    # job's salting
    return df.repartition(min(len(files),
                              spark.sparkContext.defaultParallelism))


def _out_path(out_dir: pathlib.Path, stem: str, ext: str,
              taken: set[str]) -> pathlib.Path:
    """Collision-safe target: report.pdf from two directories must not
    clobber each other's report.md."""
    name = f"{stem}.{ext}"
    k = 1
    while name in taken:
        k += 1
        name = f"{stem}_{k}.{ext}"
    taken.add(name)
    return out_dir / name


def _write_doc_outputs(doc: dict, out_dir: pathlib.Path,
                       to_formats: list[str], taken: set[str],
                       verbose: bool) -> str:
    """Materialize one result document's content fields and chunk
    records as files — the one sink for both the local and the remote
    convert paths. Returns the document's status."""
    status = doc.get("status")
    stem = pathlib.Path(doc.get("filename") or "document").stem
    errs = "; ".join(e.get("error_message") or e.get("message") or ""
                     for e in (doc.get("errors") or []))
    if verbose or status != "success":
        print(f"{status:8s} {doc.get('filename')}"
              + (f"  [{errs}]" if errs else ""))
    if status != "success":
        return status
    for fmt in to_formats:
        if fmt == "chunks":
            # one JSON record per line, file written even when a document
            # yields no chunks (reference behavior)
            content = "".join(json.dumps(r, ensure_ascii=False) + "\n"
                              for r in doc.get("chunks") or [])
        else:
            content = doc.get(f"{fmt}_content")
            if content is None:
                continue
        target = _out_path(out_dir, stem, _EXTENSIONS[fmt], taken)
        if fmt in _B64_FORMATS:
            # string transport is base64 of a real archive — the on-disk
            # artifact must be the bytes
            target.write_bytes(base64.b64decode(content))
        elif fmt == "json" and not isinstance(content, str):
            # remote json_content travels as a DoclingDocument OBJECT
            # (ExportDocumentResponse, responses.py:67)
            target.write_text(json.dumps(content, ensure_ascii=False,
                                         indent=2), encoding="utf-8")
        else:
            target.write_text(content, encoding="utf-8")
    return status


def _write_all(docs: list[dict], out_dir: pathlib.Path,
               to_formats: list[str], verbose: bool) -> int:
    """Write every document's files in source order, print the summary
    line and return the number of documents that did not succeed or
    skip."""
    taken: set[str] = set()
    statuses = [_write_doc_outputs(doc, out_dir, to_formats, taken,
                                   verbose) for doc in docs]
    n_ok = statuses.count("success")
    n_skip = statuses.count("skipped")
    n_fail = len(statuses) - n_ok - n_skip
    print(f"converted {n_ok} ok, {n_skip} skipped, {n_fail} failed "
          f"-> {out_dir}")
    return n_fail


def run_convert(args: argparse.Namespace, files: list[pathlib.Path],
                out_dir: pathlib.Path, to_formats: list[str]) -> int:
    from pyspark.sql import SparkSession

    cores = args.parallelism or "*"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("docling-spark-cli")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = convert_batch(
            _sources_df(spark, files), [f.stem for f in files], to_formats,
            allowed_formats=(args.from_formats.split(",")
                             if args.from_formats else None),
            pdf_passwords=args.password, chunker=args.chunker,
            max_tokens=args.chunk_max_tokens,
            tokenizer_json=args.chunk_tokenizer)
        n_fail = _write_all([doc | {"filename": str(f)}
                             for f, doc in zip(files, docs)],
                            out_dir, to_formats, args.verbose)
        return 1 if args.abort_on_error and n_fail else 0
    finally:
        spark.stop()


def _remote_task(base: str, path: str, body: dict, wait: float,
                 verbose: bool) -> "tuple[str, dict]":
    """Submit → ?wait= poll → fetch against a docling-spark service:
    (terminal task_status, result body). An unreachable or failing
    service, or a task not done within ``_TASK_DEADLINE_S``, is a
    ``failure`` whose body names the error."""
    import time
    import urllib.request

    timeout = _HTTP_TIMEOUT_S + wait
    try:
        req = urllib.request.Request(
            f"{base}{path}", data=json.dumps(body).encode(),
            headers={"Content-Type": "application/json"})
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            task_id = json.loads(resp.read())["task_id"]
        if verbose:
            print(f"task {task_id} submitted to {path}")
        deadline = time.monotonic() + _TASK_DEADLINE_S
        while True:
            poll = f"{base}/v1/status/poll/{task_id}?wait={wait}"
            with urllib.request.urlopen(poll, timeout=timeout) as resp:
                st = json.loads(resp.read())
            if st["task_status"] in ("success", "failure"):
                break
            if time.monotonic() >= deadline:
                return "failure", {
                    "error": f"task {task_id} still {st['task_status']} "
                             f"after {_TASK_DEADLINE_S:g} s"}
            time.sleep(wait)
        with urllib.request.urlopen(f"{base}/v1/result/{task_id}",
                                    timeout=timeout) as resp:
            return st["task_status"], json.loads(resp.read())
    except OSError as exc:  # URLError, HTTPError and socket timeouts
        return "failure", {"error": f"{base}{path}: {exc}"}


def run_convert_remote(args: argparse.Namespace, files: list[pathlib.Path],
                       out_dir: pathlib.Path, to_formats: list[str]) -> int:
    """The reference's ``convert-remote`` loop (service_client/client.py:
    submit → poll → fetch) as a thin stdlib client over our own service:
    POST /v1/convert/source/async (content formats) and/or
    POST /v1/chunk/<kind>/source/async (``--to chunks``), then the same
    file sink as local convert."""
    content_formats = [f for f in to_formats if f != "chunks"]
    base = args.url.rstrip("/")

    # binary payloads already travel base64; the b64 flag is for
    # raw-bytes senders only
    sources = [{"name": f.name, "payload": _payload_of(f.read_bytes()),
                "b64": False, "tool": f.suffix.lstrip(".").lower()}
               for f in files]
    options: dict = {}
    if args.from_formats:
        options["from_formats"] = args.from_formats.split(",")
    if args.password:
        options["pdf_passwords"] = args.password

    docs = [{"filename": f.name} for f in files]
    if content_formats:
        status, res = _remote_task(
            base, "/v1/convert/source/async",
            {"sources": sources,
             "options": {**options, "to_formats": content_formats}},
            args.poll_interval, args.verbose)
        if status == "failure":
            print(f"task failed: {res.get('error')}", file=sys.stderr)
            return 1
        if "document" in res:  # single-source ConvertDocumentResponse
            got = [res["document"] | {"errors": res.get("errors") or [],
                                      "status": res["status"]}]
        else:
            got = res.get("documents") or []
        for doc, d in zip(docs, got):
            doc.update(d)

    if "chunks" in to_formats:
        # route to the service's chunk task endpoint; a file-path
        # tokenizer embeds inline (the service takes tokenizer_json
        # as a dict)
        copts: dict = {"max_tokens": args.chunk_max_tokens}
        if args.chunk_tokenizer:
            with open(args.chunk_tokenizer, encoding="utf-8") as fh:
                copts["tokenizer_json"] = json.load(fh)
        # records carry only a filename, and two inputs may share one:
        # send "<index>:<name>" and map each record back by index
        status, res = _remote_task(
            base, f"/v1/chunk/{args.chunker}/source/async",
            {"sources": [s | {"name": f"{i}:{s['name']}"}
                         for i, s in enumerate(sources)],
             "convert_options": options, "chunking_options": copts,
             # the per-document status, when no convert task gave it
             "include_converted_doc": not content_formats},
            args.poll_interval, args.verbose)
        if status == "failure":
            print(f"chunk task failed: {res.get('error')}",
                  file=sys.stderr)
            return 1
        for doc in docs:
            doc["chunks"] = []
        for rec in res.get("chunks") or []:
            i, _, name = rec["filename"].partition(":")
            docs[int(i)]["chunks"].append(rec | {"filename": name})
        for doc, d in zip(docs, res.get("documents") or []):
            doc["status"] = d["status"]

    return 1 if _write_all(docs, out_dir, to_formats, args.verbose) else 0


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    files = _collect_files(args.sources)
    if not files:
        print("no input files", file=sys.stderr)
        return 2
    out_dir = pathlib.Path(args.output)
    out_dir.mkdir(parents=True, exist_ok=True)
    run = run_convert if args.command == "convert" else run_convert_remote
    return run(args, files, out_dir, args.to_formats.split(","))


if __name__ == "__main__":
    raise SystemExit(main())
