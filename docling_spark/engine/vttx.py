"""WebVTT extraction: cue transcripts → reading-ordered text items.

Re-expression of the reference's WebVTT backend
(docling/backend/webvtt_backend.py:101-209): cues become text items (one
per payload LINE — each cue line is its own paragraph in the md export),
voice tags (`<v Name>`) carry the speaker and are stripped from text,
formatting tags (i/b/u, with optional classes) split a line into runs; a
line with more than one run becomes an ``inline`` group whose children are
the runs (matching the reference's "WebVTT cue span" groups, see
tests/data/webvtt/groundtruth/*.itxt).

Markdown serialization (the per-turn text-equality surface, pinned by
tests/data/webvtt/groundtruth/*.md):
- runs serialize as ``*text*`` (italic), ``**text**`` (bold),
  ``***text***`` (both); underline has no md mark;
- runs of a group join with a single space; paragraphs join with a blank
  line. Cue text is NOT unicode-normalized (the reference keeps curly
  quotes in vtt md output — unlike the HTML path).

This is the closest reference analog of the transcripts data model:
cue ≈ turn, voice ≈ role, timings ≈ ts (SURVEY.md §2.a).

Pure Python; runs inside the extraction pandas UDF.
"""

from __future__ import annotations

import re

from docling_spark.engine.htmlx import new_items, result

_TS_RE = re.compile(
    r"(?:(\d+):)?(\d{2}):(\d{2})[.,](\d{3})"
)
_TIMING_RE = re.compile(
    r"^\s*((?:\d+:)?\d{2}:\d{2}[.,]\d{3})\s+-->\s+((?:\d+:)?\d{2}:\d{2}[.,]\d{3})(.*)$"
)
_TAG_RE = re.compile(r"<[^>]*>")
_VOICE_RE = re.compile(r"^v(?:\.[^ >]*)?\s+(.*)$", re.S)

_ENTITIES = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">",
    "&lrm;": "‎", "&rlm;": "‏", "&nbsp;": " ",
}


class VttError(ValueError):
    pass


def _unescape(text: str) -> str:
    for k, v in _ENTITIES.items():
        text = text.replace(k, v)
    return text


def parse_timestamp(ts: str) -> float:
    """``[hh:]mm:ss.mmm`` → seconds (webvtt_backend.py:164-169)."""
    m = _TS_RE.fullmatch(ts.strip())
    if not m:
        raise VttError(f"bad timestamp: {ts!r}")
    h = int(m.group(1) or 0)
    return h * 3600 + int(m.group(2)) * 60 + int(m.group(3)) + int(m.group(4)) / 1000.0


def _line_runs(line: str) -> tuple[str | None, list[tuple[str, frozenset]]]:
    """One cue payload line → (speaker, [(run_text, formats)]).

    Every tag is a run boundary; i/b/u (with dotted classes) toggle the
    format set; v captures the speaker; other tags (lang, c, ruby, rt)
    are transparent. Empty runs are dropped, whitespace runs kept
    (groundtruth keeps the ``" "`` run between ``</v>`` and ``<i>``).
    """
    runs: list[tuple[str, frozenset]] = []
    speaker: str | None = None
    stack: list[str] = []
    pos = 0
    for m in _TAG_RE.finditer(line):
        chunk = line[pos:m.start()]
        if chunk:
            runs.append((_unescape(chunk), frozenset(stack)))
        pos = m.end()
        tag = m.group(0)[1:-1].strip()
        if tag.startswith("/"):
            name = tag[1:].split(".")[0].split(" ")[0].lower()
            if name in ("i", "b", "u") and name in stack:
                # close the innermost matching format
                for k in range(len(stack) - 1, -1, -1):
                    if stack[k] == name:
                        del stack[k]
                        break
        else:
            vm = _VOICE_RE.match(tag)
            if vm:
                speaker = vm.group(1).strip()
                continue
            name = tag.split(".")[0].split(" ")[0].lower()
            if name in ("i", "b", "u"):
                stack.append(name)
    tail = line[pos:]
    if tail:
        runs.append((_unescape(tail), frozenset(stack)))
    return speaker, runs


def _md_run(text: str, formats: frozenset) -> str:
    mark = ""
    if "i" in formats:
        mark += "*"
    if "b" in formats:
        mark += "**"
    return f"{mark}{text}{mark}" if mark else text


def parse_cues(payload: str) -> list[dict]:
    """WEBVTT payload → cues ``{start, end, identifier, speaker, lines}``
    where each line is a list of (run_text, formats) tuples.

    NOTE/STYLE/REGION blocks are skipped; an optional cue identifier line
    may precede the timing line.
    """
    text = payload.lstrip("﻿")
    lines = text.split("\n")
    if not lines or not lines[0].strip().startswith("WEBVTT"):
        raise VttError("missing WEBVTT header")
    # split into blank-line-separated blocks
    blocks: list[list[str]] = [[]]
    for ln in lines[1:]:
        if ln.strip() == "":
            if blocks[-1]:
                blocks.append([])
        else:
            blocks[-1].append(ln.rstrip("\r"))
    cues: list[dict] = []
    for block in blocks:
        if not block:
            continue
        first = block[0].strip()
        if first.startswith(("NOTE", "STYLE", "REGION")):
            continue
        identifier = None
        idx = 0
        if "-->" not in block[0]:
            identifier = block[0].strip()
            idx = 1
            if idx >= len(block):
                continue
        tm = _TIMING_RE.match(block[idx])
        if not tm:
            raise VttError(f"bad cue timing line: {block[idx]!r}")
        start = parse_timestamp(tm.group(1))
        end = parse_timestamp(tm.group(2))
        speaker = None
        cue_lines = []
        for raw in block[idx + 1:]:
            sp, runs = _line_runs(raw)
            if sp is not None:
                speaker = sp
            cue_lines.append(runs)
        cues.append(
            {
                "start": start,
                "end": end,
                "identifier": identifier,
                "speaker": speaker,
                "lines": cue_lines,
            }
        )
    return cues


def extract_vtt(payload: str) -> tuple[str, list[dict], dict]:
    """vtt payload → (markdown_text, items, metrics) in the engine's flat
    item schema. Single-run lines are ``text`` items; multi-run lines are
    ``inline`` group items with one child per run."""
    cues = parse_cues(payload)
    items = new_items()
    paragraphs: list[str] = []
    pos = 0

    def _append(label: str, level: int, parent: int, text: str,
                span: tuple[int, int] | None) -> int:
        idx = len(items)
        items.append(
            dict(item_idx=idx, parent_idx=parent, label=label, level=level,
                 text=text, content_layer="body",
                 span_start=span[0] if span else -1,
                 span_end=span[1] if span else -1)
        )
        return idx

    for cue in cues:
        for runs in cue["lines"]:
            if not runs:
                continue
            md = " ".join(_md_run(t, f) for t, f in runs)
            if paragraphs:
                pos += 2
            span = (pos, pos + len(md))
            pos = span[1]
            paragraphs.append(md)
            if len(runs) == 1:
                _append("text", 1, 0, runs[0][0], span)
            else:
                gid = _append("inline", 1, 0, "WebVTT cue span", span)
                for t, _f in runs:
                    _append("text", 2, gid, t, None)

    return result(items, "\n\n".join(paragraphs))
