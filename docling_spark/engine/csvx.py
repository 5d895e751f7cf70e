"""CSV payload → single table item.

Re-expression of the reference CSV backend (docling/backend/csv_backend.py:
53-135): dialect sniffing over the candidate delimiters ``,;\\t|:``
(csv_backend.py:59-73), first row treated as the column header, ragged rows
padded/validated (csv_backend.py:85-99), one TableItem for the whole
document (csv_backend.py:113-129).
"""

from __future__ import annotations

import csv
import io

from docling_spark.engine.htmlx import new_items, result
from docling_spark.functions.textnorm import clean_unicode

DELIMITERS = [",", ";", "\t", "|", ":"]


class CsvError(ValueError):
    pass


def sniff_delimiter(head: str) -> str:
    """Pick the candidate delimiter with the highest consistent per-line
    count (csv.Sniffer analog restricted to the reference's candidate set)."""
    lines = [ln for ln in head.splitlines() if ln.strip()][:10]
    if not lines:
        return ","
    best, best_score = ",", -1.0
    for d in DELIMITERS:
        counts = [ln.count(d) for ln in lines]
        if min(counts) == 0:
            continue
        consistency = 1.0 if len(set(counts)) == 1 else 0.5
        score = consistency * (sum(counts) / len(counts))
        if score > best_score:
            best, best_score = d, score
    return best


def extract_csv(payload: str) -> tuple[str, list[dict], dict]:
    """payload → (extracted_text, items, metrics): header + rows become a
    markdown pipe grid; ragged rows are padded to the max width."""
    if not payload.strip():
        raise CsvError("empty CSV payload")
    delim = sniff_delimiter(payload)
    rows = list(csv.reader(io.StringIO(payload), delimiter=delim))
    rows = [r for r in rows if any(c.strip() for c in r)]
    if not rows:
        raise CsvError("no data rows")
    ncols = max(len(r) for r in rows)
    # cell text passes through verbatim (tabs inside quoted cells survive,
    # per csv-tab.csv groundtruth) except: markdown-structural pipes become
    # &#124; and newlines flatten to spaces (the docling-core md table
    # serializer's escape rules, pinned by csv-pipe.csv groundtruth)
    grid = [
        [clean_unicode(c.replace("\r\n", " ").replace("\n", " ")
                       .replace("|", "&#124;").strip())
         for c in r] + [""] * (ncols - len(r))
        for r in rows
    ]
    md_lines = []
    for ri, r in enumerate(grid):
        md_lines.append("| " + " | ".join(r) + " |")
        if ri == 0:
            md_lines.append("| " + " | ".join("-" for _ in r) + " |")
    text = "\n".join(md_lines)
    items = new_items()
    items.append(dict(item_idx=1, parent_idx=0, label="table", level=1,
                      text=text, content_layer="body", span_start=0,
                      span_end=len(text)))
    return result(items, text)
