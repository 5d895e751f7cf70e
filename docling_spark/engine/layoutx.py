"""Pseudo-PDF layout parsing: geometry cells → reading-ordered items.

Re-expression of the reference's rule-based PDF layout path over structured
``pdfish`` payloads (JSON lines of ``{page_no, bbox:[l,t,r,b], text, conf,
label}`` cells — FIXTURES.md §2), porting the *rules* of:

- confidence-threshold + empty-cluster filtering
  (docling/utils/layout_postprocessor.py:172-190, 259-284)
- overlap dedup keeping the better cluster (layout_postprocessor.py:505-560)
- reading-order reconstruction: column detection then top-to-bottom
  (docling/models/stages/reading_order/readingorder_model.py:44-79)
- cross-line hyphenation merge (readingorder_model.py:589-621 via
  sanitize_lines, page_assemble_model.py:112-157)
- garbage-cell scoring (page_preprocessing_model.py:126-151)
- full-page-picture filtering: PICTURE covering >90% of the page drops
  (layout_postprocessor.py:328-337); declared page box or content extent
- selectable cluster sort modes id/tblr/lrtb
  (layout_postprocessor.py:675-701)
- header/footer furniture labeling (ContentLayer semantics)
- table grid reconstruction from cell geometry (docling table structure
  assembly, re-expressed from bbox clustering)

Pure Python; runs inside the extraction pandas UDF.
"""

from __future__ import annotations

import json
import math
import re

from docling_spark.engine.htmlx import new_items, result
from docling_spark.functions.textnorm import (
    fix_stx,
    rate_text_quality,
    sanitize_lines,
)

# per-label confidence thresholds (layout_postprocessor.py:172-190 analog)
CONF_THRESHOLDS: dict[str, float] = {
    "title": 0.40,
    "section_header": 0.45,
    "text": 0.50,
    "list_item": 0.50,
    "table_cell": 0.50,
    "page_header": 0.50,
    "page_footer": 0.50,
    "caption": 0.50,
    "formula": 0.30,
}
DEFAULT_CONF_THRESHOLD = 0.50

FURNITURE_LABELS = frozenset(["page_header", "page_footer"])


# a '}' followed by ',' then '{' (any whitespace) is the only way one
# physical line can contribute two top-level OBJECT elements to the
# fast-path array parse — see parse_payload
_MULTI_OBJ_RE = re.compile(r"\}\s*,\s*\{")


class LayoutError(ValueError):
    pass


def _iou_over_self(a: tuple, b: tuple) -> float:
    """intersection area / area(a) — layout_postprocessor.py:602-634 metric."""
    il = max(a[0], b[0])
    it = max(a[1], b[1])
    ir = min(a[2], b[2])
    ib = min(a[3], b[3])
    if ir <= il or ib <= it:
        return 0.0
    inter = (ir - il) * (ib - it)
    area = max((a[2] - a[0]) * (a[3] - a[1]), 1e-9)
    return inter / area


def parse_payload(payload: str) -> tuple[list[dict], dict[int, tuple]]:
    """JSON-lines → (validated cell dicts, page sizes). Raises LayoutError
    on bad payload.

    A line of ``{"page_no": n, "width": w, "height": h}`` (no bbox/text)
    declares the page box — the reference gets it from the PDF page
    (``layout_postprocessor.py:326-328`` asserts page_size is set); pdfish
    payloads without one fall back to the page's content extent. Each cell
    also records its native print order as ``index`` (the reference's
    ``cell.index``, layout_postprocessor.py:671-673)."""
    cells: list[dict] = []
    page_sizes: dict[int, tuple] = {}
    raw_lines = payload.splitlines()
    # 1-based line numbers in diagnostics (editor/tooling convention)
    lines = [(ln, s) for ln, line in enumerate(raw_lines, start=1)
             if (s := line.strip())]
    # fast path: one C-level parse of all lines as a JSON array (per-line
    # json.loads was ~40% of pdfish parse time); malformed payloads fall
    # back to the per-line loop so error messages keep exact line numbers.
    # Eligibility guards close the splice hole: an unterminated string can
    # absorb the joining comma and swallow the next line, and a
    # multi-object line can then compensate the element count — so the
    # fast path requires every line to LOOK like exactly one object
    # (starts '{', ends '}', no '}','{' separator that could yield two
    # top-level elements). Lines failing the shape test (including legit
    # cells whose text contains '},{') take the per-line path — slower,
    # byte-identical results.
    objs: list | None = None
    if lines and all(
        s[0] == "{" and s[-1] == "}" and not _MULTI_OBJ_RE.search(s)
        for _, s in lines
    ):
        try:
            objs = json.loads("[" + ",".join(s for _, s in lines) + "]")
            if len(objs) != len(lines):
                objs = None
        except json.JSONDecodeError:
            objs = None
    if objs is None:
        objs = []
        for ln, s in lines:
            try:
                objs.append(json.loads(s))
            except json.JSONDecodeError as exc:
                raise LayoutError(
                    f"line {ln}: invalid JSON cell: {exc}") from exc
    for (ln, _s), obj in zip(lines, objs):
        # every coercion below must surface as LayoutError with the line
        # number (the documented contract) — a bare ValueError/TypeError
        # from float('letter') or bbox [null,...] would both skip the
        # caller's except-LayoutError and lose the diagnostics. Finiteness
        # is part of validity: json.loads accepts NaN/Infinity, which
        # would poison sort comparisons (silently scrambled reading
        # order) or overflow the dedup grid.
        try:
            if isinstance(obj, dict) and "bbox" not in obj \
                    and "text" not in obj \
                    and "width" in obj and "height" in obj:
                w, h = float(obj["width"]), float(obj["height"])
                if not (math.isfinite(w) and math.isfinite(h)):
                    raise LayoutError(f"line {ln}: non-finite page size")
                page_sizes[int(obj.get("page_no", 1))] = (w, h)
                continue
            if not isinstance(obj, dict) or "bbox" not in obj \
                    or "text" not in obj:
                raise LayoutError(f"line {ln}: cell missing bbox/text")
            bbox = obj["bbox"]
            if not (isinstance(bbox, (list, tuple)) and len(bbox) == 4):
                raise LayoutError(f"line {ln}: bbox must be [l,t,r,b]")
            coords = (float(bbox[0]), float(bbox[1]),
                      float(bbox[2]), float(bbox[3]))
            conf = float(obj.get("conf", 1.0))
            if not all(math.isfinite(v) for v in (*coords, conf)):
                raise LayoutError(f"line {ln}: non-finite bbox/conf")
            cells.append(
                {
                    "page_no": int(obj.get("page_no", 1)),
                    "bbox": coords,
                    "text": str(obj["text"]),
                    "conf": conf,
                    "label": str(obj.get("label", "text")),
                    "index": len(cells),
                }
            )
        except LayoutError:
            raise
        except (TypeError, ValueError) as exc:
            raise LayoutError(f"line {ln}: invalid cell value: {exc}") from exc
    return cells, page_sizes


def drop_full_page_pictures(
    cells: list[dict], page_sizes: dict[int, tuple] | None = None
) -> list[dict]:
    """Drop PICTURE cells covering >90% of their page
    (layout_postprocessor.py:328-337). Page area comes from the declared
    page box when the payload carries one, else from the page's content
    extent (the union bound of all its cells)."""
    page_sizes = page_sizes or {}
    # content extent tracks BOTH corners: assuming origin (0,0) would
    # overestimate the area of offset/cropped pages and let a genuinely
    # full-page picture slip under the 90% rule
    extents: dict[int, tuple] = {}
    for c in cells:
        p = c["page_no"]
        if p in page_sizes:
            continue
        l0, t0, r0, b0 = extents.get(
            p, (float("inf"), float("inf"), 0.0, 0.0))
        extents[p] = (min(l0, c["bbox"][0]), min(t0, c["bbox"][1]),
                      max(r0, c["bbox"][2]), max(b0, c["bbox"][3]))
    out = []
    for c in cells:
        if c["label"] == "picture":
            declared = page_sizes.get(c["page_no"])
            if declared:
                page_area = declared[0] * declared[1]
            elif c["page_no"] in extents:
                el, et, er, eb = extents[c["page_no"]]
                page_area = max(er - el, 0.0) * max(eb - et, 0.0)
            else:
                page_area = 0.0
            area = ((c["bbox"][2] - c["bbox"][0])
                    * (c["bbox"][3] - c["bbox"][1]))
            if page_area > 0 and area / page_area > 0.90:
                continue
        out.append(c)
    return out


def sort_clusters(cells: list[dict], mode: str = "id") -> list[dict]:
    """The reference's selectable cluster sort (layout_postprocessor.py:
    675-701): ``id`` = native print order (min cell index), then top, left;
    ``tblr`` = top-to-bottom then left-to-right (row first); ``lrtb`` =
    left-to-right then top-to-bottom (column first). Unknown mode returns
    the input unchanged, same as the reference's else branch."""
    if mode == "id":
        big = 1 << 62
        return sorted(cells, key=lambda c: (
            c.get("index", big), c["bbox"][1], c["bbox"][0]))
    if mode == "tblr":
        return sorted(cells, key=lambda c: (c["bbox"][1], c["bbox"][0]))
    if mode == "lrtb":
        return sorted(cells, key=lambda c: (c["bbox"][0], c["bbox"][1]))
    return cells


def filter_cells(cells: list[dict]) -> list[dict]:
    """Confidence + empty filtering (layout_postprocessor.py:259-284).

    Deliberately does NOT drop quality-0 cells: the reference's
    rate_text_quality feeds ONLY the page parse_score confidence metric
    (page_preprocessing_model.py:75-88) and never filters — its own
    groundtruth keeps /gNNN glyph-name text (redp5110) that scores 0.0.
    Rounds 1-3 dropped q==0 cells here, which silently deleted every
    unmapped-subset-font region."""
    kept = []
    for c in cells:
        thr = CONF_THRESHOLDS.get(c["label"], DEFAULT_CONF_THRESHOLD)
        if c["conf"] < thr:
            continue
        text = fix_stx(c["text"]).strip()
        # empty clusters drop unless FORMULA (layout_postprocessor.py:
        # 279-284); PICTURE needs no text cells either (it is a bitmap box)
        if not text and c["label"] not in ("formula", "picture"):
            continue
        c = dict(c, text=text)
        kept.append(c)
    return kept


_TATWEEL_RUN = re.compile("ـ{3,}")


def mark_display_typography(cells: list[dict]) -> list[dict]:
    """Deterministic twin of the one layout-model behavior the RTL
    corpus needs beyond geometry: the reference's layout NN labels the
    stretched-display region of right_to_left_02 (a diagram whose
    Arabic labels are elongated with literal U+0640 tatweel runs)
    FORMULA, and its md serializer emits `<!-- formula-not-decoded -->`
    for it. Genuine kashida-justified BODY text in this corpus never
    reaches ToUnicode as literal tatweel (the fonts map the elongation
    strokes to letter glyphs), so a text cell with a >=3-char tatweel
    run and a heavy tatweel fraction (>=15% of all chars — measured
    0.42/0.67 on the display region, 0.0 on every body line) is
    display typography, not prose: relabel it formula and flag it
    undecodable so the serializer emits the reference's placeholder."""
    out = []
    for c in cells:
        if c["label"] == "text":
            n = c["text"].count("ـ")
            if n >= 3 and n / max(len(c["text"]), 1) >= 0.15 \
                    and _TATWEEL_RUN.search(c["text"]):
                c = dict(c, label="formula", _undecodable=True)
        out.append(c)
    return out


def dedup_cells(cells: list[dict]) -> list[dict]:
    """Overlap dedup: same page, intersection_over_self > 0.8 either way →
    keep higher conf, then larger area, then earlier index
    (layout_postprocessor.py:505-560 best-of-group).

    Grouped by page FIRST: overlaps can only exist within a page, so the
    quadratic pass runs per page (sum of per-page n²), not over every
    cell of a 500-page document at once."""
    by_page: dict = {}
    for c in cells:
        by_page.setdefault(c["page_no"], []).append(c)
    result: list[dict] = []
    for page_no in by_page:
        result.extend(_dedup_cells_one_page(by_page[page_no]))
    if len(by_page) > 1:
        # keep global input order (pages may interleave in the input)
        order = {id(c): i for i, c in enumerate(cells)}
        result.sort(key=lambda c: order[id(c)])
    return result


def _dedup_cells_one_page(cells: list[dict]) -> list[dict]:
    """Candidate pairs come from a coarse spatial grid, not all-pairs:
    a dense page (20k vector cells from a map or a spammy generator)
    made the plain n² pass burn minutes of a batch's time budget. Cells
    register in every grid bucket their bbox touches, so any pair with
    nonzero intersection shares a bucket; pairs that never intersect
    have IoU 0 on both sides and can never trip the >0.8 rule, making
    the skip exact. Candidates are visited in ascending index order so
    the order-dependent keep/remove outcome is byte-identical to the
    sequential pass.

    Typical pages (tens of cells) skip the index: below the crossover
    the plain pass is cheaper than building buckets."""
    n = len(cells)
    if n <= 48:
        return _dedup_cells_all_pairs(cells)
    side = 64.0
    if n:
        ws = sorted(c["bbox"][2] - c["bbox"][0] for c in cells)
        hs = sorted(c["bbox"][3] - c["bbox"][1] for c in cells)
        side = max(8.0, min(128.0, ws[n // 2], hs[n // 2]))
    buckets: dict[tuple[int, int], list[int]] = {}
    spans: list[tuple[int, int, int, int]] = []
    # bucket-span cap: one corrupt oversized bbox (1e6+ coords survive
    # JSON validation) would otherwise enumerate (coord/side)² buckets —
    # quadratic in coordinate magnitude, an uncatchable wall-time bomb.
    # 256 steps ≈ 2048 pt at the minimum side, beyond any real page, so
    # normal geometry is byte-identical; a clamped giant cell merely
    # misses dedup candidates past the cap (duplicates kept, not lost).
    max_steps = 256
    for idx, c in enumerate(cells):
        left, top, right, bot = c["bbox"]
        gx0, gx1 = int(left // side), int(right // side)
        gy0, gy1 = int(top // side), int(bot // side)
        gx1 = min(gx1, gx0 + max_steps - 1)
        gy1 = min(gy1, gy0 + max_steps - 1)
        spans.append((gx0, gx1, gy0, gy1))
        for gx in range(gx0, gx1 + 1):
            for gy in range(gy0, gy1 + 1):
                buckets.setdefault((gx, gy), []).append(idx)
    out: list[dict] = []
    removed = [False] * n
    for i, a in enumerate(cells):
        if removed[i]:
            continue
        gx0, gx1, gy0, gy1 = spans[i]
        cand: set[int] = set()
        for gx in range(gx0, gx1 + 1):
            for gy in range(gy0, gy1 + 1):
                for j in buckets[(gx, gy)]:
                    if j > i:
                        cand.add(j)
        for j in sorted(cand):
            if removed[j]:
                continue
            b = cells[j]
            # a picture region legitimately overlaps the text drawn over
            # or around it — cross-class pairs never dedup (the larger
            # picture box would swallow real text cells)
            if (a["label"] == "picture") != (b["label"] == "picture"):
                continue
            if (
                _iou_over_self(a["bbox"], b["bbox"]) > 0.8
                or _iou_over_self(b["bbox"], a["bbox"]) > 0.8
            ):
                area_a = (a["bbox"][2] - a["bbox"][0]) * (a["bbox"][3] - a["bbox"][1])
                area_b = (b["bbox"][2] - b["bbox"][0]) * (b["bbox"][3] - b["bbox"][1])
                if (b["conf"], area_b) > (a["conf"], area_a):
                    removed[i] = True
                    break
                removed[j] = True
        if not removed[i]:
            out.append(a)
    return out


def _dedup_cells_all_pairs(cells: list[dict]) -> list[dict]:
    """Sequential keep/remove pass, hoisted: bboxes/areas/confs pulled out
    of the dicts once — the inner pair test is the pdfish path's hottest
    loop (dominated extraction profiles at ~100 pair tests per page).
    inter > 0.8*max(area,1e-9) is exactly _iou_over_self(...) > 0.8."""
    n = len(cells)
    out: list[dict] = []
    removed = [False] * n
    boxes = [c["bbox"] for c in cells]
    confs = [c["conf"] for c in cells]
    areas = [(b[2] - b[0]) * (b[3] - b[1]) for b in boxes]
    is_pic = [c["label"] == "picture" for c in cells]
    for i in range(n):
        if removed[i]:
            continue
        al, at, ar, ab = boxes[i]
        thr_a = 0.8 * (areas[i] if areas[i] > 1e-9 else 1e-9)
        key_a = (confs[i], areas[i])
        for j in range(i + 1, n):
            if removed[j]:
                continue
            # cross-class pairs never dedup: a picture region
            # legitimately overlaps the text drawn over or around it
            if is_pic[i] != is_pic[j]:
                continue
            bl, bt, br, bb = boxes[j]
            il = al if al > bl else bl
            it = at if at > bt else bt
            ir = ar if ar < br else br
            ib = ab if ab < bb else bb
            if ir <= il or ib <= it:
                continue
            inter = (ir - il) * (ib - it)
            if inter > thr_a or \
                    inter > 0.8 * (areas[j] if areas[j] > 1e-9 else 1e-9):
                if (confs[j], areas[j]) > key_a:
                    removed[i] = True
                    break
                removed[j] = True
        if not removed[i]:
            out.append(cells[i])
    return out


def _detect_columns(cells: list[dict], page_width: float) -> float | None:
    """Two-column split detection: a vertical boundary in the middle half
    of the page that no body cell crosses, with enough cells on both
    sides → column boundary x, else None. Candidates are the body cells'
    left edges (a second column's left margin is always one), so gutters
    off the exact midline — e.g. justified two-column pages whose left
    column reaches past page/2 — are found too; the page midline stays a
    candidate for symmetric layouts."""
    # full-width elements (titles, section headers, tables) legitimately span
    # both columns; only running text/list lines vote on the split
    body = [c for c in cells if c["label"] in ("text", "list_item")]
    if len(body) < 4:
        return None
    lo, hi = 0.25 * page_width, 0.75 * page_width
    candidates = {page_width / 2.0}
    candidates.update(c["bbox"][0] - 1.0 for c in body)
    # counts per candidate via two binary searches over the sorted edge
    # arrays (identical tallies to a scan: right<=s cells always have
    # left<s, so crossers = #{left<s} - #{right<=s}) — the per-candidate
    # cell scan was O(n²) on pages where every line has a distinct left
    # edge (ragged OCR output, dense vector pages)
    from bisect import bisect_left, bisect_right

    lefts = sorted(c["bbox"][0] for c in body)
    rights = sorted(c["bbox"][2] for c in body)
    n_body = len(body)
    best = None  # (min(left,right), split)
    for split in candidates:
        if not lo <= split <= hi:
            continue
        left = bisect_right(rights, split)
        crossers = bisect_left(lefts, split) - left
        right = n_body - left - crossers
        # a handful of crossers (mis-merged lines, inline figures) must
        # not veto an otherwise overwhelming two-column structure; they
        # become band separators in reading_order
        if crossers <= max(0, int(0.06 * len(body))) \
                and left >= 2 and right >= 2:
            score = min(left, right)
            if best is None or score > best[0]:
                best = (score, split)
    return best[1] if best else None


def reading_order(cells: list[dict],
                  page_sizes: dict[int, tuple] | None = None) -> list[dict]:
    """Order cells per page: furniture headers first, then body in column-major
    (left column top→bottom, then right), then footers — the rule-based
    reading order of readingorder_model.py re-expressed geometrically.

    Column detection uses the DECLARED page width when the payload
    carries one (matching drop_full_page_pictures): deriving it from the
    max cell right edge shrinks the 0.25-0.75 candidate window on pages
    whose content stops short of the right margin (e.g. a final page
    holding one column's tail), mis-centering the gutter search."""
    page_sizes = page_sizes or {}
    pages: dict[int, list[dict]] = {}
    for c in cells:
        pages.setdefault(c["page_no"], []).append(c)
    ordered: list[dict] = []
    for page_no in sorted(pages):
        pc = pages[page_no]
        declared = page_sizes.get(page_no)
        width = (declared[0] if declared
                 else max((c["bbox"][2] for c in pc), default=0.0))
        split = _detect_columns(pc, width)
        headers = [c for c in pc if c["label"] == "page_header"]
        footers = [c for c in pc if c["label"] == "page_footer"]
        body = [c for c in pc if c["label"] not in FURNITURE_LABELS]
        headers.sort(key=lambda c: (c["bbox"][1], c["bbox"][0]))
        footers.sort(key=lambda c: (c["bbox"][1], c["bbox"][0]))
        if split is None:
            body.sort(key=lambda c: (c["bbox"][1], c["bbox"][0]))
            ordered.extend(headers + body + footers)
            continue
        # band segmentation: full-width cells (crossing the split) separate
        # vertical bands; within a band, left column reads before right
        body.sort(key=lambda c: (c["bbox"][1], c["bbox"][0]))
        bands: list[list[dict]] = [[]]
        for c in body:
            # pictures never separate bands: a figure composed of tiles
            # whose union happens to cross the gutter is column content,
            # not a full-width break — letting it split bands scrambles
            # the column-major order of the TEXT around it
            if c["bbox"][0] < split < c["bbox"][2] \
                    and c["label"] != "picture":
                bands.append([c])
                bands.append([])
            else:
                bands[-1].append(c)
        ordered.extend(headers)
        for band in bands:
            band.sort(
                key=lambda c: (
                    0 if c["bbox"][0] < split else 1,
                    c["bbox"][1],
                    c["bbox"][0],
                )
            )
            ordered.extend(band)
        ordered.extend(footers)
    return ordered


def _assemble_tables(ordered: list[dict]) -> list[dict]:
    """Group consecutive table_cell runs per page into one table pseudo-cell
    whose text is a markdown grid; rows clustered by top coordinate, columns
    by left coordinate."""
    out: list[dict] = []
    i = 0
    while i < len(ordered):
        c = ordered[i]
        if c["label"] != "table_cell":
            out.append(c)
            i += 1
            continue
        j = i
        tcells = []
        while j < len(ordered) and ordered[j]["label"] == "table_cell" \
                and ordered[j]["page_no"] == c["page_no"]:
            tcells.append(ordered[j])
            j += 1
        # cluster rows by top coordinate. Tolerance: half the median
        # height absorbs OCR jitter, but capped so it can never exceed a
        # real row pitch — one tall row (a multi-line cell) would
        # otherwise inflate the median past the short rows' spacing and
        # merge adjacent rows (the Korean 5-row grid lost its header
        # this way). The cap is half the smallest non-jitter gap
        # between distinct tops.
        heights = sorted(cell["bbox"][3] - cell["bbox"][1] for cell in tcells)
        tol = max(heights[len(heights) // 2] / 2.0, 1e-6)
        tops = sorted({round(cell["bbox"][1], 1) for cell in tcells})
        gaps = [b - a for a, b in zip(tops, tops[1:]) if b - a > 3.0]
        if gaps:
            tol = min(tol, min(gaps) / 2.0)
        rows: list[list[dict]] = []
        for cell in sorted(tcells, key=lambda x: (x["bbox"][1], x["bbox"][0])):
            if rows and abs(cell["bbox"][1] - rows[-1][0]["bbox"][1]) <= tol:
                rows[-1].append(cell)
            else:
                rows.append([cell])
        # columns by sorted left edges of the widest row
        col_lefts = sorted({round(cell["bbox"][0], 1) for cell in tcells})
        grid = [["" for _ in col_lefts] for _ in rows]
        for ri, row in enumerate(rows):
            for cell in row:
                ci = min(
                    range(len(col_lefts)),
                    key=lambda k: abs(col_lefts[k] - cell["bbox"][0]),
                )
                # two same-row cells can land on one column when their
                # left edges collide after round(,1) (OCR jitter) — append
                # instead of overwrite so no cell text is silently lost
                grid[ri][ci] = (grid[ri][ci] + " " + cell["text"]).strip() \
                    if grid[ri][ci] else cell["text"]
        md_lines = []
        for ri, row in enumerate(grid):
            md_lines.append("| " + " | ".join(row) + " |")
            if ri == 0:
                md_lines.append("| " + " | ".join("-" for _ in row) + " |")
        out.append(
            {
                "page_no": c["page_no"],
                "bbox": (
                    min(x["bbox"][0] for x in tcells),
                    min(x["bbox"][1] for x in tcells),
                    max(x["bbox"][2] for x in tcells),
                    max(x["bbox"][3] for x in tcells),
                ),
                "text": "\n".join(md_lines),
                "conf": min(x["conf"] for x in tcells),
                "label": "table",
                "num_rows": len(rows),
                "num_cols": len(col_lefts),
            }
        )
        i = j
    return out


def _merge_text_blocks(ordered: list[dict]) -> list[dict]:
    """Merge consecutive same-label text lines within a column into blocks,
    joining lines with sanitize_lines (de-hyphenation + ligatures —
    page_assemble_model.py:112-157)."""
    blocks: list[dict] = []
    run: list[dict] = []

    def flush():
        if not run:
            return
        text = sanitize_lines([c["text"] for c in run])
        first = run[0]
        blocks.append(dict(first, text=text))
        run.clear()

    prev = None
    for c in ordered:
        if c["label"] in ("text", "list_item"):
            # ONLY text-text runs merge: list_item lines stay one item
            # per line (this geometry layer has no bullet grammar to tell
            # a continuation line from the next item, so merging would
            # glue separate items; the pdfish oracles pin line-per-item)
            mergeable = (
                prev is not None
                and prev["label"] == "text"
                and c["label"] == "text"
                and prev["page_no"] == c["page_no"]
                # same column: horizontal overlap of line boxes
                and min(prev["bbox"][2], c["bbox"][2])
                > max(prev["bbox"][0], c["bbox"][0])
                # vertical adjacency: gap below one line height
                and 0
                <= c["bbox"][1] - prev["bbox"][3]
                <= (prev["bbox"][3] - prev["bbox"][1])
            )
            if mergeable:
                run.append(c)
            else:
                flush()
                run.append(c)
            prev = c
        else:
            flush()
            # a display-typography region (mark_display_typography) is
            # ONE undecoded unit — the reference emits a single
            # formula placeholder for the whole diagram, not one per
            # stretched line
            if (c.get("_undecodable") and blocks
                    and blocks[-1].get("_undecodable")
                    and blocks[-1]["page_no"] == c["page_no"]):
                prev = c
                continue
            blocks.append(c)
            prev = c
    flush()
    return blocks


def extract_layout(payload: str) -> tuple[str, list[dict], dict]:
    """pdfish payload → (extracted_text, items, metrics).

    Items use the same flat schema as the HTML engine. Metrics carry
    pages_parsed / parse_score (10%-quantile of cell quality, mirroring
    page_preprocessing_model.py:81-89) / boilerplate ratio.
    """
    cells, page_sizes = parse_payload(payload)
    return extract_from_cells(cells, page_sizes)


def extract_from_cells(
    raw: list[dict], page_sizes: dict[int, tuple] | None = None
) -> tuple[str, list[dict], dict]:
    """Validated layout cells → (extracted_text, items, metrics): the
    shared tail of the pdfish pipeline, also fed by cell sources that are
    not JSON-lines payloads (METS/hOCR page scans, engine/metsx.py)."""
    # parse_score quantiles the raw-text quality — the score's ONLY
    # consumer since r4 (the reference feeds rate_text_quality into the
    # page confidence metric and never filters cells on it)
    scores = sorted(rate_text_quality(c["text"]) for c in raw)
    parse_score = (
        scores[max(0, int(0.10 * (len(scores) - 1)))] if scores else 1.0
    )
    cells = filter_cells(raw)
    cells = mark_display_typography(cells)
    cells = drop_full_page_pictures(cells, page_sizes)
    cells = dedup_cells(cells)
    ordered = reading_order(cells, page_sizes)
    ordered = _assemble_tables(ordered)
    blocks = _merge_text_blocks(ordered)

    items = new_items()
    out_parts: list[str] = []
    pos = 0
    heading_idx = 0
    for b in blocks:
        layer = "furniture" if b["label"] in FURNITURE_LABELS else "body"
        label = {
            "page_header": "text",
            "page_footer": "text",
            "section_header": "section_header",
            "title": "title",
            "list_item": "list_item",
            "table": "table",
            "text": "text",
            "caption": "caption",
            "formula": "formula",
            "picture": "picture",
        }.get(b["label"], "text")
        parent = heading_idx if label not in ("title", "section_header") else 0
        text = b["text"]
        rendered = text
        if layer == "body":
            if label == "title":
                rendered = "# " + text
            elif label == "section_header":
                rendered = "## " + text
            elif label == "list_item":
                rendered = "- " + text
            elif label == "picture":
                rendered = "<!-- image -->"  # md serializer placeholder
            elif label == "formula" and b.get("_undecodable"):
                # the reference md serializer's placeholder for a
                # formula item with no decoded latex
                rendered = "<!-- formula-not-decoded -->"
            if out_parts:
                pos += 2
            span_start, span_end = pos, pos + len(rendered)
            out_parts.append(rendered)
            pos = span_end
        else:
            span_start = span_end = -1
        idx = len(items)
        items.append(
            dict(
                item_idx=idx, parent_idx=parent, label=label,
                level=1 if parent == 0 else 2, text=text,
                content_layer=layer, span_start=span_start, span_end=span_end,
                page_no=int(b.get("page_no", 1)),
            )
        )
        if label in ("title", "section_header"):
            heading_idx = idx

    pages = {c["page_no"] for c in raw}  # empty doc -> 0 pages, not 1
    n_body = sum(1 for it in items[1:] if it["content_layer"] == "body")
    return result(
        items, "\n\n".join(out_parts), pages_parsed=len(pages),
        parse_score=float(parse_score),
        boilerplate_ratio=(
            1.0 - n_body / max(len(items) - 1, 1) if len(items) > 1 else 0.0
        ),
    )
