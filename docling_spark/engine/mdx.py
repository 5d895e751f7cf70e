"""Markdown payload → item table (marko-faithful re-expression).

Re-expression of the reference Markdown backend (docling/backend/
md_backend.py:682-760 convert, 356-634 AST walk) WITHOUT marko: a
CommonMark-subset block parser + inline tokenizer whose output mirrors the
reference's item semantics, pinned byte-exact against the reference's own
md groundtruth corpus (tests/data/md/{sources,groundtruth}, 10 files —
tests/test_mdx_groundtruth.py).

Two paths, as in the reference:

- **pure markdown** (no raw-HTML blocks): blocks become items in the
  htmlx flat schema and are rendered by the shared ``serialize_items``.
  Inline content follows docling's inline-group semantics: each inline
  node serializes to a piece (text pieces stripped + markdown-escaped,
  code spans verbatim in backticks, formatting wrapped, links
  ``[inner](dest)``) and pieces join with single spaces. Source text is
  otherwise preserved verbatim — markdown does NOT apply the unicode
  cleaning table (the reference md path keeps curly quotes/dashes;
  groundtruth duck.md, wiki.md).
- **raw-HTML delegation** (md_backend.py:710-757): if any HTML block is
  present, the parsed document is re-rendered to HTML (raw blocks spliced
  verbatim, mirroring the reference's marker trick around
  ``export_to_html``) and the whole document is handed to the HTML engine
  — which IS the reference behavior, html cleaning rules and all.
"""

from __future__ import annotations

import html as _html
import re

from docling_spark.engine.htmlx import (
    HtmlExtractor,
    Item,
    _mk_item,
    _norm_href,
    new_items,
    result,
    serialize_items,
)

# --------------------------------------------------------------------------
# source pre-processing (md_backend.py:114-149)
# --------------------------------------------------------------------------

_UNDERSCORE_RUN_RE = re.compile(r"_+")
_LEADING_DASH_RE = re.compile(r"^([ \t]*)(?:-\s+){11,}-?(?=\S)", re.MULTILINE)


def _preprocess(payload: str) -> str:
    payload = _UNDERSCORE_RUN_RE.sub(
        lambda m: m.group(0) if len(m.group(0)) <= 10 else "_" * 10, payload
    )
    return _LEADING_DASH_RE.sub(r"\1- ", payload)


# --------------------------------------------------------------------------
# inline tokenizer → node list
#   ("text", s) | ("soft",) | ("code", s) | ("em"|"strong"|"strike", [nodes])
#   ("link", [nodes], dest) | ("image", alt, dest, title)
# --------------------------------------------------------------------------

_PUNCT = set(r"""!"#$%&'()*+,-./:;<=>?@[\]^_`{|}~""")
_ENTITY_RE = re.compile(r"&(?:#\d+|#[xX][0-9a-fA-F]+|[a-zA-Z][a-zA-Z0-9]*);")
_PIPE_ENTITIES = ("&#124;", "&#x7C;", "&vert;")


def _unescape_entity(ent: str) -> str:
    out = _html.unescape(ent)
    return out if out != ent else ent


def _parse_link_like(s: str, i: int):
    """``s[i] == '['`` → (inner, dest, title, end) or None."""
    depth = 0
    j = i
    n = len(s)
    while j < n:
        c = s[j]
        if c == "\\":
            j += 2
            continue
        if c == "[":
            depth += 1
        elif c == "]":
            depth -= 1
            if depth == 0:
                break
        j += 1
    if j >= n or s[j] != "]" or j + 1 >= n or s[j + 1] != "(":
        return None
    inner = s[i + 1:j]
    k = j + 2
    depth = 1
    while k < n:
        c = s[k]
        if c == "\\":
            k += 2
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                break
        k += 1
    if k >= n:
        return None
    body = s[j + 2:k].strip()
    title = ""
    m = re.match(r'^(\S*)\s+["\'](.*)["\']$', body, re.S)
    if m:
        dest, title = m.group(1), m.group(2)
    else:
        dest = body
    if dest.startswith("<") and dest.endswith(">"):
        dest = dest[1:-1]
    return inner, dest, title, k + 1


def _find_emph_close(s: str, start: int, ch: str, run: int) -> int:
    """Index of a closing delimiter run (length >= run, non-space before);
    -1 if absent."""
    n = len(s)
    j = start
    while j < n:
        j = s.find(ch * run, j)
        if j == -1:
            return -1
        if j > 0 and s[j - 1] == "\\":
            j += 1
            continue
        if j > 0 and not s[j - 1].isspace():
            if ch == "_":  # right-flanking for underscore: next must not be word
                k = j + run
                if k < n and (s[k].isalnum() or s[k] == "_"):
                    j += 1
                    continue
            return j
        j += 1
    return -1


_INLINE_SPECIAL_RE = re.compile(r"[`*_~&!\[\\\n]")


def parse_inline(s: str) -> list:
    # fast path: no markdown-special characters → one text node (the
    # overwhelmingly common case for transcript-turn payloads)
    if not _INLINE_SPECIAL_RE.search(s):
        return [("text", s)] if s else []
    nodes: list = []
    buf: list[str] = []
    i, n = 0, len(s)

    def flush() -> None:
        if buf:
            nodes.append(("text", "".join(buf)))
            buf.clear()

    while i < n:
        c = s[i]
        if c == "\\" and i + 1 < n and s[i + 1] in _PUNCT:
            buf.append(s[i + 1])
            i += 2
            continue
        if c == "\n":
            flush()
            nodes.append(("soft",))
            i += 1
            continue
        if c == "`":
            j = i
            while j < n and s[j] == "`":
                j += 1
            run = j - i
            close = s.find("`" * run, j)
            while close != -1 and close + run < n and s[close + run] == "`":
                close = s.find("`" * run, close + run + 1)
            if close != -1:
                flush()
                nodes.append(("code", s[j:close]))
                i = close + run
                continue
            buf.append(s[i:j])
            i = j
            continue
        if c == "!" and i + 1 < n and s[i + 1] == "[":
            got = _parse_link_like(s, i + 1)
            if got:
                inner, dest, title, end = got
                flush()
                nodes.append(("image", inner, dest, title))
                i = end
                continue
        if c == "[":
            got = _parse_link_like(s, i)
            if got:
                inner, dest, title, end = got
                flush()
                nodes.append(("link", parse_inline(inner), dest))
                i = end
                continue
        if c in "*_~":
            j = i
            while j < n and s[j] == c:
                j += 1
            run = j - i
            prev = s[i - 1] if i > 0 else ""
            # CommonMark allows intraword * (and ~) emphasis; only _ is
            # restricted to word boundaries
            left_ok = j < n and not s[j].isspace()
            if c == "_" and prev and not (prev.isspace() or prev in _PUNCT):
                left_ok = False  # no intraword underscore emphasis
            if c == "~" and run >= 2 and left_ok:
                close = _find_emph_close(s, j, "~", 2)
                if close != -1:
                    flush()
                    nodes.append(("strike", parse_inline(s[j:close])))
                    i = close + 2
                    continue
            elif c in "*_" and left_ok:
                matched = False
                for width in (3, 2, 1):
                    if run >= width:
                        close = _find_emph_close(s, i + width, c, width)
                        if close != -1:
                            inner_nodes = parse_inline(s[i + width:close])
                            flush()
                            if width == 3:
                                nodes.append(("strong", [("em", inner_nodes)]))
                            elif width == 2:
                                nodes.append(("strong", inner_nodes))
                            else:
                                nodes.append(("em", inner_nodes))
                            i = close + width
                            matched = True
                            break
                if matched:
                    continue
            buf.append(s[i:j])
            i = j
            continue
        if c == "&":
            m = _ENTITY_RE.match(s, i)
            if m:
                buf.append(_unescape_entity(m.group(0)))
                i = m.end()
                continue
            buf.append(c)
            i += 1
            continue
        buf.append(c)
        i += 1
    flush()
    return nodes


# --------------------------------------------------------------------------
# inline → markdown pieces (docling-core inline-group serialization:
# pieces joined with single spaces; text escaped; code verbatim)
# --------------------------------------------------------------------------

def _escape_text(t: str) -> str:
    return (
        t.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
        .replace("_", "\\_")
    )


def render_inline_md(nodes: list) -> str:
    pieces = []
    for nd in nodes:
        p = _render_node_md(nd)
        if p:
            pieces.append(p)
    return " ".join(pieces)


def _render_node_md(nd) -> str:
    kind = nd[0]
    if kind == "text":
        t = nd[1].strip()
        return _escape_text(t) if t else ""
    if kind == "soft":
        return ""
    if kind == "code":
        return "`" + nd[1].strip() + "`"
    if kind == "em":
        inner = render_inline_md(nd[1])
        return "*" + inner + "*" if inner else ""
    if kind == "strong":
        inner = render_inline_md(nd[1])
        return "**" + inner + "**" if inner else ""
    if kind == "strike":
        inner = render_inline_md(nd[1])
        return "~~" + inner + "~~" if inner else ""
    if kind == "link":
        inner = render_inline_md(nd[1])
        return "[" + inner + "](" + _norm_href(nd[2]) + ")"
    if kind == "image":
        return ""  # picture/caption items are emitted separately
    return ""


def _flatten_plain(nodes: list) -> str:
    """Concatenate stripped raw-text content of all nodes (formatting
    markers dropped) — the reference's table-row buffering
    (md_backend.py:482-500: RawText pieces ``+=`` into the row buffer,
    entity-unescaped except pipe entities)."""
    out: list[str] = []

    def rec(ns):
        for nd in ns:
            k = nd[0]
            if k == "text":
                out.append(nd[1].strip())
            elif k == "code":
                out.append(nd[1].strip())
            elif k in ("em", "strong", "strike"):
                rec(nd[1])
            elif k == "link":
                rec(nd[1])

    rec(nodes)
    return "".join(out)


def _images_of(nodes: list) -> list:
    imgs = []
    for nd in nodes:
        if nd[0] == "image":
            imgs.append(nd)
        elif nd[0] in ("em", "strong", "strike"):
            imgs.extend(_images_of(nd[1]))
        elif nd[0] == "link":
            imgs.extend(_images_of(nd[1]))
    return imgs


def _significant(nodes: list) -> list:
    return [
        nd for nd in nodes
        if not (nd[0] == "soft" or (nd[0] == "text" and not nd[1].strip()))
    ]


# --------------------------------------------------------------------------
# block parser
# --------------------------------------------------------------------------

_ATX_RE = re.compile(r"^ {0,3}(#{1,6})(?:[ \t]+(.*?))?[ \t]*#*[ \t]*$")
_SETEXT_RE = re.compile(r"^ {0,3}(=+|-+)[ \t]*$")
_THEMATIC_RE = re.compile(r"^ {0,3}((\*[ \t]*){3,}|(-[ \t]*){3,}|(_[ \t]*){3,})$")
_FENCE_RE = re.compile(r"^( {0,3})(```+|~~~+)[ \t]*([^`\s]*)[ \t]*.*$")
_ULIST_RE = re.compile(r"^([ \t]*)([-*+])(?:[ \t]+(.*))?$")
_OLIST_RE = re.compile(r"^([ \t]*)(\d{1,9})([.)])(?:[ \t]+(.*))?$")
_HTML_OPEN_RE = re.compile(r"^ {0,3}<(?:!--|!|\?|/?[a-zA-Z][a-zA-Z0-9-]*(?:[ \t>/]|$))")


def _indent_width(ws: str) -> int:
    w = 0
    for ch in ws:
        w += 4 - (w % 4) if ch == "\t" else 1
    return w


class _Li:
    __slots__ = ("inline", "children")

    def __init__(self, inline):
        self.inline = inline
        self.children: list = []  # nested ("list", ...) blocks


def parse_blocks(lines: list[str]) -> list:
    """lines → list of blocks:
    ("heading", level, nodes) | ("para", nodes) | ("codeblock", text, lang)
    ("list", ordered, start, [_Li]) | ("table", [row_line, ...])
    ("html", raw) | ("quote", [blocks])
    """
    blocks: list = []
    para: list[str] = []
    i, n = 0, len(lines)

    def flush_para() -> None:
        if para:
            blocks.append(("para", parse_inline("\n".join(para))))
            para.clear()

    while i < n:
        line = lines[i]
        stripped = line.strip()

        fence = _FENCE_RE.match(line)
        if fence:
            # CommonMark: a fence INTERRUPTS a paragraph (the old
            # not-para gate swallowed a post-paragraph fence into the
            # paragraph as an inline code span)
            flush_para()
            fmark = fence.group(2)
            fchar, flen = fmark[0], len(fmark)
            lang = fence.group(3)
            j = i + 1
            code: list[str] = []
            while j < n:
                s = lines[j].strip()
                # closing run: same char only, at least the opening
                # length, nothing else on the line — a prefix match
                # closed ````-fences at inner ``` lines and treated
                # '``` trailing text' content lines as closers
                if s and set(s) == {fchar} and len(s) >= flen:
                    break
                code.append(lines[j])
                j += 1
            text = "\n".join(code).strip("\n")
            if text.strip():
                blocks.append(("codeblock", text, lang))
            i = j + 1
            continue

        if not stripped:
            flush_para()
            i += 1
            continue

        if para and _SETEXT_RE.match(line):
            level = 1 if line.strip()[0] == "=" else 2
            nodes = parse_inline("\n".join(para))
            para.clear()
            if _significant(nodes):
                blocks.append(("heading", level, nodes))
            i += 1
            continue

        if _THEMATIC_RE.match(line):
            # includes spaced forms ('- - -', '* * *'): CommonMark gives
            # the thematic break priority over the list reading
            flush_para()
            i += 1
            continue

        m = _ATX_RE.match(line)
        if m:
            flush_para()
            nodes = parse_inline(m.group(2) or "")
            if _significant(nodes):
                blocks.append(("heading", len(m.group(1)), nodes))
            i += 1
            continue

        if _HTML_OPEN_RE.match(line) and not para:
            flush_para()
            raw: list[str] = []
            if stripped.startswith("<!--"):
                j = i
                while j < n:
                    raw.append(lines[j])
                    if "-->" in lines[j]:
                        j += 1
                        break
                    j += 1
            else:
                j = i
                while j < n and lines[j].strip():
                    raw.append(lines[j])
                    j += 1
            blocks.append(("html", "\n".join(raw).strip()))
            i = j
            continue

        lm = _ULIST_RE.match(line) or _OLIST_RE.match(line)
        if lm is not None:  # thematic-break lines were consumed above
            flush_para()
            i = _parse_list(lines, i, blocks)
            continue

        if stripped.startswith("|"):
            # the reference's RawText table sniff buffers '|'-rows as a
            # table even directly after a paragraph line
            flush_para()
            rows: list[str] = []
            j = i
            while j < n and lines[j].strip().startswith("|"):
                rows.append(lines[j].strip())
                j += 1
            blocks.append(("table", rows))
            i = j
            continue

        if stripped.startswith(">"):
            flush_para()
            inner: list[str] = []
            j = i
            while j < n and lines[j].lstrip().startswith(">"):
                inner.append(re.sub(r"^[ \t]*> ?", "", lines[j]))
                j += 1
            blocks.append(("quote", parse_blocks(inner)))
            i = j
            continue

        if not para and _indent_width(line[:len(line) - len(line.lstrip())]) >= 4:
            # indented code block (only opens outside a paragraph)
            code = []
            j = i
            while j < n and (not lines[j].strip() or _indent_width(
                    lines[j][:len(lines[j]) - len(lines[j].lstrip())]) >= 4):
                code.append(lines[j][4:] if lines[j].startswith("    ")
                            else lines[j].lstrip("\t"))
                j += 1
            text = "\n".join(code).strip("\n").strip()
            if text:
                blocks.append(("codeblock", text, ""))
            i = j
            continue

        para.append(line)
        i += 1
    flush_para()
    return blocks


def _parse_list(lines: list[str], start: int, blocks: list) -> int:
    """Parse a run of (possibly nested) list items starting at ``start``;
    appends one or more ("list", ...) blocks; returns first index past.

    Marko/CommonMark semantics used by the corpus: blank lines do NOT end
    a list (any number); a marker character change at the top level starts
    a NEW sibling list (groundtruth nested.md '- …' → '* changing
    symbol'); nesting by indent (tab = 4)."""
    n = len(lines)
    # stack of (indent, ordered, marker, items_list)
    stack: list[tuple[int, bool, str, list]] = []
    j = start
    while j < n:
        line = lines[j]
        if not line.strip():
            # lists swallow blank runs as long as another item follows
            k = j
            while k < n and not lines[k].strip():
                k += 1
            if k < n and (_ULIST_RE.match(lines[k]) or _OLIST_RE.match(lines[k])):
                j = k
                continue
            break
        m = _ULIST_RE.match(line)
        om = None if m else _OLIST_RE.match(line)
        if m is None and om is None:
            # lazy continuation (CommonMark): a plain non-marker line at
            # ANY indent joins the last item's paragraph; block-opening
            # lines (fence/heading/table/quote/html/thematic) terminate
            # the list instead
            opens_block = (
                _ATX_RE.match(line) or _FENCE_RE.match(line)
                or _THEMATIC_RE.match(line) or _HTML_OPEN_RE.match(line)
                or line.strip().startswith(("|", ">"))
            )
            if stack and stack[-1][3] and not opens_block:
                li = stack[-1][3][-1]
                li.inline.append(("soft",))
                li.inline.extend(parse_inline(line.strip()))
                j += 1
                continue
            break
        if m is not None:
            ws, marker, text = m.group(1), m.group(2), m.group(3) or ""
            ordered, num = False, 1
        else:
            ws, num_s, marker, text = (
                om.group(1), om.group(2), om.group(3), om.group(4) or "")
            ordered, num = True, int(num_s)
        indent = _indent_width(ws)
        while stack and indent < stack[-1][0]:
            _close_list_level(stack, blocks)
        if stack and indent == stack[-1][0] and (
                stack[-1][1] != ordered or stack[-1][2] != marker):
            _close_list_level(stack, blocks)
        if not stack or indent > stack[-1][0]:
            items: list[_Li] = []
            if stack and stack[-1][3]:
                stack[-1][3][-1].children.append(
                    ("list", ordered, num, items))
            elif stack:
                # deeper indent but previous level empty: treat as same level
                items = stack[-1][3]  # pragma: no cover
            if not stack:
                blocks.append(("list", ordered, num, items))
            stack.append((indent, ordered, marker, items))
        nodes = parse_inline(text)
        # empty items are filtered at emit time (emit_list/_list_html)
        stack[-1][3].append(_Li(nodes))
        j += 1
    while stack:
        _close_list_level(stack, blocks)
    return j


def _close_list_level(stack: list, blocks: list) -> None:
    stack.pop()


# --------------------------------------------------------------------------
# table normalization (md_backend.py:204-257 _close_table)
# --------------------------------------------------------------------------

def _table_cells(row_line: str) -> list[str]:
    """Row line → cell texts: inline-flattened (formatting dropped),
    entities unescaped EXCEPT pipe entities (kept so they don't split
    cells; normalized to &#124; like the reference's serializer output)."""
    guard = "\x00PIPE\x00"
    protected = row_line
    for ent in _PIPE_ENTITIES:
        protected = protected.replace(ent, guard)
    flat = _flatten_plain(parse_inline(protected))
    parts = flat.split("|")[1:-1]
    return [p.strip().replace(guard, "&#124;") for p in parts]


def _normalize_table(rows: list[str]) -> tuple[str, int, int]:
    """Reference semantics: row 0 is the header, row 1 is ALWAYS skipped
    (separator position), rows 2+ are data."""
    grid: list[list[str]] = []
    for ri, row in enumerate(rows):
        if ri == 1:
            continue
        grid.append(_table_cells(row))
    if not grid or not any(grid):
        return "", 0, 0
    ncols = max(len(r) for r in grid)
    md_lines = []
    for ri, r in enumerate(grid):
        r = r + [""] * (ncols - len(r))
        md_lines.append("| " + " | ".join(r) + " |")
        if ri == 0:
            md_lines.append("| " + " | ".join("-" for _ in range(ncols)) + " |")
    return "\n".join(md_lines), len(grid), ncols


# --------------------------------------------------------------------------
# pure-markdown path: blocks → items (shared serializer renders text)
# --------------------------------------------------------------------------

_ORDINAL_RE = re.compile(r"^(\d+)\.(?=\s|$)")


def _emit_items(blocks: list, items: list[Item]) -> None:
    hstack: list[tuple[int, int]] = []  # (level, item_idx)

    def parent() -> int:
        return hstack[-1][1] if hstack else 0

    def depth() -> int:
        return len(hstack) + 1

    def emit_images(nodes, par) -> None:
        for img in _images_of(nodes):
            alt, _dest, title = img[1], img[2], img[3]
            if title:
                _mk_item(items, par, "caption", depth(), title.strip(), "body")
            _mk_item(items, par, "picture", depth(), "", "body")
            # the reference walks the Image's alt children as ordinary
            # text (Image is not a processed block type) — dropping alt
            # was silent content loss for alt-only images
            if alt and alt.strip() and alt.strip() != (title or "").strip():
                _mk_item(items, par, "text", depth(), alt.strip(), "body")

    def emit_list(block, par, lvl) -> None:
        _tag, ordered, start, lis = block
        real = [li for li in lis if _significant(li.inline) or li.children]
        if not real:
            return
        gidx = _mk_item(items, par, "list", lvl,
                        "ordered list" if ordered else "list", "body")
        if ordered:
            items[gidx]["_start"] = start
        for li in real:
            text = render_inline_md(li.inline)
            text = _ORDINAL_RE.sub(r"\1 .", text)
            lidx = _mk_item(items, gidx, "list_item", lvl + 1, text, "body")
            emit_images(li.inline, gidx)
            for sub in li.children:
                emit_list(sub, lidx, lvl + 2)

    for block in blocks:
        kind = block[0]
        if kind == "heading":
            _tag, level, nodes = block
            while hstack and hstack[-1][0] >= level:
                hstack.pop()
            par = hstack[-1][1] if hstack else 0
            label = "title" if level == 1 else "section_header"
            idx = _mk_item(items, par, label, len(hstack) + 1,
                           render_inline_md(nodes), "body")
            items[idx]["_hlevel"] = level
            hstack.append((level, idx))
            emit_images(nodes, idx)
        elif kind == "para":
            nodes = block[1]
            sig = _significant(nodes)
            if len(sig) == 1 and sig[0][0] == "code":
                # lone code span paragraph → code item
                # (md_backend.py:529-548: CodeSpan → doc.add_code)
                _mk_item(items, parent(), "code", depth(),
                         sig[0][1].strip(), "body")
            else:
                text = render_inline_md(nodes)
                if text:
                    _mk_item(items, parent(), "text", depth(), text, "body")
            emit_images(nodes, parent())
        elif kind == "codeblock":
            _mk_item(items, parent(), "code", depth(), block[1], "body")
        elif kind == "list":
            emit_list(block, parent(), depth())
        elif kind == "table":
            text, nr, nc = _normalize_table(block[1])
            if text:
                idx = _mk_item(items, parent(), "table", depth(), text, "body")
                items[idx]["num_rows"] = nr
                items[idx]["num_cols"] = nc
        elif kind == "quote":
            _emit_quote(block[1], items, parent, depth, emit_images,
                        emit_list)
        elif kind == "html":
            pass  # unreachable: html presence routes to the delegated path


def _emit_quote(blocks, items, parent, depth, emit_images,
                emit_list=None) -> None:
    """Blockquote interior: flattened to plain blocks (the reference walks
    marko Quote children with no special casing — which means quoted
    LISTS and TABLES produce real items there; dropping them was silent
    content loss)."""
    for block in blocks:
        kind = block[0]
        if kind == "para":
            text = render_inline_md(block[1])
            if text:
                _mk_item(items, parent(), "text", depth(), text, "body")
            emit_images(block[1], parent())
        elif kind == "codeblock":
            _mk_item(items, parent(), "code", depth(), block[1], "body")
        elif kind == "list" and emit_list is not None:
            emit_list(block, parent(), depth())
        elif kind == "table":
            text, nr, nc = _normalize_table(block[1])
            if text:
                idx = _mk_item(items, parent(), "table", depth(), text,
                               "body")
                items[idx]["num_rows"] = nr
                items[idx]["num_cols"] = nc
        elif kind == "quote":
            _emit_quote(block[1], items, parent, depth, emit_images,
                        emit_list)
        elif kind == "heading":
            text = render_inline_md(block[2])
            if text:
                _mk_item(items, parent(), "text", depth(), text, "body")


# --------------------------------------------------------------------------
# delegated path: blocks → HTML → htmlx (md_backend.py:710-757)
# --------------------------------------------------------------------------

def _inline_html(nodes: list) -> str:
    out: list[str] = []
    for nd in nodes:
        k = nd[0]
        if k == "text":
            out.append(_html.escape(nd[1]))
        elif k == "soft":
            out.append(" ")
        elif k == "code":
            out.append("<code>" + nd[1] + "</code>")  # raw, as the reference
        elif k == "em":
            out.append("<i>" + _inline_html(nd[1]) + "</i>")
        elif k == "strong":
            out.append("<b>" + _inline_html(nd[1]) + "</b>")
        elif k == "strike":
            out.append("<s>" + _inline_html(nd[1]) + "</s>")
        elif k == "link":
            out.append('<a href="' + _html.escape(nd[2], quote=True) + '">'
                       + _inline_html(nd[1]) + "</a>")
        elif k == "image":
            alt = _html.escape(nd[3] or nd[1] or "", quote=True)
            out.append(f'<img alt="{alt}"/>')
    return "".join(out)


def _blocks_to_html(blocks: list) -> str:
    out: list[str] = ["<html><body>"]

    for block in blocks:
        kind = block[0]
        if kind == "heading":
            _tag, level, nodes = block
            out.append(f"<h{level}>" + _inline_html(nodes) + f"</h{level}>")
        elif kind == "para":
            nodes = block[1]
            sig = _significant(nodes)
            if len(sig) == 1 and sig[0][0] == "code":
                out.append("<pre><code>" + sig[0][1].strip() + "</code></pre>")
            else:
                out.append("<p>" + _inline_html(nodes) + "</p>")
        elif kind == "codeblock":
            out.append("<pre><code>" + block[1] + "</code></pre>")
        elif kind == "list":
            out.append(_list_html(block))
        elif kind == "table":
            out.append(_table_html(block[1]))
        elif kind == "quote":
            out.append(_blocks_to_html_inner(block[1]))
        elif kind == "html":
            out.append(block[1])  # spliced verbatim (marker-restore analog)
    out.append("</body></html>")
    return "\n".join(out)


def _cell_html(c: str) -> str:
    # &#124; placeholders survive as literal pipes for the html engine,
    # whose table serializer re-escapes them to &#124;
    return _html.escape(c).replace("&amp;#124;", "|")


def _list_html(block) -> str:
    _tag, ordered, start, lis = block
    real = [li for li in lis if _significant(li.inline) or li.children]
    if not real:
        return ""
    # carry the ordered-list start number — htmlx reads attrs['start']
    # and serialize numbers from it; omitting it renumbered delegated
    # lists from 1 while the pure path preserved the source numbering
    tag = ("ol" if start in (None, 1) else f'ol start="{start}"') \
        if ordered else "ul"
    close = "ol" if ordered else "ul"
    parts = [f"<{tag}>"]
    for li in real:
        inner = _inline_html(li.inline)
        for sub in li.children:
            inner += _list_html(sub)
        parts.append("<li>" + inner + "</li>")
    parts.append(f"</{close}>")
    return "".join(parts)


def _table_html(rows: list) -> str:
    cells_rows = []
    for ri, row in enumerate(rows):
        if ri == 1:
            continue
        cells_rows.append(_table_cells(row))
    if not (cells_rows and any(cells_rows)):
        return ""
    out = ["<table>"]
    for ri, cr in enumerate(cells_rows):
        tag = "th" if ri == 0 else "td"
        out.append(
            "<tr>" + "".join(
                f"<{tag}>" + _cell_html(c) + f"</{tag}>" for c in cr
            ) + "</tr>"
        )
    out.append("</table>")
    return "".join(out)


def _blocks_to_html_inner(blocks: list) -> str:
    parts = []
    for block in blocks:
        if block[0] == "para":
            parts.append("<p>" + _inline_html(block[1]) + "</p>")
        elif block[0] == "codeblock":
            parts.append("<pre><code>" + block[1] + "</code></pre>")
        elif block[0] == "list":
            parts.append(_list_html(block))
        elif block[0] == "table":
            parts.append(_table_html(block[1]))
        elif block[0] == "quote":
            parts.append(_blocks_to_html_inner(block[1]))
        elif block[0] == "heading":
            parts.append("<p>" + _inline_html(block[2]) + "</p>")
    return "\n".join(parts)


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------

def extract_markdown(payload: str) -> tuple[str, list[Item], dict]:
    """payload → (extracted_text, items, metrics)."""
    payload = _preprocess(payload)
    blocks = parse_blocks(payload.splitlines())

    n_html = sum(1 for b in blocks if b[0] == "html")
    if n_html:
        # the reference exports the partial doc to HTML, restores the raw
        # blocks, and re-parses with the HTML backend (md_backend.py:710-757)
        html_doc = _blocks_to_html(blocks)
        items = HtmlExtractor(infer_furniture=False).extract(html_doc)
        return result(items)

    items = new_items()
    _emit_items(blocks, items)
    return result(items)
