"""HTML → item-table extraction (the core operator).

A from-scratch, pure-Python re-expression of the reference HTML backend's
semantics (yzkee/docling docling/backend/html_backend.py:505-579 convert,
1600-1817 _walk, 2623-2780 block dispatch, 1467-1598 table grid,
4536-4566 get_text, 4569-4606 _clean_unicode), built on a forgiving
tree-builder over stdlib ``html.parser`` (bs4 is not available, and this
must run with zero non-baked dependencies inside Arrow-batched pandas UDFs).

Output model: a flat list of ``Item`` dicts
  (item_idx, parent_idx, label, level, text, content_layer, span_start, span_end)
— docling's RefItem tree flattened to parent pointers in depth-first order
(SURVEY.md §1.2). ``span_start/span_end`` are char offsets of each BODY
item's text inside the serialized ``extracted_text``.

Semantics pinned by tests against the reference's own groundtruth exports
(tests/data/html/groundtruth/*.md in the reference checkout).
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from docling_spark.functions.textnorm import clean_unicode

# U+E000 private-use sentinel for <br>, mirroring html_backend.py:83
BR_SENTINEL = ""

VOID_TAGS = frozenset(
    "br img hr meta link input area base col embed source track wbr param".split()
)

# html_backend.py:186-211 inline set (subset relevant to text payloads)
INLINE_TAGS = frozenset(
    "a abbr acronym b bdi bdo big cite code data dfn em font i kbd mark q s samp "
    "small span strike strong sub sup time tt u var wbr del ins label".split()
)

BLOCK_IMPLIES_P_CLOSE = frozenset(
    "address article aside blockquote details dialog dd div dl dt fieldset "
    "figcaption figure footer form h1 h2 h3 h4 h5 h6 header hgroup hr main menu "
    "nav ol p pre section table ul li".split()
)

HEADINGS = frozenset(["h1", "h2", "h3", "h4", "h5", "h6"])

FORMAT_TAGS = {
    "b": "bold",
    "strong": "bold",
    "i": "italic",
    "em": "italic",
    "var": "italic",
    "u": "underline",
    "ins": "underline",
    "s": "strike",
    "strike": "strike",
    "del": "strike",
    "code": "code",
    "kbd": "code",
    "samp": "code",
    "sub": "sub",
    "sup": "sup",
}

SKIP_TAGS = frozenset("script noscript style svg".split())


_EMPTY_ATTRS: dict = {}  # shared read-only attrs for the no-attribute case
                         # (Element.attrs is never mutated after build)


class Element:
    __slots__ = ("tag", "attrs", "children", "parent")

    def __init__(self, tag: str, attrs: dict | None = None, parent=None):
        self.tag = tag
        self.attrs = attrs or _EMPTY_ATTRS
        self.children: list = []
        self.parent = parent

    def find_all(self, names: frozenset | set) -> list["Element"]:
        """All descendant elements with a tag in ``names``, document order.
        Iterative (explicit work list) — the per-call recursion overhead
        showed up in extraction profiles at ~750k visits per 10k docs."""
        out: list[Element] = []
        todo: list[Element] = [self]
        while todo:
            node = todo.pop()
            if node is not self and node.tag in names:
                out.append(node)
            kids = [ch for ch in node.children if ch.__class__ is Element]
            if kids:
                kids.reverse()
                todo.extend(kids)
        return out

    def preorder(self) -> "Iterator[Element]":
        """Pre-order descendant elements (self excluded) — the shared
        early-exit traversal behind _find_first and the first-header
        scan. find_all keeps its inline copy of this loop: it collects
        every visit (~750k per 10k docs) and the generator's per-yield
        overhead is measurable there."""
        todo: list[Element] = [self]
        while todo:
            node = todo.pop()
            if node is not self:
                yield node
            kids = [ch for ch in node.children if ch.__class__ is Element]
            if kids:
                kids.reverse()
                todo.extend(kids)

    def has_ancestor(self, name: str) -> bool:
        node = self.parent
        while node is not None:
            if node.tag == name:
                return True
            node = node.parent
        return False


class _TreeBuilder(HTMLParser):
    """Forgiving tree builder: implied end tags for p/li/td/th/tr/dt/dd,
    void elements, mismatched end tags ignored or popped-to-match — the
    lenient behavior html_backend relies on bs4 for (and that
    _fix_invalid_paragraph_structure, html_backend.py:1285-1360, patches:
    block content illegally nested in <p> re-parents to after the <p>)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Element("[document]")
        self.stack = [self.root]

    # -- forgiveness rules -------------------------------------------------
    # only these tags can trigger any implied close; gating on one frozenset
    # lookup keeps the per-start-tag cost flat for everything else
    _IMPLIED_TRIGGER = BLOCK_IMPLIES_P_CLOSE | frozenset(("td", "th", "tr"))

    def _implied_close(self, tag: str) -> None:
        if tag in BLOCK_IMPLIES_P_CLOSE:
            # close the innermost <p> (browsers' implied </p>)
            for i in range(len(self.stack) - 1, 0, -1):
                if self.stack[i].tag == "p":
                    del self.stack[i:]
                    break
        # the sibling-close families below are mutually exclusive by tag —
        # elif keeps the non-matching checks off the per-start-tag hot path
        if tag == "li":
            # an open <li> is closed by a sibling <li> (not by nested lists)
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in ("ul", "ol", "menu"):
                    break
                if t == "li":
                    del self.stack[i:]
                    break
        elif tag in ("dt", "dd"):
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "dl":
                    break
                if t in ("dt", "dd"):
                    del self.stack[i:]
                    break
        elif tag in ("td", "th"):
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t == "tr":
                    break
                if t in ("td", "th"):
                    del self.stack[i:]
                    break
        elif tag == "tr":
            for i in range(len(self.stack) - 1, 0, -1):
                t = self.stack[i].tag
                if t in ("table", "thead", "tbody", "tfoot"):
                    break
                if t == "tr":
                    del self.stack[i:]
                    break

    # -- parser callbacks --------------------------------------------------
    # Depth cap: pathological nesting (e.g. 10^4 unclosed <div>s in crawled
    # HTML) must not blow Python's recursion limit in the walker; elements
    # beyond the cap attach as children of the capped ancestor.
    MAX_DEPTH = 200

    def handle_starttag(self, tag: str, attrs) -> None:
        # ``attrs`` is a list of pairs from html.parser, or an already-built
        # dict from the fast tokenizer (which owns it — no copy needed)
        if tag in self._IMPLIED_TRIGGER:
            self._implied_close(tag)
        top = self.stack[-1]
        if type(attrs) is not dict:
            attrs = dict(attrs) if attrs else None
        el = Element(tag, attrs, parent=top)
        top.children.append(el)
        if tag not in VOID_TAGS and len(self.stack) < self.MAX_DEPTH:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag in self._IMPLIED_TRIGGER:
            self._implied_close(tag)
        top = self.stack[-1]
        if type(attrs) is not dict:
            attrs = dict(attrs) if attrs else None
        top.children.append(Element(tag, attrs, parent=top))

    def handle_endtag(self, tag: str) -> None:
        if tag in VOID_TAGS:
            return
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].tag == tag:
                del self.stack[i:]
                return
        # unmatched end tag: ignore

    def handle_data(self, data: str) -> None:
        if data:
            self.stack[-1].children.append(data)


def parse_html_stdlib(payload: str) -> Element:
    """Reference tokenizer path (stdlib html.parser); kept as the
    differential-test oracle for the fast tokenizer below."""
    builder = _TreeBuilder()
    builder.feed(payload)
    builder.close()
    return builder.root


# -- fast tokenizer ----------------------------------------------------------
# A single-pass scanner emitting the same callback stream html.parser
# produces for the constructs that matter (start/end/self-closing tags with
# lowercased names and charref-decoded attributes, coalesced charref-decoded
# text runs, script/style CDATA mode, comments/decls/PIs skipped, stray '<'
# as literal text). Equivalence is enforced by
# tests/test_fast_tokenizer.py: byte-identical item output vs the stdlib
# path over the full reference corpus, the synthetic bench corpus, and a
# hypothesis fuzz of html-shaped strings; any construct the scanner cannot
# place falls back to literal text exactly like html.parser does.

_FT_START_RE = re.compile(
    r"<([a-zA-Z][-.a-zA-Z0-9:_]*)"
    r"((?:\s+[^\s/>][^\s/=>]*(?:\s*=\s*(?:'[^']*'|\"[^\"]*\"|[^\s>]*))?)*)"
    r"\s*(/?)>"
)
_FT_END_RE = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_FT_ATTR_RE = re.compile(
    r"\s+([^\s/=>]+)(?:\s*=\s*(?:'([^']*)'|\"([^\"]*)\"|([^\s>]*)))?")
_FT_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script", re.I),
    "style": re.compile(r"</\s*style", re.I),
}
_FT_AMP_RE = re.compile(r"&")
# marked-section grammar, mirroring CPython _markupbase
_FT_MARKED_NAME_RE = re.compile(r"\s*([a-zA-Z]+)")
_FT_MARKED_CLOSE_RE = re.compile(r"]\s*]\s*>")
_FT_MS_MARKED_CLOSE_RE = re.compile(r"]\s*>")


from html import unescape as _html_unescape


def _ft_unescape(s: str) -> str:
    if "&" in s:
        return _html_unescape(s)
    return s


def _fast_feed(data: str, builder: _TreeBuilder) -> bool:
    """Tokenize ``data`` into builder callbacks. Returns False when a
    construct outside the scanner's grammar is hit (caller falls back to
    html.parser for the whole payload)."""
    i = 0
    n = len(data)
    handle_data = builder.handle_data
    handle_starttag = builder.handle_starttag
    handle_endtag = builder.handle_endtag
    handle_startendtag = builder.handle_startendtag
    start_match = _FT_START_RE.match
    end_match = _FT_END_RE.match
    while i < n:
        lt = data.find("<", i)
        if lt < 0:
            if i < n:
                handle_data(_ft_unescape(data[i:]))
            break
        if lt > i:
            handle_data(_ft_unescape(data[i:lt]))
        nxt = data[lt + 1:lt + 2]
        if "a" <= nxt <= "z" or "A" <= nxt <= "Z":
            m = start_match(data, lt)
            if m is None:
                return False  # exotic or unterminated — html.parser decides
            tag, attr_src, selfclose = m.group(1, 2, 3)
            tag = tag.lower()
            attrs = None
            if attr_src:
                attrs = {}
                pos = 0
                for a in _FT_ATTR_RE.finditer(attr_src):
                    if attr_src[pos:a.start()].strip():
                        return False  # unconsumed attr junk — fall back
                    pos = a.end()
                    name, v1, v2, v3 = a.group(1, 2, 3, 4)
                    val = v1 if v1 is not None else \
                        v2 if v2 is not None else v3
                    # duplicate attr keeps the LAST value — identical to the
                    # stdlib path's dict(list-of-pairs) in handle_starttag
                    attrs[name.lower()] = (_ft_unescape(val)
                                           if val is not None else None)
                if attr_src[pos:].strip():
                    return False
            i = m.end()
            if selfclose:
                handle_startendtag(tag, attrs)
            else:
                handle_starttag(tag, attrs)
                if tag in ("script", "style"):
                    # CDATA mode: raw text until the EXACT matching close
                    # tag — html.parser (the pinned differential oracle)
                    # stays in CDATA through '</scriptx>'-style prefixes,
                    # so a prefix hit must keep scanning, not exit
                    pos = i
                    while True:
                        cm = _FT_CDATA_CLOSE[tag].search(data, pos)
                        if cm is None:
                            return False  # unterminated CDATA element
                        em = end_match(data, cm.start())
                        if em is not None and em.group(1).lower() == tag:
                            break
                        pos = cm.start() + 2
                    if cm.start() > i:
                        handle_data(data[i:cm.start()])
                    handle_endtag(tag)
                    i = em.end()
        elif nxt == "/":
            m = end_match(data, lt)
            if m is None:
                return False
            handle_endtag(m.group(1).lower())
            i = m.end()
        elif nxt == "!":
            if data.startswith("<!--", lt):
                end = data.find("-->", lt + 4)
                if end < 0:
                    return False  # unterminated comment
                i = end + 3
            elif data.startswith("<![", lt):
                # marked section: mirror html.parser/_markupbase exactly —
                # CDATA-family sections end at ']]>' (with optional ws),
                # MS conditional sections (if/else/endif) end at ']>'.
                # Ending at the first '>' leaked the body + ']]>' garbage
                # into text; anything outside the two families falls back.
                nm = _FT_MARKED_NAME_RE.match(data, lt + 3)
                if nm is None:
                    return False
                sect = nm.group(1).lower()
                if sect in ("cdata", "temp", "ignore", "include", "rcdata"):
                    cm2 = _FT_MARKED_CLOSE_RE.search(data, lt + 3)
                elif sect in ("if", "else", "endif"):
                    cm2 = _FT_MS_MARKED_CLOSE_RE.search(data, lt + 3)
                else:
                    return False  # unknown section keyword — stdlib decides
                if cm2 is None:
                    return False  # unterminated marked section
                i = cm2.end()
            else:
                end = data.find(">", lt)
                if end < 0:
                    return False  # unterminated decl
                i = end + 1  # doctype / bogus decl: ignored
        elif nxt == "?":
            end = data.find(">", lt)
            if end < 0:
                return False  # unterminated PI
            i = end + 1  # processing instruction: ignored
        else:
            handle_data("<")
            i = lt + 1
    return True


def parse_html(payload: str) -> Element:
    builder = _TreeBuilder()
    if _fast_feed(payload, builder):
        return builder.root
    return parse_html_stdlib(payload)


# ---------------------------------------------------------------------------
# Items + walker
# ---------------------------------------------------------------------------

_CODE_LANG_HINTS: tuple[tuple[re.Pattern, str], ...] = (
    (re.compile(r"^\s*(def |class |import |from \w+ import)", re.M), "python"),
    (re.compile(r"^\s*(function |const |let |var |=>)", re.M), "javascript"),
    (re.compile(r"^\s*(SELECT|INSERT|CREATE TABLE)\b", re.I | re.M), "sql"),
    (re.compile(r"^\s*[$] ", re.M), "shell"),
    (re.compile(r"^\s*[{\[]", re.M), "json"),
)


def detect_code_language(text: str, class_attr: str = "") -> str:
    """Heuristic language detection (analog of docling/utils/code_language.py:
    class-attribute hint first, then content heuristics)."""
    m = re.search(r"(?:language|lang)-([\w+#-]+)", class_attr)
    if m:
        return m.group(1).lower()
    for pat, lang in _CODE_LANG_HINTS:
        if pat.search(text):
            return lang
    return "unknown"


class Item(dict):
    pass


def _mk_item(
    items: list, parent_idx: int, label: str, level: int, text: str, layer: str
) -> int:
    idx = len(items)
    items.append(
        Item(
            item_idx=idx,
            parent_idx=parent_idx,
            label=label,
            level=level,
            text=text,
            content_layer=layer,
            span_start=-1,
            span_end=-1,
        )
    )
    return idx


# the engine result contract: every format engine returns
# (extracted_text, items, metrics), items[0] the body root, metrics
# keyed as schema.METRICS_SCHEMA
def new_items() -> list[Item]:
    """An item list holding only the body root."""
    items: list[Item] = []
    _mk_item(items, -1, "unspecified", 0, "_root_", "body")
    return items


def make_metrics(n_items: int, *, pages_parsed: int = 1,
                 parse_score: float = 1.0,
                 boilerplate_ratio: float = 0.0) -> dict:
    return {
        "pages_parsed": pages_parsed,
        "parse_score": parse_score,
        "boilerplate_ratio": boilerplate_ratio,
        "n_items": n_items,
    }


def result(items: list[Item], text: str | None = None,
           **metrics) -> tuple[str, list[Item], dict]:
    """An engine's return value; ``text`` defaults to the serialized
    body layer, ``metrics`` are :func:`make_metrics` keywords."""
    if text is None:
        text = serialize_items(items, layer="body")
    return text, items, make_metrics(len(items) - 1, **metrics)


_BARE_URL_RE = re.compile(r"^[a-z][a-z0-9+.-]*://[^/]+$")

# form/key-value machinery (html_backend.py:169-175): a container with class
# "form_region" holds semantic ids key{K}, key{K}_marker, key{K}_value{V}
_FORM_KEY_RE = re.compile(r"^key([A-Za-z0-9]+)$")
_FORM_MARKER_RE = re.compile(r"^key([A-Za-z0-9]+)_marker$")
_FORM_VALUE_RE = re.compile(r"^key([A-Za-z0-9]+)_value([A-Za-z0-9]+)$")


def _norm_href(href: str) -> str:
    """Bare scheme://host URLs gain a trailing slash (pydantic AnyUrl
    normalization the reference relies on, tests/test_backend_html.py:80-119)."""
    if _BARE_URL_RE.match(href):
        return href + "/"
    return href


class _Run:
    __slots__ = ("text", "fmt", "href")

    def __init__(self, text: str, fmt: frozenset, href: str | None):
        self.text = text
        self.fmt = fmt
        self.href = href


_PARA_SPLIT_RE = re.compile(BR_SENTINEL + r"(?:\s*" + BR_SENTINEL + r")+")
_HSPACE_RE = re.compile(r"[ \t\r\f\v]+")
_NL_TRIM_RE = re.compile(r" *\n+ *")
_MD_ESC_RE = re.compile(r"[&<>_]")


class HtmlExtractor:
    """Single-document walker. Stateless across documents; cheap to construct
    (one per payload inside the pandas UDF batch loop)."""

    def __init__(self, infer_furniture: bool = True):
        self.infer_furniture = infer_furniture
        # (hlevel, item_idx, level); reset per extract() — here too so
        # serializer-helper-only users never see it unset
        self._hstack: list[tuple[int, int, int]] = []

    # -- public ------------------------------------------------------------
    def extract(self, payload: str) -> list[Item]:
        root = parse_html(payload)
        self.items = new_items()
        self._hstack: list[tuple[int, int, int]] = []  # (hlevel, item_idx, level)

        # title → furniture title item (html_backend.py:532-541)
        title_el = self._find_first(root, "title")
        if title_el is not None:
            ttext = clean_unicode(" ".join(self._plain_text(title_el).split()))
            if ttext:
                _mk_item(self.items, 0, "title", 1, ttext, "furniture")

        # prune script/style/hidden + <br> → sentinel, one combined walk
        # (html_backend.py:542-558)
        self._prune(root)

        body = self._find_first(root, "body") or root

        # furniture-before-first-heading rule (html_backend.py:560-574);
        # only the FIRST non-table heading matters — early-exit pre-order
        # search instead of collecting every heading in the document
        first_header = None
        for node in body.preorder():
            if node.tag in HEADINGS and not node.has_ancestor("table"):
                first_header = node
                break
        self.layer = (
            "furniture" if (self.infer_furniture and first_header is not None)
            else "body"
        )

        self.buffer: list[_Run] = []
        self.fmt: list[str] = []
        self.href: str | None = None
        self._pending_imgs: list[Element] = []
        self._walk(body, parent_idx=0, level=1)
        self._flush(0, 1)
        return self.items

    # -- tree utilities ------------------------------------------------------
    @staticmethod
    def _find_first(root: Element, tag: str) -> Element | None:
        """Pre-order first match — early exit, no full-tree collection."""
        return next((n for n in root.preorder() if n.tag == tag), None)

    @staticmethod
    def _prune(root: Element) -> None:
        """One combined pass: script/style/hidden prune, <br> → sentinel,
        and sentinel-char strip from source text (the reference does these
        as separate bs4 passes, html_backend.py:542-558; one walk is
        equivalent — pruned subtrees never need br replacement, and
        br/sentinel handling outside <body> is invisible downstream
        because the item walker starts at <body> and the <title> furniture
        item is extracted before this pass)."""
        stack = [root]
        while stack:
            node = stack.pop()
            kept = []
            for ch in node.children:
                if ch.__class__ is Element:
                    attrs = ch.attrs
                    if attrs:
                        if ch.tag in SKIP_TAGS or "hidden" in attrs:
                            continue
                        style = attrs.get("style")
                        if style and "display:none" in \
                                style.replace(" ", "").lower():
                            continue
                    elif ch.tag in SKIP_TAGS:
                        continue
                    if ch.tag == "br":
                        kept.append(BR_SENTINEL)
                        continue
                    stack.append(ch)
                    kept.append(ch)
                elif BR_SENTINEL in ch:
                    # strip sentinel chars present in source text
                    kept.append(ch.replace(BR_SENTINEL, ""))
                else:
                    kept.append(ch)
            node.children = kept

    @staticmethod
    def _replace_br(root: Element) -> None:
        """Kept as the differential oracle for the merged pass above
        (tests/test_htmlx_prune_differential.py reconstructs the original
        two-pass flow with it); no longer called from extract()."""
        stack = [root]
        while stack:
            node = stack.pop()
            for i, ch in enumerate(node.children):
                if isinstance(ch, Element):
                    if ch.tag == "br":
                        node.children[i] = BR_SENTINEL
                    else:
                        stack.append(ch)
                elif BR_SENTINEL in ch:
                    # strip sentinel chars present in source text
                    node.children[i] = ch.replace(BR_SENTINEL, "")

    def _plain_text(self, node: Element) -> str:
        """get_text analog (html_backend.py:4536-4566): recursive concat,
        trailing space after p/li/th/td, sentinel → newline."""
        parts: list[str] = []

        def rec(n):
            if isinstance(n, str):
                parts.append(n.replace(BR_SENTINEL, "\n"))
                return
            for ch in n.children:
                rec(ch)
            if n.tag in ("p", "li", "th", "td"):
                parts.append(" ")

        rec(node)
        return "".join(parts)

    # -- inline buffering ----------------------------------------------------
    def _add_text(self, data: str) -> None:
        if not data:
            return
        self.buffer.append(
            _Run(data, frozenset(self.fmt), self.href)
        )

    def _runs_to_text(self, runs: list[_Run], markdown: bool = True,
                      escape: bool = True, keep_newlines: bool = False) -> str:
        """Serialize buffered inline runs: merge adjacent runs with identical
        annotations (html_backend.py:331-379 simplify_text_elements —
        annotation equality only, source tags don't block merging), collapse
        whitespace, join distinct runs with single spaces, emit md-style
        markers for formatting/hyperlinks.

        ``keep_newlines``: newlines INSIDE a run survive (normalized to bare
        \\n); newlines at run edges strip away — the reference's single-<br>
        semantics (html_backend.py:381-411 split_by_newline: sentinel → \\n,
        ' *\\n *' → '\\n', then docling text items strip their ends).
        Groundtruth epub colophon: a <br> right after an inline element is a
        soft wrap (space), a <br> mid-sentence after punctuation is a hard
        line break."""
        if len(runs) == 1:
            merged = runs  # nothing to merge; runs are never mutated below
        else:
            merged = []
            last_elm = ""
            for r in runs:
                if merged and merged[-1].fmt == r.fmt \
                        and merged[-1].href == r.href:
                    # html_backend.py:341-352: adjacent same-annotation
                    # elements join with ONE space unless either side is
                    # empty/whitespace (wiki citation '['+'1'+']' → '[ 1 ]')
                    sep = " " if last_elm.strip() and r.text.strip() else ""
                    merged[-1] = _Run(merged[-1].text + sep + r.text, r.fmt,
                                      r.href)
                else:
                    merged.append(_Run(r.text, r.fmt, r.href))
                last_elm = r.text

        def fmt_one(r: _Run) -> str:
            if keep_newlines:
                txt = _HSPACE_RE.sub(" ", r.text)
                txt = _NL_TRIM_RE.sub("\n", txt).strip()
            else:
                txt = " ".join(r.text.split())
            if not txt:
                return ""
            txt = clean_unicode(txt)
            if markdown:
                if "code" in r.fmt:
                    txt = "`" + txt + "`"
                else:
                    if escape and _MD_ESC_RE.search(txt):
                        txt = (txt.replace("&", "&amp;").replace("<", "&lt;")
                               .replace(">", "&gt;").replace("_", "\\_"))
                    if r.fmt:
                        if "bold" in r.fmt:
                            txt = "**" + txt + "**"
                        if "italic" in r.fmt:
                            txt = "*" + txt + "*"
                        if "strike" in r.fmt:
                            txt = "~~" + txt + "~~"
            return txt

        # consecutive runs sharing a hyperlink render as ONE link whose text
        # is the space-joined formatted runs (docling inline-group semantics)
        out: list[str] = []
        i = 0
        while i < len(merged):
            r = merged[i]
            if markdown and r.href:
                j = i
                parts: list[str] = []
                while j < len(merged) and merged[j].href == r.href:
                    t = fmt_one(merged[j])
                    if t:
                        parts.append(t)
                    j += 1
                if parts:
                    out.append("[" + " ".join(parts) + "](" + _norm_href(r.href) + ")")
                i = j
            else:
                t = fmt_one(r)
                if t:
                    out.append(t)
                i += 1
        return " ".join(out)

    def _flush(self, parent_idx: int, level: int, label: str = "text") -> list[int]:
        """Flush the inline buffer into text items; the <br> sentinel splits:
        2+ consecutive → separate items (paragraph split), single → '\\n' with
        surrounding spaces stripped (html_backend.py:381-416). Images met in
        inline context emit AFTER the text block (docling defers them)."""
        created = self._flush_text(parent_idx, level, label)
        if self._pending_imgs and getattr(self, "_img_ctx_block", True):
            self._drain_imgs_now(parent_idx, level)
        return created

    def _drain_imgs_now(self, parent_idx: int, level: int) -> None:
        imgs, self._pending_imgs = self._pending_imgs, []
        for el in imgs:
            alt = clean_unicode(" ".join((el.attrs.get("alt") or "").split()))
            if alt:
                _mk_item(self.items, parent_idx, "caption", level, alt, self.layer)
            _mk_item(self.items, parent_idx, "picture", level, "", self.layer)

    def _flush_text(self, parent_idx: int, level: int, label: str = "text") -> list[int]:
        runs, self.buffer = self.buffer, []
        if not runs:
            return []
        created: list[int] = []
        if not any(BR_SENTINEL in r.text for r in runs):
            text = self._runs_to_text(runs)
            if text:
                created.append(_mk_item(self.items, parent_idx, label, level, text, self.layer))
            return created
        # re-split runs on sentinels, preserving annotations
        para_runs: list[list[_Run]] = [[]]
        for r in runs:
            pieces = _PARA_SPLIT_RE.split(r.text)
            for i, piece in enumerate(pieces):
                if i > 0:
                    para_runs.append([])
                if piece:
                    para_runs[-1].append(_Run(piece, r.fmt, r.href))
        for para in para_runs:
            # source newlines collapse to spaces FIRST (HTML spec), then
            # single sentinels become \n INSIDE the run — kept when
            # internal, stripped at run edges (reference split_by_newline
            # semantics, html_backend.py:381-411 + NavigableString collapse)
            nl_runs = []
            for r in para:
                t = " ".join(r.text.replace("\n", " ").replace("\r", " ")
                             .split())
                nl_runs.append(
                    _Run(t.replace(BR_SENTINEL, "\n"), r.fmt, r.href))
            text = self._runs_to_text(nl_runs, keep_newlines=True)
            text = "\n".join([p for p in text.split("\n") if p.strip() != ""])
            if text:
                created.append(_mk_item(self.items, parent_idx, label, level, text, self.layer))
        return created

    def _walk_inline(self, node: Element) -> None:
        tag = node.tag
        # an img/input element passed DIRECTLY (leaf child of p/heading/
        # caption/dd — the most common image placement in real HTML) must
        # behave exactly like one found among an inline wrapper's
        # children below; without this branch the element's (empty) child
        # list made it vanish. The reference emits the image/input item
        # at any position in the walk (html_backend.py:1722-1731).
        if tag == "img":
            self._pending_imgs.append(node)
            return
        if tag == "input":
            if str(node.attrs.get("type") or "").lower() == "checkbox":
                mark = "x" if "checked" in node.attrs else " "
                self._add_text(f"- [{mark}] ")
            return
        pushed = None
        if tag in FORMAT_TAGS:
            pushed = FORMAT_TAGS[tag]
            self.fmt.append(pushed)
        href_saved = self.href
        if tag == "a":
            href = node.attrs.get("href") or None
            if href:
                self.href = href
        for ch in node.children:
            if isinstance(ch, str):
                self._add_text(ch)
            elif ch.tag in INLINE_TAGS:
                self._walk_inline(ch)
            elif ch.tag == "pre":
                # rare: pre inside inline context — treat as code run
                self.fmt.append("code")
                self._add_text(self._plain_text(ch))
                self.fmt.pop()
            elif ch.tag == "img":
                # collected by the enclosing block context (picture item)
                self._pending_imgs.append(ch)
            elif ch.tag == "input":
                itype = str(ch.attrs.get("type") or "").lower()
                if itype == "checkbox":
                    mark = "x" if "checked" in ch.attrs else " "
                    self._add_text(f"- [{mark}] ")
            else:
                # block inside inline: recurse as inline (text only)
                self._walk_inline(ch)
        if tag == "a":
            self.href = href_saved
        if pushed:
            self.fmt.pop()

    def _walk_inline_only(self, node: Element) -> None:
        """Walk a block whose content we treat as pure inline (p, caption)."""
        for ch in node.children:
            if isinstance(ch, str):
                self._add_text(ch)
            elif ch.tag in INLINE_TAGS:
                self._walk_inline(ch)
            elif ch.tag == "pre":
                self.fmt.append("code")
                self._add_text(self._plain_text(ch).strip())
                self.fmt.pop()
            else:
                self._walk_inline(ch)

    # -- block handlers ---------------------------------------------------------
    def _heading_parent(self, hlevel: int) -> tuple[int, int]:
        """Maintain the heading parent stack (html_backend.py:2157-2228):
        each heading nests under the nearest shallower heading."""
        while self._hstack and self._hstack[-1][0] >= hlevel:
            self._hstack.pop()
        if self._hstack:
            return self._hstack[-1][1], self._hstack[-1][2] + 1
        return 0, 1

    def _heading_text(self, runs: list[_Run]) -> str:
        """Headings merge ALL inline runs into ONE annotated element
        (html_backend.py:2157-2172 via AnnotatedTextList.
        to_single_text_element, :284-324): stripped run texts join with
        single spaces; the FIRST non-empty formatting / hyperlink wins for
        the whole heading (groundtruth epub: 'To the <i>Hibernia</i>' →
        '*To the Hibernia*')."""
        text = " ".join(
            t for t in (" ".join(r.text.split()) for r in runs) if t
        )
        text = clean_unicode(text)
        if not text:
            return ""
        fmt: frozenset = frozenset()
        href = None
        for r in runs:
            if r.fmt and not fmt:
                fmt = r.fmt
            if r.href and href is None:
                href = r.href
        if "code" in fmt:
            text = "`" + text + "`"
        else:
            text = (text.replace("&", "&amp;").replace("<", "&lt;")
                    .replace(">", "&gt;").replace("_", "\\_"))
            if "bold" in fmt:
                text = "**" + text + "**"
            if "italic" in fmt:
                text = "*" + text + "*"
            if "strike" in fmt:
                text = "~~" + text + "~~"
        if href:
            text = "[" + text + "](" + _norm_href(href) + ")"
        return text

    def _handle_heading(self, node: Element) -> None:
        hlevel = int(node.tag[1])
        # EVERY heading switches the layer to body — not just the first
        # (html_backend.py:2161 sets BODY unconditionally); furniture
        # contexts (footer) save/restore the layer around their subtree.
        # The r2 first-header gate dropped the whole document when the
        # first heading sat inside a footer: the switch was consumed
        # there, clobbered by the footer's restore, and never re-armed.
        self.layer = "body"
        parent_idx, level = self._heading_parent(hlevel)
        self._flush(parent_idx, level)
        saved_buf, self.buffer = self.buffer, []
        self._walk_inline_only(node)
        runs, self.buffer = self.buffer, saved_buf
        text = self._heading_text(runs)
        if not text:
            return
        label = "title" if hlevel == 1 else "section_header"
        idx = _mk_item(self.items, parent_idx, label, level, text, self.layer)
        self.items[idx]["_hlevel"] = hlevel
        self._hstack.append((hlevel, idx, level))
        # subsequent siblings become children of this heading
        self._current_parent = idx

    def _walk(self, node: Element, parent_idx: int, level: int) -> None:  # noqa: F811
        """Override of the generic recursion that routes content following a
        heading under that heading (document-order sectioning)."""
        for ch in node.children:
            if isinstance(ch, str):
                self._add_text(ch)
                continue
            # content after a heading nests under it
            if self._hstack and node.tag in (
                "body", "div", "section", "article", "main", "[document]",
                "html", "header",
            ):
                parent_eff = self._hstack[-1][1]
                level_eff = self._hstack[-1][2] + 1
            else:
                parent_eff, level_eff = parent_idx, level
            tag = ch.tag
            if (tag not in INLINE_TAGS and tag != "table"
                    and ch.attrs
                    and "form_region" in (ch.attrs.get("class") or "")
                    and "form_region" in ch.attrs["class"].split()):
                # key-value form container (html_backend.py:4303-4380);
                # a container without resolvable fields falls through to
                # the normal block dispatch, same as the reference
                self._flush(parent_eff, level_eff)
                if self._handle_form_container(ch, parent_eff, level_eff):
                    continue
            if tag in INLINE_TAGS:
                self._walk_inline(ch)
            elif tag in HEADINGS:
                self._flush(parent_eff, level_eff)
                self._handle_heading(ch)
            elif tag == "p":
                self._flush(parent_eff, level_eff)
                self._walk_inline_only(ch)
                self._flush(parent_eff, level_eff)
            elif tag in ("ul", "ol", "menu"):
                self._flush(parent_eff, level_eff)
                self._handle_list(ch, parent_eff, level_eff, ordered=(tag == "ol"))
            elif tag == "dl":
                self._flush(parent_eff, level_eff)
                self._handle_dl(ch, parent_eff, level_eff)
            elif tag == "table":
                self._flush(parent_eff, level_eff)
                self._handle_table(ch, parent_eff, level_eff)
            elif tag == "pre":
                self._flush(parent_eff, level_eff)
                self._handle_pre(ch, parent_eff, level_eff)
            elif tag == "footer":
                # footer subtree is furniture (html_backend.py:2094-2120)
                self._flush(parent_eff, level_eff)
                saved = self.layer
                self.layer = "furniture"
                self._walk(ch, parent_eff, level_eff)
                self._flush(parent_eff, level_eff)
                self.layer = saved
            elif tag == "details":
                self._flush(parent_eff, level_eff)
                gidx = _mk_item(self.items, parent_eff, "section", level_eff, "details", self.layer)
                self._walk(ch, gidx, level_eff + 1)
                self._flush(gidx, level_eff + 1)
            elif tag == "figure":
                self._flush(parent_eff, level_eff)
                self._handle_figure(ch, parent_eff, level_eff)
            elif tag == "img":
                self._flush(parent_eff, level_eff)
                alt = clean_unicode(" ".join((ch.attrs.get("alt") or "").split()))
                if alt:
                    _mk_item(self.items, parent_eff, "caption", level_eff, alt, self.layer)
                _mk_item(self.items, parent_eff, "picture", level_eff, "", self.layer)
            elif tag == "blockquote":
                self._flush(parent_eff, level_eff)
                self._walk(ch, parent_eff, level_eff)
                self._flush(parent_eff, level_eff)
            elif tag in ("caption", "summary"):
                self._flush(parent_eff, level_eff)
                self._walk_inline_only(ch)
                self._flush(parent_eff, level_eff)
            elif tag in ("signature", "stamp"):
                # picture placeholder + classification label; the inner
                # text is NOT emitted (html_backend.py:2720-2738 adds it
                # as a picture child, which the md serializer skips —
                # groundtruth md/signature_stamp_01)
                self._flush(parent_eff, level_eff)
                _mk_item(self.items, parent_eff, "picture", level_eff, "",
                         self.layer)
                _mk_item(self.items, parent_eff, "text", level_eff,
                         tag.capitalize(), self.layer)
            elif tag == "input":
                itype = str(ch.attrs.get("type") or "").lower()
                if itype == "checkbox":
                    mark = "x" if "checked" in ch.attrs else " "
                    self._add_text(f"- [{mark}] ")
            elif tag in ("hr", "head", "meta", "link", "base", "title",
                         "iframe", "object", "canvas", "map", "audio", "video"):
                # NOTE: plain <form> is NOT here — the reference walks it
                # as a generic container (html_backend.py _walk: form is a
                # _PARA_BREAKER, not suppressed), and crawled pages wrap
                # real content (search results, comment threads) in forms;
                # only class='form_region' containers get the KV machinery
                continue
            else:
                self._flush(parent_eff, level_eff)
                self._walk(ch, parent_eff, level_eff)
                self._flush(parent_eff, level_eff)

    # -- form / key-value extraction ----------------------------------------
    # Scoped port of the reference forms machinery (html_backend.py:
    # 2783-4380): semantic-id key/marker/value grouping, DOM-distance value
    # selection, key-text exclusion of consumed descendants, field_region →
    # field_item → (marker, field_key, field_value) emission at the anchor's
    # document position. Documented exclusions: checkbox machinery
    # (3135-3650), rendered-bbox table suppression (2958-3003, needs a
    # browser), and table-shaped form containers with key ids (the corpus
    # table container has none and falls back to a plain table).

    @staticmethod
    def _form_normalize(text: str) -> str:
        """_normalize_form_text (html_backend.py:3031-3033): whitespace
        collapse then the unicode cleanup."""
        return clean_unicode(re.sub(r"\s+", " ", text).strip())

    @staticmethod
    def _form_in_key_scope(key_el: Element, val_el: Element) -> bool:
        """_is_value_in_key_scope (html_backend.py:2847-2857)."""
        if key_el is val_el:
            return True
        p = val_el.parent
        while p is not None:
            if p is key_el:
                return True
            p = p.parent
        return (key_el.parent is not None
                and key_el.parent is val_el.parent)

    @staticmethod
    def _form_dom_distance(a: Element, b: Element) -> int:
        """_dom_distance_between_tags (html_backend.py:2859-2882): length of
        the up-up path through the nearest common ancestor."""
        if a is b:
            return 0
        chain_a: list[Element] = []
        cur = a
        while cur is not None:
            chain_a.append(cur)
            cur = cur.parent
        pos = {id(el): i for i, el in enumerate(chain_a)}
        cur, j, best = b, 0, None
        while cur is not None:
            i = pos.get(id(cur))
            if i is not None and (best is None or i + j < best):
                best = i + j
            cur = cur.parent
            j += 1
        return best if best is not None else 10_000

    def _form_input_text(self, el: Element) -> str:
        """_extract_input_like_text (html_backend.py:3370-3403)."""
        if el.tag == "input":
            for attr in ("value", "placeholder", "name"):
                v = el.attrs.get(attr)
                if v and str(v).strip():
                    return str(v).strip()
            return ""
        if el.tag == "textarea":
            return self._plain_text(el).strip()
        if el.tag == "select":
            options = el.find_all(frozenset(["option"]))
            chosen = next((o for o in options if "selected" in o.attrs),
                          options[0] if options else None)
            if chosen is not None:
                t = self._plain_text(chosen).strip()
                if t:
                    return t
                v = chosen.attrs.get("value")
                if v and str(v).strip():
                    return str(v).strip()
        return self._plain_text(el)

    def _form_value_text(self, el: Element) -> str:
        """_extract_form_value_text (html_backend.py:3405-3436)."""
        if el.tag in ("input", "textarea", "select"):
            return self._form_input_text(el)
        inputs = el.find_all(frozenset(["input", "textarea", "select"]))
        if not inputs:
            return self._plain_text(el)
        parts: list[str] = []

        def rec(n):
            if isinstance(n, str):
                parts.append(n)
                return
            if n.tag in ("input", "textarea", "select"):
                t = self._form_input_text(n)
                if t:
                    parts.append(t)
                parts.append(" ")
                return
            for c in n.children:
                rec(c)
            if n.tag in ("p", "li", "div", "label", "span", "td", "th",
                         "tr", "br"):
                parts.append(" ")

        rec(el)
        return "".join(parts)

    def _form_text_excluding(self, el: Element, excluded: set[int]) -> str:
        """_extract_text_excluding_tag_obj_ids (html_backend.py:3168-3186):
        key text without the value/marker descendants it wraps."""
        parts: list[str] = []

        def rec(n):
            if isinstance(n, str):
                parts.append(n)
                return
            if id(n) in excluded:
                return
            for c in n.children:
                rec(c)
            if n.tag in ("p", "li", "div", "label", "span", "td", "th"):
                parts.append(" ")

        rec(el)
        return "".join(parts)

    def _handle_form_container(self, node: Element, parent_idx: int,
                               level: int) -> bool:
        """Returns True when the container produced a field_region; False
        means no resolvable fields (caller falls back to normal dispatch,
        html_backend.py:4352-4360)."""
        order: dict[int, int] = {}
        elems: list[Element] = []

        def gather(n: Element) -> None:
            for c in n.children:
                if isinstance(c, Element):
                    if "form_region" in (c.attrs.get("class") or "").split():
                        continue  # nested scope stays its own container
                    order[id(c)] = len(elems)
                    elems.append(c)
                    gather(c)

        gather(node)

        keys: dict[str, tuple[int, Element]] = {}
        markers: dict[str, list[tuple[int, Element]]] = {}
        values: dict[str, list[tuple[int | None, int, Element]]] = {}
        first_order: dict[str, int] = {}
        for el in elems:
            tid = el.attrs.get("id")
            if not tid:
                continue
            o = order[id(el)]
            m = _FORM_VALUE_RE.match(tid)
            if m:
                vidx = int(m.group(2)) if m.group(2).isdigit() else None
                values.setdefault(m.group(1), []).append((vidx, o, el))
                first_order.setdefault(m.group(1), o)
                continue
            m = _FORM_MARKER_RE.match(tid)
            if m:
                markers.setdefault(m.group(1), []).append((o, el))
                first_order.setdefault(m.group(1), o)
                continue
            m = _FORM_KEY_RE.match(tid)
            if m:
                keys.setdefault(m.group(1), (o, el))
                first_order.setdefault(m.group(1), o)

        # resolve fields (html_backend.py:3829-4056 _extract_form_region)
        fields: dict[str, list[tuple[int, str, str]]] = {}
        consumed: set[int] = set()
        anchor_of: dict[int, str] = {}
        for k in sorted(first_order, key=first_order.get):
            key_entry = keys.get(k)
            key_el = key_entry[1] if key_entry else None
            marker_entries = sorted(markers.get(k, []))
            if key_el is not None:
                in_scope = [e for e in marker_entries
                            if self._form_in_key_scope(key_el, e[1])]
                if in_scope:
                    marker_entries = in_scope
            anchor = key_el if key_el is not None else (
                marker_entries[0][1] if marker_entries else None)

            # best value per (index|dom) group: key-scope, DOM distance,
            # input-tag preference, document order (html_backend.py:2884-2951)
            grouped: dict[tuple, list[tuple[int | None, int, Element]]] = {}
            for vidx, o, el in values.get(k, []):
                gk = ("idx", vidx) if vidx is not None else ("dom", o)
                grouped.setdefault(gk, []).append((vidx, o, el))
            selected: list[tuple[int | None, int, Element]] = []
            for entries in grouped.values():
                entries.sort(key=lambda e: (
                    (0 if self._form_in_key_scope(key_el, e[2]) else 1)
                    if key_el is not None else 0,
                    self._form_dom_distance(anchor, e[2])
                    if anchor is not None else 0,
                    0 if e[2].tag in ("input", "select", "textarea") else 1,
                    e[1],
                ))
                selected.append(entries[0])
            selected.sort(key=lambda e: (e[0] is None,
                                         e[0] if e[0] is not None else e[1],
                                         e[1]))
            if not selected:
                continue  # valueless fields walk as normal content

            parts: list[tuple[int, str, str]] = []
            excluded = {id(el) for _, _, el in selected}
            if marker_entries:
                mo, mel = marker_entries[0]
                excluded.add(id(mel))
                mtext = self._form_normalize(self._plain_text(mel))
                if mtext:
                    parts.append((mo, "marker", mtext))
                consumed.add(id(mel))
                anchor_of[id(mel)] = k
            if key_el is not None:
                ktext = self._form_normalize(
                    self._form_input_text(key_el)
                    if key_el.tag in ("input", "select", "textarea")
                    else self._form_text_excluding(key_el, excluded))
                if ktext:
                    parts.append((key_entry[0], "field_key", ktext))
                consumed.add(id(key_el))
                anchor_of[id(key_el)] = k
            for _, o, el in selected:
                vtext = self._form_normalize(self._form_value_text(el))
                if vtext:
                    parts.append((o, "field_value", vtext))
                consumed.add(id(el))
                anchor_of[id(el)] = k
            if parts:
                parts.sort()
                fields[k] = parts

        if not fields:
            return False

        region_idx = _mk_item(self.items, parent_idx, "field_region", level,
                              "", self.layer)
        emitted: set[str] = set()

        def walk_form(n: Element) -> None:
            for c in n.children:
                if isinstance(c, str):
                    self._add_text(c)
                    continue
                k = anchor_of.get(id(c))
                if k is not None:
                    if k in emitted or k not in fields:
                        continue
                    emitted.add(k)
                    self._flush(region_idx, level + 1)
                    fi = _mk_item(self.items, region_idx, "field_item",
                                  level + 1, "", self.layer)
                    for _, lbl, text in fields[k]:
                        _mk_item(self.items, fi, lbl, level + 2, text,
                                 self.layer)
                    continue
                if id(c) in consumed:
                    continue
                walk_form(c)

        walk_form(node)
        self._flush(region_idx, level + 1)
        return True

    def _handle_list(self, node: Element, parent_idx: int, level: int, ordered: bool) -> None:
        name = "ordered list" if ordered else "list"
        gidx = _mk_item(self.items, parent_idx, "list", level, name, self.layer)
        if ordered:
            start_attr = str(node.attrs.get("start") or "1")
            try:
                self.items[gidx]["_start"] = int(start_attr)
            except ValueError:
                self.items[gidx]["_start"] = 1
        for ch in node.children:
            if isinstance(ch, Element) and ch.tag == "li":
                self._handle_li(ch, gidx, level + 1)
            elif isinstance(ch, Element) and ch.tag in ("ul", "ol", "menu"):
                # list directly nested in list (malformed but common);
                # menu nests exactly like ul — same set as the block walker
                self._handle_list(ch, gidx, level + 1, ordered=(ch.tag == "ol"))

    def _handle_li(self, node: Element, parent_idx: int, level: int) -> None:
        # split li content into inline text and nested block children;
        # generic containers (div etc.) are scanned transparently so
        # DITA-style ul-in-div-in-li still nests (reference groundtruth
        # html_nested_block_in_list_item.html.md)
        saved_buf, self.buffer = self.buffer, []
        nested: list[tuple[str, Element]] = []

        def scan(n: Element) -> None:
            for ch in n.children:
                if isinstance(ch, str):
                    self._add_text(ch)
                elif ch.tag in INLINE_TAGS:
                    self._walk_inline(ch)
                elif ch.tag == "pre":
                    # docling folds pre-inside-li into the item text as code
                    self.fmt.append("code")
                    self._add_text(" ".join(self._plain_text(ch).split()))
                    self.fmt.pop()
                elif ch.tag in ("ul", "ol", "menu", "dl", "table"):
                    nested.append(("block", ch))
                elif ch.tag == "img":
                    nested.append(("img", ch))
                elif ch.tag == "p":
                    self._add_text(" ")
                    self._walk_inline_only(ch)
                    self._add_text(" ")
                else:
                    scan(ch)

        self._img_ctx_block = False
        try:
            scan(node)
        finally:
            self._img_ctx_block = True
        for el in self._pending_imgs:
            nested.append(("img", el))
        self._pending_imgs = []
        runs, self.buffer = self.buffer, saved_buf
        text = self._runs_to_text(runs)
        idx = _mk_item(self.items, parent_idx, "list_item", level, text, self.layer)
        for kind, blk in nested:
            if kind == "img":
                alt = clean_unicode(" ".join((blk.attrs.get("alt") or "").split()))
                if alt:
                    _mk_item(self.items, idx, "caption", level + 1, alt, self.layer)
                _mk_item(self.items, idx, "picture", level + 1, "", self.layer)
            elif blk.tag in ("ul", "ol", "menu"):
                self._handle_list(blk, idx, level + 1, ordered=(blk.tag == "ol"))
            elif blk.tag == "dl":
                self._handle_dl(blk, idx, level + 1)
            else:
                self._handle_table(blk, idx, level + 1)

    def _handle_dl(self, node: Element, parent_idx: int, level: int) -> None:
        """Description list: <dt> becomes a bold list item, following <dd>
        entries nest as a sub-list under it (matches reference groundtruth
        html_description_list.html.md)."""
        gidx = _mk_item(self.items, parent_idx, "list", level, "list", self.layer)
        cur_dt: int | None = None
        cur_sub: int | None = None
        for ch in node.children:
            if not (isinstance(ch, Element) and ch.tag in ("dt", "dd")):
                continue
            # split into inline content + nested block lists (dd may hold a dl)
            saved_buf, self.buffer = self.buffer, []
            nested: list[Element] = []
            if ch.tag == "dt":
                self.fmt.append("bold")
            for sub in ch.children:
                if isinstance(sub, str):
                    self._add_text(sub)
                elif sub.tag in INLINE_TAGS:
                    self._walk_inline(sub)
                elif sub.tag in ("dl", "ul", "ol"):
                    nested.append(sub)
                else:
                    self._walk_inline(sub)
            if ch.tag == "dt":
                self.fmt.pop()
            runs, self.buffer = self.buffer, saved_buf
            text = self._runs_to_text(runs)
            if ch.tag == "dt":
                if text or nested:
                    cur_dt = _mk_item(self.items, gidx, "list_item", level + 1, text, self.layer)
                    cur_sub = None
                target = cur_dt if cur_dt is not None else gidx
            else:
                if cur_dt is None:
                    target = _mk_item(self.items, gidx, "list_item", level + 1, text, self.layer) if text else gidx
                elif not text and nested:
                    # dd holding only nested lists: attach directly under the dt
                    target = cur_dt
                    cur_sub = None  # later text dds start a fresh sub-list after it
                else:
                    if cur_sub is None:
                        cur_sub = _mk_item(self.items, cur_dt, "list", level + 2, "list", self.layer)
                    target = _mk_item(self.items, cur_sub, "list_item", level + 3, text, self.layer) if text else cur_sub
            for blk in nested:
                if blk.tag == "dl":
                    self._handle_dl(blk, target, level + 2)
                else:
                    self._handle_list(blk, target, level + 2, ordered=(blk.tag == "ol"))

    def _handle_pre(self, node: Element, parent_idx: int, level: int) -> None:
        raw = self._plain_text(node)
        # preserve internal newlines; strip leading/trailing blank lines
        text = raw.strip("\n").rstrip()
        text = "\n".join(line.rstrip() for line in text.split("\n"))
        class_attr = node.attrs.get("class") or ""
        inner_code = self._find_first(node, "code")
        if inner_code is not None:
            class_attr = class_attr + " " + (inner_code.attrs.get("class") or "")
        lang = detect_code_language(text, class_attr)
        idx = _mk_item(self.items, parent_idx, "code", level, text, self.layer)
        self.items[idx]["code_language"] = lang  # extra key; dropped in schema projection

    def _handle_figure(self, node: Element, parent_idx: int, level: int) -> None:
        # figures without an <img> (e.g. <video>) emit nothing (reference
        # _handle_block: only img children produce pictures)
        if not node.find_all(frozenset(["img"])):
            return
        caption = ""
        for ch in node.children:
            if isinstance(ch, Element) and ch.tag == "figcaption":
                saved_buf, self.buffer = self.buffer, []
                self._walk_inline_only(ch)
                runs, self.buffer = self.buffer, saved_buf
                caption = self._runs_to_text(runs, markdown=False)
        if caption:
            _mk_item(self.items, parent_idx, "caption", level, caption, self.layer)
        _mk_item(self.items, parent_idx, "picture", level, "", self.layer)

    # -- tables -----------------------------------------------------------------
    def _handle_table(self, node: Element, parent_idx: int, level: int) -> None:
        """Occupancy-grid table parse with rowspan/colspan
        (html_backend.py:1467-1598, spans 4608-4633, dims 2599-2622).
        Spanned cells repeat their text in every covered grid slot — exactly
        the reference's md export behavior (groundtruth example_04)."""
        # caption first (document order: docling emits caption above table)
        for ch in node.children:
            if isinstance(ch, Element) and ch.tag == "caption":
                saved_buf, self.buffer = self.buffer, []
                self._walk_inline_only(ch)
                runs, self.buffer = self.buffer, saved_buf
                cap = self._runs_to_text(runs)
                if cap:
                    # table captions become items but are NOT rendered in the
                    # md export (matches reference groundtruth html_rich_table_cells)
                    cidx = _mk_item(self.items, parent_idx, "caption", level, cap, self.layer)
                    self.items[cidx]["_table_caption"] = True

        rows: list[Element] = []

        def collect_rows(n: Element):
            for ch in n.children:
                if not isinstance(ch, Element):
                    continue
                if ch.tag == "tr":
                    rows.append(ch)
                elif ch.tag in ("thead", "tbody", "tfoot"):
                    collect_rows(ch)

        collect_rows(node)

        # fixed grid dims (html_backend.py:2598-2620 get_html_table_row_col):
        # row-header-only rows don't count; cols = max sum of colspans per row
        num_rows = 0
        num_cols = 0
        for tr in rows:
            col_count = 0
            is_row_header = True
            cells0 = [c for c in tr.children if isinstance(c, Element) and c.tag in ("td", "th")]
            if not cells0:
                is_row_header = False
            for cell in cells0:
                cspan, rspan = _cell_spans(cell)
                col_count += cspan
                if cell.tag == "td" or rspan == 1:
                    is_row_header = False
            num_cols = max(num_cols, col_count)
            if not is_row_header:
                num_rows += 1

        grid: list[list[str | None]] = [[None] * num_cols for _ in range(num_rows)]

        # Row-header rule (html_backend.py:1495-1512): a row whose cells are
        # all <th> with rowspan>1 does not advance the row index; it opens a
        # span block (start_row_span) and its cells' rowspan shrinks by one.
        row_idx = -1
        start_row_span = 0
        for tr in rows:
            cells = [c for c in tr.children if isinstance(c, Element) and c.tag in ("td", "th")]
            row_header = bool(cells)
            for cell in cells:
                _, rspan = _cell_spans(cell)
                if cell.tag == "td" or rspan == 1:
                    row_header = False
                    break
            if not row_header:
                row_idx += 1
                start_row_span = 0
            else:
                start_row_span += 1
            ci = 0
            for cell in cells:
                colspan, rowspan = _cell_spans(cell)
                if row_header:
                    rowspan -= 1
                r0 = row_idx + start_row_span
                if 0 <= r0 < num_rows:
                    while ci < num_cols and grid[r0][ci] is not None:
                        ci += 1
                self._last_cell_rich = False
                text = self._cell_text(cell)
                rich = self._last_cell_rich
                for dr in range(start_row_span, start_row_span + rowspan):
                    for dc in range(colspan):
                        if 0 <= row_idx + dr < num_rows and ci + dc < num_cols:
                            if rich and not (dr == start_row_span and dc == 0):
                                grid[row_idx + dr][ci + dc] = ""
                            else:
                                grid[row_idx + dr][ci + dc] = text
                ci += colspan
        ncols = num_cols
        md_lines: list[str] = []
        for ri, r in enumerate(grid):
            # literal pipes inside a cell would split the md table — escape
            # them the docling-core way (md table serializer: | → &#124;)
            md_lines.append(
                "| " + " | ".join((c or "").replace("|", "&#124;") for c in r)
                + " |"
            )
            if ri == 0 and ncols:
                md_lines.append("| " + " | ".join("-" for _ in range(ncols)) + " |")
        text = "\n".join(md_lines)
        idx = _mk_item(self.items, parent_idx, "table", level, text, self.layer)
        self.items[idx]["num_rows"] = len(grid)
        self.items[idx]["num_cols"] = ncols

    def _cell_text(self, cell: Element) -> str:
        """Rich-cell flattening (html_backend.py:1404-1465 + docling-core md
        serialization of RichTableCell children): block-level sub-items join
        with TWO spaces; in-item newlines (from <br>) become single spaces;
        nested lists render inline '-'/'N.' markers; nested tables flatten;
        images render alt-caption + '<!-- image -->'."""
        blocks: list[str] = []
        block_kinds: list[str] = []

        def flush_runs(runs: list[_Run], kind: str = "text") -> None:
            runs = [r if BR_SENTINEL not in r.text else
                    _Run(r.text.replace(BR_SENTINEL, " "), r.fmt, r.href)
                    for r in runs]
            txt = self._runs_to_text(runs, markdown=True, escape=False).replace("\n", " ")
            if txt:
                blocks.append(txt)
                block_kinds.append(kind)

        def walk_blocks(node: Element, runs: list[_Run]) -> list[_Run]:
            for ch in node.children:
                if isinstance(ch, str):
                    runs.append(_Run(ch, frozenset(self.fmt), self.href))
                elif ch.tag in INLINE_TAGS:
                    saved, self.buffer = self.buffer, []
                    self._walk_inline(ch)
                    runs.extend(self.buffer)
                    self.buffer = saved
                    if self._pending_imgs:
                        flush_runs(runs)
                        runs = []
                        imgs, self._pending_imgs = self._pending_imgs, []
                        for el in imgs:
                            alt = (el.attrs.get("alt") or "").strip()
                            if alt:
                                blocks.append(clean_unicode(" ".join(alt.split())))
                                block_kinds.append("caption")
                            blocks.append("<!-- image -->")
                            block_kinds.append("picture")
                elif ch.tag in ("h1", "h2", "h3", "h4", "h5", "h6"):
                    flush_runs(runs)
                    hruns = walk_blocks(ch, [_Run("#" * int(ch.tag[1]) + " ", frozenset(), None)])
                    flush_runs(hruns, kind="heading")
                    runs = []
                elif ch.tag in ("p", "div", "blockquote", "summary", "dt", "dd"):
                    flush_runs(runs)
                    bruns = walk_blocks(ch, [])
                    # a block whose content is purely <code> runs becomes a
                    # code item → fenced form in the cell (GT inline_group)
                    nonempty = [r for r in bruns if r.text.strip()]
                    if nonempty and all("code" in r.fmt and not r.href for r in nonempty):
                        code = " ".join(" ".join(r.text.split()) for r in nonempty)
                        blocks.append("``` " + code + " ```")
                        block_kinds.append("code")
                    else:
                        flush_runs(bruns)
                    runs = []
                elif ch.tag in ("ul", "ol", "menu"):
                    flush_runs(runs)
                    runs = []
                    lruns: list[_Run] = []
                    n = 0
                    for li in ch.children:
                        if isinstance(li, Element) and li.tag == "li":
                            n += 1
                            marker = f"{n}." if ch.tag == "ol" else "-"
                            lruns.append(_Run(f" {marker} ", frozenset(), None))
                            lruns = walk_blocks(li, lruns)
                    flush_runs(lruns)
                elif ch.tag == "table":
                    flush_runs(runs)
                    runs = []
                    truns: list[_Run] = []
                    for sub in ch.find_all(frozenset(["td", "th"])):
                        # nested-table-in-cell: only LEAF cells contribute
                        # text (a cell wrapping another table would repeat
                        # every descendant cell — html_backend.py get_text
                        # visits each text node exactly once)
                        if sub.find_all(frozenset(["table"])):
                            continue
                        truns.append(_Run(" " + self._plain_text(sub), frozenset(), None))
                    flush_runs(truns)
                elif ch.tag == "pre":
                    if ch.find_all(frozenset(["a"])):
                        # links inside pre keep per-run code markup
                        flush_runs(runs)
                        self.fmt.append("code")
                        saved, self.buffer = self.buffer, []
                        self._walk_inline_only(ch)
                        pruns, self.buffer = self.buffer, saved
                        self.fmt.pop()
                        flush_runs(pruns)
                        runs = []
                    else:
                        flush_runs(runs)
                        runs = []
                        code = " ".join(self._plain_text(ch).split())
                        if code:
                            blocks.append("``` " + code + " ```")
                            block_kinds.append("code")
                elif ch.tag == "img":
                    flush_runs(runs)
                    runs = []
                    alt = (ch.attrs.get("alt") or "").strip()
                    if alt:
                        blocks.append(clean_unicode(" ".join(alt.split())))
                        block_kinds.append("caption")
                    blocks.append("<!-- image -->")
                    block_kinds.append("picture")
                else:
                    runs = walk_blocks(ch, runs)
            return runs

        self._img_ctx_block = False
        try:
            rest = walk_blocks(cell, [])
            flush_runs(rest)
        finally:
            self._img_ctx_block = True
        if len(blocks) == 1 and block_kinds[0] == "heading":
            return re.sub(r"^#+ ", "", blocks[0])
        def has_br(n: Element) -> bool:
            for ch in n.children:
                if isinstance(ch, Element):
                    if has_br(ch):
                        return True
                elif BR_SENTINEL in ch:
                    return True
            return False

        self._last_cell_rich = (
            len(blocks) > 1
            or any(k in ("picture", "caption", "code", "heading") for k in block_kinds)
            or any(("`" in b or "**" in b or "](" in b or "*" in b) for b in blocks)
            # a <br> splits the cell into multiple text elements in the
            # reference (split_by_newline), making it a rich cell whose
            # span copies render blank (xbrl EPS-table groundtruth)
            or has_br(cell)
        )
        return "  ".join(blocks)


def _span_num(s) -> int:
    s = str(s or "1")
    if s == "1":  # default / explicit span of 1 — the common case
        return 1
    if s and s[0].isnumeric():
        m = re.search(r"\d+", s)
        if m:
            return int(m.group())
    return 1


def _cell_spans(cell: Element) -> tuple[int, int]:
    """colspan/rowspan parse: leading-digit regex, default 1
    (html_backend.py:4608-4633)."""
    a = cell.attrs
    if not a:  # attribute-less cell — the overwhelmingly common case
        return 1, 1
    return _span_num(a.get("colspan", "1")), _span_num(a.get("rowspan", "1"))


# ---------------------------------------------------------------------------
# Serialization: items → markdown-style extracted text with span assignment
# ---------------------------------------------------------------------------


def _inline_group_text(by_parent: dict[int, list[Item]], group: Item
                       ) -> str:
    """Inline-group markdown: children join with single spaces, formula
    children render with single-$ delimiters (docling-core inline-group
    serialization; groundtruth docx equations.docx.md spacing)."""
    parts = []
    for ch in by_parent.get(group["item_idx"], []):
        if ch["label"] == "formula":
            parts.append("$" + ch["text"] + "$")
        else:
            parts.append(ch["text"])
    return " ".join(parts)


def serialize_items(items: list[Item], layer: str = "body") -> str:
    """Render the BODY layer to docling-markdown-style text and assign
    span_start/span_end offsets into the result for every rendered item
    (docling's save_as_markdown analog; separator: blank line between blocks,
    4-space indents for nested lists, '#'*level headings, pipe tables)."""
    out: list[str] = []
    pos = 0
    rendered_caps: set[int] = set()
    by_parent: dict[int, list[Item]] = {}
    for it in items:
        by_parent.setdefault(it["parent_idx"], []).append(it)

    def emit(text: str, it: Item | None):
        nonlocal pos
        if out:
            pos += 2  # "\n\n" separator
        if it is not None:
            it["span_start"] = pos
            it["span_end"] = pos + len(text)
        out.append(text)
        pos += len(text)

    def render_list(group: Item, indent: int, buf: list[str], counters: bool):
        n = group.get("_start", 1) - 1
        for ch in by_parent.get(group["item_idx"], []):
            if ch["content_layer"] != layer:
                continue
            if ch["label"] == "list_item":
                child_indent = indent + 1
                if ch["text"] or ch.get("_marker"):
                    n += 1
                    # an explicit marker (docx numbering: '3.', '-') wins
                    # over the group counter
                    marker = ch.get("_marker") or (f"{n}." if counters
                                                   else "-")
                    # docling-core md list serializer protects item text
                    # that would re-parse as an ordered-list marker
                    # (groundtruth md/mixed_without_h1: '2\\. strange'
                    # → '2 . strange'). Items with explicit markers (docx/
                    # pptx) keep their text verbatim (pptx groundtruth
                    # '- 1. Finalize pricing model').
                    item_text = ch["text"] if ch.get("_marker") else \
                        re.sub(r"^(\d+)\.(?=\s|$)", r"\1 .", ch["text"])
                    for sub in by_parent.get(ch["item_idx"], []):
                        if sub["label"] == "inline":
                            inline_txt = _inline_group_text(by_parent, sub)
                            item_text = (f"{item_text} {inline_txt}"
                                         if item_text else inline_txt)
                    line = "    " * indent + f"{marker} " + item_text
                    buf.append(line)
                for sub in by_parent.get(ch["item_idx"], []):
                    if sub["label"] == "list":
                        render_list(sub, child_indent, buf,
                                    counters=(sub["text"] == "ordered list"))
                    elif sub["label"] == "caption":
                        buf.append(sub["text"])
                    elif sub["label"] == "picture":
                        buf.append("<!-- image -->")
            elif ch["label"] == "list":
                render_list(ch, indent + 1, buf, counters=(ch["text"] == "ordered list"))

    def walk(idx: int):
        for it in by_parent.get(idx, []):
            if it["content_layer"] != layer and it["label"] != "unspecified":
                # furniture subtrees still walked: children may be body
                walk(it["item_idx"])
                continue
            label = it["label"]
            if label == "unspecified":
                walk(it["item_idx"])
            elif label in ("title", "section_header"):
                hashes = "#" * _heading_rank(items, it)
                emit(hashes + " " + it["text"], it)
                walk(it["item_idx"])
            elif label == "text":
                emit(it["text"], it)
                walk(it["item_idx"])
            elif label == "list":
                buf: list[str] = []
                render_list(it, 0, buf, counters=(it["text"] == "ordered list"))
                if buf:
                    block = "\n".join(buf)
                    emit(block, it)
                    # per-line spans for the list items
                    _assign_list_spans(items, it, by_parent, block,
                                       it["span_start"])
            elif label == "code":
                emit("```\n" + it["text"] + "\n```", it)
            elif label == "table":
                if it["text"]:
                    emit(it["text"], it)
            elif label == "caption":
                if not it.get("_table_caption") and \
                        it["item_idx"] not in rendered_caps:
                    rendered_caps.add(it["item_idx"])
                    emit(it["text"], it)
            elif label == "picture":
                # a picture's caption ref renders before the marker at
                # the FIRST occurrence in reading order; the caption's
                # own body position is then suppressed (and vice versa)
                cap = it.get("_cap_ref")
                if cap is not None and cap not in rendered_caps:
                    rendered_caps.add(cap)
                    emit(items[cap]["text"], items[cap])
                emit("<!-- image -->", it)
            elif label in ("field_region", "field_item"):
                # docling-core md serializer has no field renderer; each
                # region/item emits the missing-text marker (groundtruth
                # html/kvp_data_example.html.md)
                emit("<!-- missing-text -->", it)
                walk(it["item_idx"])
            elif label in ("checkbox_selected", "checkbox_unselected"):
                # docling-core md export renders checkboxes as task-list
                # items (reference right_to_left_03.md: '- [x] ...')
                mark = "x" if label == "checkbox_selected" else " "
                emit(f"- [{mark}] " + it["text"], it)
            elif label == "key_value_region":
                # docling-core md serializer has no KVP renderer; it emits
                # the missing-item marker (xbrl groundtruth md tail)
                emit("<!-- missing-key-value-item -->", it)
            elif label == "formula":
                # block formula: verbatim LaTeX in $$ $$; formulas lifted
                # out of running text keep single-$ delimiters. An
                # empty-text formula (GLM stores the source only in orig,
                # glm_utils.py:311-314) serializes as the docling-core
                # not-decoded marker instead of bare delimiters
                if not it["text"]:
                    emit("<!-- formula-not-decoded -->", it)
                else:
                    d = "$" if it.get("_inline") else "$$"
                    emit(d + it["text"] + d, it)
            elif label == "inline":
                block = _inline_group_text(by_parent, it)
                if block:
                    emit(block, it)
                    off = it["span_start"]
                    for ch in by_parent.get(it["item_idx"], []):
                        part = ("$" + ch["text"] + "$"
                                if ch["label"] == "formula" else ch["text"])
                        ch["span_start"] = off
                        ch["span_end"] = off + len(part)
                        off += len(part) + 1
            elif label in ("section", "sheet", "chapter"):
                # sheet/chapter groups: structural only — the plain md
                # serializer renders nothing for them (legacy xls/ppt
                # groundtruth md carries no sheet/slide headings)
                walk(it["item_idx"])
            else:
                if it["text"]:
                    emit(it["text"], it)
                walk(it["item_idx"])

    walk(0)
    # also walk children of root-level furniture? handled above via recursion
    return "\n\n".join(out)


_LIST_LINE_RE = re.compile(r"^\s*(?:[-*+]|\d+\.)\s")


def _assign_list_spans(items, group, by_parent, block, off):
    """Span offsets for list items: pair each RENDERED list line with the
    item that produced it. Items that emit no line (empty text, no
    marker) are skipped on the item side; caption / ``<!-- image -->``
    lines are skipped on the line side — a positional zip across the raw
    sequences shifted every span after the first image or empty item."""
    lines = block.split("\n")
    line_starts = []
    c = off
    for ln in lines:
        line_starts.append(c)
        c += len(ln) + 1

    li_items = []

    def gather(g):
        for ch in by_parent.get(g["item_idx"], []):
            if ch["label"] == "list_item":
                # mirror the renderer's gate: only items that emitted a
                # line participate (htmlx list renderer skips empty text
                # without an explicit marker)
                if ch["text"] or ch.get("_marker"):
                    li_items.append(ch)
                for sub in by_parent.get(ch["item_idx"], []):
                    if sub["label"] == "list":
                        gather(sub)
            elif ch["label"] == "list":
                gather(ch)

    gather(group)
    li_lines = [(ln, st) for ln, st in zip(lines, line_starts)
                if _LIST_LINE_RE.match(ln)]

    def _parts(ln):
        stripped = ln.lstrip()
        indent = len(ln) - len(stripped)
        marker_len = stripped.find(" ") + 1 if " " in stripped else 0
        return indent, marker_len

    if len(li_lines) != len(li_items):
        # an impostor line passed the marker-shape filter (a caption /
        # img-alt whose text begins '- '): positional zip would shift
        # every span after it. Content-checked sequential pairing — a
        # line is consumed for an item only when its post-marker body
        # matches the item's rendered text.
        pos = 0
        for ch in li_items:
            while pos < len(li_lines):
                ln, st = li_lines[pos]
                indent, marker_len = _parts(ln)
                pos += 1
                if ln[indent + marker_len:] == ch["text"]:
                    ch["span_start"] = st + indent + marker_len
                    ch["span_end"] = st + len(ln)
                    break
        return
    for ch, (ln, st) in zip(li_items, li_lines):
        indent, marker_len = _parts(ln)
        ch["span_start"] = st + indent + marker_len
        ch["span_end"] = st + len(ln)


def _heading_rank(items: list[Item], it: Item) -> int:
    """Markdown heading depth mirrors the source hN tag (docling-core md
    serializer: title → '#', section_header hN → '#'*N)."""
    if it["label"] == "title":
        return 1
    return min(6, max(2, it.get("_hlevel", 2)))


def extract_html(payload: str,
                 infer_furniture: bool = True) -> tuple[str, list[Item]]:
    """payload → (extracted_text, items). The single-document entry point
    used by the pandas-UDF operator. ``infer_furniture`` mirrors the
    reference backend option (backend_options.py:112, consumed at
    html_backend.py:570-574): False starts the walk in the BODY layer,
    so content before the first heading is document content — the
    setting round-trips our own HTML export of heading-less sources."""
    ex = HtmlExtractor(infer_furniture=infer_furniture)
    items = ex.extract(payload)
    text = serialize_items(items, layer="body")
    return text, items
