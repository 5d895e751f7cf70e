"""From-scratch LaTeX node parser + document walker.

Re-expresses the reference LaTeX backend's semantics
(docling/backend/latex/backend.py:188-265 node dispatch,
handlers/macros.py macro rules, handlers/environments.py environment
rules, handlers/math.py math cleaning, utils/text.py text assembly,
utils/table.py tabular grids, constants.py rule tables) together with
the argument/node model of the public pylatexenc ``latexwalker`` API
the reference builds on: known macros own their parsed arguments,
unknown macros take none (their brace groups stay sibling nodes),
a mandatory argument without braces captures a single token, alpha
macro names swallow following whitespace, and bare ``&``/``~`` are
specials nodes that the walker silently drops.

No code is shared with either source; the parser below is a single
recursive-descent pass and the walker emits this repo's flat Item
table directly.
"""

from __future__ import annotations

import re

# ---------------------------------------------------------------------------
# Node model
# ---------------------------------------------------------------------------


class Chars:
    __slots__ = ("chars", "pos", "end")

    def __init__(self, chars: str, pos: int = -1, end: int = -1):
        self.chars = chars
        self.pos = pos
        self.end = end


class Comment:
    __slots__ = ("pos", "end")

    def __init__(self, pos: int, end: int):
        self.pos = pos
        self.end = end


class Specials:
    __slots__ = ("chars", "pos", "end")

    def __init__(self, chars: str, pos: int, end: int):
        self.chars = chars
        self.pos = pos
        self.end = end


class Macro:
    __slots__ = ("name", "args", "post_space", "pos", "end")

    def __init__(self, name: str, args: list, post_space: str,
                 pos: int, end: int):
        self.name = name
        self.args = args          # list of node|None per spec slot
        self.post_space = post_space
        self.pos = pos
        self.end = end


class Group:
    __slots__ = ("nodes", "delim", "pos", "end")

    def __init__(self, nodes: list, delim: str, pos: int, end: int):
        self.nodes = nodes
        self.delim = delim        # '{' or '['
        self.pos = pos
        self.end = end


class MathN:
    __slots__ = ("display", "delim", "body", "pos", "end")

    def __init__(self, display: bool, delim: str, body: str,
                 pos: int, end: int):
        self.display = display
        self.delim = delim        # '$', '$$', '\\(', '\\['
        self.body = body          # raw inner text
        self.pos = pos
        self.end = end


class Env:
    __slots__ = ("name", "args", "nodes", "pos", "end")

    def __init__(self, name: str, args: list, nodes: list,
                 pos: int, end: int):
        self.name = name
        self.args = args
        self.nodes = nodes
        self.pos = pos
        self.end = end


# ---------------------------------------------------------------------------
# Macro signature table (pylatexenc-default-model subset: '*' star flag,
# '[' optional arg, '{' mandatory arg). Unlisted macros take NO arguments.
# ---------------------------------------------------------------------------

# paragraph is deliberately absent from the spec table: its brace group
# leaks as a text-only group and glues with following text (groundtruth
# 2412.19437 'MTP in Inference.Our MTP strategy') — while subparagraph
# IS known and renders as a level-5 heading (2501.00089
# '###### Acknowledgments.')
_HEADINGS = ("part", "chapter", "section", "subsection", "subsubsection",
             "subparagraph")

MACRO_SPECS: dict[str, str] = {
    # sectioning
    **{h: "*[{" for h in _HEADINGS},
    # text formatting / style
    "textbf": "{", "textit": "{", "emph": "{", "texttt": "{",
    "underline": "{", "textsc": "{", "textsf": "{", "textrm": "{",
    "textnormal": "{", "mbox": "{", "text": "{",
    # front matter
    "title": "{", "author": "{", "date": "{", "thanks": "{",
    # citations / refs
    "cite": "*[[{", "citep": "*[[{", "citet": "*[[{",
    "citealt": "*[[{", "citealp": "*[[{",
    "ref": "{", "eqref": "{", "pageref": "{", "autoref": "{",
    "label": "{",
    # notes (caption is deliberately absent: its brace group is processed
    # as sibling nodes, so an embedded \label is absorbed structurally
    # instead of leaking its key — groundtruth 2501.00089 fig captions)
    "footnote": "[{", "marginpar": "[{",
    # graphics / files
    "includegraphics": "*[[{", "input": "{", "include": "{",
    # bibliographystyle and bibitem are deliberately absent: their brace
    # groups leak as text-only groups (groundtruth 'cas-model2-names';
    # 1706.03762 bibliography keys glue with their entry bodies)
    "graphicspath": "{", "bibliography": "{",
    # urls
    "url": "{", "href": "{{",
    # definitions
    "newcommand": "*{[[{", "renewcommand": "*{[[{",
    "providecommand": "*{[[{", "newenvironment": "*{[[{{",
    "renewenvironment": "*{[[{{",
    "DeclareMathOperator": "*{{", "newtheorem": "*{[{[",
    # preamble / setup
    "documentclass": "[{", "usepackage": "[{", "RequirePackage": "[{",
    "LoadClass": "[{", "ProvidesPackage": "{[", "ProvidesClass": "{[",
    "NeedsTeXFormat": "{[", "DeclareOption": "{{",
    "hypersetup": "{", "geometry": "{", "lstset": "{",
    "setlength": "{{", "addtolength": "{{", "setcounter": "{{",
    "addtocounter": "{{", "newlength": "{", "newcounter": "{[",
    "pagestyle": "{", "thispagestyle": "{", "pagenumbering": "{",
    "markboth": "{{", "markright": "{", "hyphenation": "{",
    "vspace": "*{", "hspace": "*{",
    # spacing-with-star forms only; \vskip/\hskip read TeX glue (no
    # braced args) so they stay spec-less like the reference notes
    # colors
    "textcolor": "[{{", "colorbox": "[{{",
    "color": "[{", "definecolor": "{{{", "colorlet": "{{",
    # multicolumn / multirow / cmidrule / cline / specialrule are
    # deliberately absent: the parser model leaves their brace groups as
    # sibling nodes, so spanned-cell text glues together exactly like the
    # groundtruth ('2cRMSE: Metallicity', '(lr)2-3(lr)4-5')
    # misc with one arg
    "phantom": "{", "hphantom": "{", "vphantom": "{",
    "item": "[",
    "\\": "*[",
    # accents (single mandatory arg)
    '"': "{", "'": "{", "`": "{", "^": "{", "~": "{", "=": "{", ".": "{",
    "c": "{", "v": "{", "u": "{", "H": "{", "b": "{", "d": "{",
    "t": "{", "k": "{", "r": "{",
}

# environment signatures (arguments after \begin{name}).
# tabular takes ONE mandatory arg (no optional): \begin{tabular}[c]{..}
# leaves 'c]' in the stream, matching groundtruth 'c]@c@Chatbot Arena'.
# wrapfigure is unknown: its {r}{0.275\textwidth} groups leak ('r0.275').
ENV_SPECS: dict[str, str] = {
    "tabular": "{", "tabular*": "{{", "array": "{",
    # minipage is unknown: its [t]{0.5\textwidth} args leak as '[t]0.5'
    # (1706.03762 groundtruth)
    "figure": "[", "table": "[", "figure*": "[", "table*": "[",
    "itemize": "[", "enumerate": "[",
    "description": "[",
    # thebibliography's {widest-label} arg is NOT consumed — it leaks as
    # the first pseudo-entry ('- 10' in the 1706.03762 groundtruth)
    "list": "{{",
    "lstlisting": "[", "minted": "[{",
    "alignat": "{", "alignat*": "{",
}

_VERBATIM_ENVS = {"verbatim", "verbatim*", "lstlisting", "minted",
                  "filecontents", "filecontents*", "comment"}

_MATH_ENVS = {
    "equation", "align", "gather", "multline", "flalign", "alignat",
    "displaymath", "eqnarray", "dmath", "dgroup", "darray", "math",
}

_ALPHA_RE = re.compile(r"[a-zA-Z]+")
_WS_RE = re.compile(r"\s*")
_MULTI_SPACE_RE = re.compile(r" +")
# every char that can take a non-default branch in _parse_nodes
_PLAIN_RUN_RE = re.compile(r"[%{}\])$\\&~`'!?-]")
_MULTI_BLANK_RE = re.compile(r"\n\n+")
_LABEL_RE = re.compile(r"\\label\{.*?\}")
# a comment swallows its newline + next-line indentation ONLY when
# real content follows — a blank line after a trailing % stays in the
# chars stream so the paragraph break survives (groundtruth 2501.00089
# 'SL322. %\n\nIn Figure')
_COMMENT_RE = re.compile(r"%[^\n]*(?:\n[ \t]*(?=\S))?")


class _Parser:
    """Single-pass tolerant recursive-descent parser producing the node
    model above.  ``stop`` protocol: '}' / ']' return to the enclosing
    group, the name of an environment returns at its \\end."""

    def __init__(self, src: str):
        self.src = src
        self.n = len(src)

    # -- helpers ------------------------------------------------------

    def _skip_ws(self, pos: int) -> int:
        m = _WS_RE.match(self.src, pos)
        p = m.end()
        # skip %-comments between a macro and its arguments: without
        # this, '\section %titles\n{Real Title}' captured '%' as the
        # mandatory argument and leaked the comment body into text
        while p < self.n and self.src[p] == "%":
            nl = self.src.find("\n", p)
            p = self.n if nl < 0 else nl + 1
            m = _WS_RE.match(self.src, p)
            p = m.end()
        return p

    def _scan_math(self, pos: int, closer: str) -> int:
        """Index of `closer` starting at pos, honouring backslash
        escapes and %-comments; returns len(src) if unterminated."""
        s, n = self.src, self.n
        i = pos
        lc = len(closer)
        while i < n:
            c = s[i]
            if c == "\\":
                i += 2
                continue
            if c == "%":
                j = s.find("\n", i)
                i = n if j < 0 else j + 1
                continue
            if s.startswith(closer, i):
                return i
            i += 1
        return n

    # -- argument parsing ----------------------------------------------

    def _parse_args(self, pos: int, spec: str) -> tuple[list, int]:
        args: list = []
        for ch in spec:
            if ch == "*":
                p = self._skip_ws(pos)
                if p < self.n and self.src[p] == "*":
                    args.append(Chars("*", p, p + 1))
                    pos = p + 1
                else:
                    args.append(None)
            elif ch == "[":
                p = self._skip_ws(pos)
                if p < self.n and self.src[p] == "[":
                    nodes, q = self._parse_nodes(p + 1, stop="]")
                    args.append(Group(nodes, "[", p, q))
                    pos = q
                else:
                    args.append(None)
            elif ch == "(":
                # optional parenthesised group (\cmidrule(lr){2-3})
                p = self._skip_ws(pos)
                if p < self.n and self.src[p] == "(":
                    nodes, q = self._parse_nodes(p + 1, stop=")")
                    args.append(Group(nodes, "(", p, q))
                    pos = q
                else:
                    args.append(None)
            elif ch == "{":
                p = self._skip_ws(pos)
                if p >= self.n:
                    args.append(None)
                    pos = p
                elif self.src[p] == "{":
                    nodes, q = self._parse_nodes(p + 1, stop="}")
                    args.append(Group(nodes, "{", p, q))
                    pos = q
                elif self.src[p] == "\\":
                    node, q = self._parse_one_macro(p)
                    args.append(node)
                    pos = q
                else:
                    args.append(Chars(self.src[p], p, p + 1))
                    pos = p + 1
        return args, pos

    def _parse_one_macro(self, pos: int):
        """A single \\macro token (with its own args) used as an
        unbraced mandatory argument."""
        s = self.src
        m = _ALPHA_RE.match(s, pos + 1)
        if m:
            name = m.group(0)
            p = m.end()
            ws = _WS_RE.match(s, p)
            post = ws.group(0)
            p = ws.end()
        else:
            if pos + 1 >= self.n:
                return Chars("\\", pos, pos + 1), pos + 1
            name = s[pos + 1]
            post = ""
            p = pos + 2
        args, p2 = self._parse_args(p, MACRO_SPECS.get(name, ""))
        return Macro(name, args, post, pos, p2), p2

    # -- main loop ------------------------------------------------------

    def parse(self) -> list:
        nodes, _ = self._parse_nodes(0, stop=None)
        return nodes

    def _parse_nodes(self, pos: int, stop) -> tuple[list, int]:
        """Parse until `stop`:
        None  → end of input
        '}'   → closing brace (consumed)
        ']'   → closing bracket (consumed)
        ')'   → closing paren (consumed)
        ('env', name) → \\end{name} (consumed)
        """
        s, n = self.src, self.n
        nodes: list = []
        buf: list[str] = []
        buf_start = pos

        def flush(endpos: int):
            if buf:
                nodes.append(Chars("".join(buf), buf_start, endpos))
                buf.clear()

        i = pos
        while i < n:
            c = s[i]
            if c == "%":
                flush(i)
                m = _COMMENT_RE.match(s, i)
                nodes.append(Comment(i, m.end()))
                i = m.end()
                buf_start = i
            elif c == "{":
                flush(i)
                inner, j = self._parse_nodes(i + 1, stop="}")
                nodes.append(Group(inner, "{", i, j))
                i = j
                buf_start = i
            elif c == "}":
                if stop == "}":
                    flush(i)
                    return nodes, i + 1
                # tolerant: stray close brace is dropped
                i += 1
            elif c == "]" and stop == "]":
                flush(i)
                return nodes, i + 1
            elif c == ")" and stop == ")":
                flush(i)
                return nodes, i + 1
            elif c == "$":
                flush(i)
                if s.startswith("$$", i):
                    j = self._scan_math(i + 2, "$$")
                    nodes.append(MathN(True, "$$", s[i + 2:j], i,
                                       min(j + 2, n)))
                    i = min(j + 2, n)
                else:
                    j = self._scan_math(i + 1, "$")
                    nodes.append(MathN(False, "$", s[i + 1:j], i,
                                       min(j + 1, n)))
                    i = min(j + 1, n)
                buf_start = i
            elif c == "\\":
                nxt = s[i + 1] if i + 1 < n else ""
                if nxt == "(":
                    flush(i)
                    j = self._scan_math(i + 2, "\\)")
                    nodes.append(MathN(False, "\\(", s[i + 2:j], i,
                                       min(j + 2, n)))
                    i = min(j + 2, n)
                    buf_start = i
                elif nxt == "[":
                    flush(i)
                    j = self._scan_math(i + 2, "\\]")
                    nodes.append(MathN(True, "\\[", s[i + 2:j], i,
                                       min(j + 2, n)))
                    i = min(j + 2, n)
                    buf_start = i
                elif nxt in (")", "]"):
                    # stray math closer — tolerant skip
                    i += 2
                else:
                    flush(i)
                    node, j = self._parse_macro(i, stop)
                    if node == "STOP-END":
                        return nodes, j
                    if node is not None:
                        nodes.append(node)
                    i = j
                    buf_start = i
            elif c in "&~":
                flush(i)
                nodes.append(Specials(c, i, i + 1))
                i += 1
                buf_start = i
            elif c == "-" and s.startswith("--", i):
                # -- / --- dash ligature specials (dropped by the walker)
                ln = 3 if s.startswith("---", i) else 2
                flush(i)
                nodes.append(Specials(s[i:i + ln], i, i + ln))
                i += ln
                buf_start = i
            elif (c == "`" and s.startswith("``", i)) or \
                    (c == "'" and s.startswith("''", i)):
                flush(i)
                nodes.append(Specials(s[i:i + 2], i, i + 2))
                i += 2
                buf_start = i
            elif c in "!?" and s.startswith(c + "`", i):
                flush(i)
                nodes.append(Specials(s[i:i + 2], i, i + 2))
                i += 2
                buf_start = i
            else:
                # ordinary text: bulk-append the whole run up to the next
                # potentially-special char (the per-char append dominated
                # latex parse profiles); chars in between can never hit a
                # dispatch branch above, so the slice is equivalent
                m = _PLAIN_RUN_RE.search(s, i + 1)
                j = m.start() if m else n
                buf.append(s[i:j])
                i = j
        flush(i)
        return nodes, i

    def _read_env_name(self, pos: int) -> tuple[str | None, int]:
        """{name} after \\begin or \\end; returns (name, newpos)."""
        p = self._skip_ws(pos)
        if p < self.n and self.src[p] == "{":
            j = self.src.find("}", p + 1)
            if j >= 0:
                return self.src[p + 1:j], j + 1
        return None, pos

    def _parse_macro(self, pos: int, stop):
        s, n = self.src, self.n
        m = _ALPHA_RE.match(s, pos + 1)
        if m:
            name = m.group(0)
            p = m.end()
        else:
            if pos + 1 >= n:
                return Chars("\\", pos, pos + 1), pos + 1
            name = s[pos + 1]
            p = pos + 2

        if name == "begin":
            env_name, p2 = self._read_env_name(p)
            if env_name is None:
                return Macro("begin", [], "", pos, p), p
            return self._parse_env(env_name, pos, p2)

        if name == "end":
            env_name, p2 = self._read_env_name(p)
            if isinstance(stop, tuple) and stop[0] == "env":
                # any \end closes the innermost environment (tolerant);
                # a mismatched name ends it all the same
                return "STOP-END", p2
            # stray \end at top level: drop
            return None, p2

        if name == "verb":
            # \verb<delim>text<delim> (optional star)
            star = ""
            if p < n and s[p] == "*":
                star = "*"
                p += 1
            if p < n:
                delim = s[p]
                j = s.find(delim, p + 1)
                if j < 0:
                    j = n
                content = s[p + 1:j]
                arg = Group([Chars(content, p + 1, j)], "{", p, j + 1)
                return Macro("verb" + star, [arg], "", pos,
                             min(j + 1, n)), min(j + 1, n)
            return Macro("verb", [], "", pos, p), p

        post = ""
        if m:  # alpha-named macros swallow following whitespace
            ws = _WS_RE.match(s, p)
            post = ws.group(0)
            p = ws.end()
        args, p2 = self._parse_args(p, MACRO_SPECS.get(name, ""))
        return Macro(name, args, post, pos, p2), p2

    def _parse_env(self, env_name: str, begin_pos: int, pos: int):
        s, n = self.src, self.n
        base = env_name.rstrip("*")
        if env_name in _VERBATIM_ENVS or base in _VERBATIM_ENVS:
            closer = "\\end{" + env_name + "}"
            j = s.find(closer, pos)
            if j < 0:
                j = n
                end = n
            else:
                end = j + len(closer)
            return Env(env_name, [], [Chars(s[pos:j], pos, j)],
                       begin_pos, end), end
        args, p = self._parse_args(pos, ENV_SPECS.get(env_name, ""))
        nodes, p2 = self._parse_nodes(p, stop=("env", env_name))
        return Env(env_name, args, nodes, begin_pos, p2), p2


def node_verbatim(src: str, node) -> str:
    if node.pos >= 0 and node.end >= 0:
        return src[node.pos:node.end]
    if isinstance(node, Chars):
        return node.chars
    return ""


# ---------------------------------------------------------------------------
# Document walker (reference rule tables: docling/backend/latex/constants.py)
# ---------------------------------------------------------------------------

from docling_spark.engine.htmlx import Item, _mk_item, new_items  # noqa: E402
from docling_spark.engine.jsonx import _table_md  # noqa: E402

_NEWCOMMAND = frozenset(["newcommand", "renewcommand", "providecommand"])
_PREAMBLE_META = frozenset(["title", "author", "date"])
_INLINE_VERBATIM = frozenset(["%", "$", "&", "#", "_", "{", "}", "~"])
_TEXT_FORMATTING = frozenset(["textbf", "textit", "emph", "texttt",
                              "underline"])
_CITATION = frozenset(["cite", "citep", "citet", "ref", "eqref"])
_COLOR = frozenset(["color", "definecolor", "colorlet"])
_COLOR_INLINE = frozenset(["textcolor", "colorbox"])
_STRUCTURAL = frozenset([
    "section", "subsection", "subsubsection", "chapter", "part",
    "paragraph", "subparagraph", "caption", "label", "includegraphics",
    "bibliography", "title", "author", "maketitle", "footnote",
    "marginpar", "textsc", "textsf", "textrm", "textnormal", "mbox",
    "href", "newline", "hfill", "break", "centering", "textcolor",
    "colorbox", "item", "input", "include",
])
_HEADING_LEVELS = {"part": 1, "chapter": 1, "section": 1,
                   "subsection": 2, "subsubsection": 3,
                   "paragraph": 4, "subparagraph": 5}
_TEXT_STYLE = frozenset(["textsc", "textsf", "textrm", "textnormal",
                         "mbox"])
_IGNORED = frozenset([
    "documentclass", "usepackage", "geometry", "hypersetup", "lstset",
    "bibliographystyle", "newcommand", "renewcommand", "def", "let",
    "edef", "gdef", "xdef", "newenvironment", "renewenvironment",
    "DeclareMathOperator", "DeclareMathSymbol", "setlength",
    "setcounter", "addtolength", "color", "definecolor", "colorlet",
    "AtBeginDocument", "AtEndDocument", "newlength", "newcounter",
    "newif", "providecommand", "DeclareOption", "RequirePackage",
    "ProvidesPackage", "LoadClass", "makeatletter", "makeatother",
    "NeedsTeXFormat", "ProvidesClass", "DeclareRobustCommand",
    "newtheorem", "theoremstyle", "newtheoremstyle", "documentstyle",
    "pagestyle", "thispagestyle", "pagenumbering", "tableofcontents",
    "listoffigures", "listoftables", "appendix", "cleardoublepage",
    "clearpage", "newpage", "markboth", "markright", "lhead", "rhead",
    "cfoot", "hyphenation", "overfullrule", "protect",
])
_SPACING = frozenset(["newline", "hfill", "break", "centering",
                      "noindent", "par", "smallskip", "medskip",
                      "bigskip", "vfill", "vskip", "hskip", "vspace",
                      "hspace"])
_ESCAPED = frozenset(["&", "%", "$", "#", "_", "{", "}"])
_ENV_MATH_CLEAN = frozenset(["equation", "equation*", "displaymath",
                             "math", "eqnarray", "eqnarray*", "dmath",
                             "dmath*"])
_ENV_THEOREM = frozenset(["theorem", "lemma", "corollary", "proposition",
                          "definition", "remark", "example",
                          "conjecture"])
_ENV_LIST = frozenset(["itemize", "enumerate", "description"])
_ENV_QUOTE = frozenset(["quote", "quotation", "verse"])
_TABLE_RULE = frozenset(["hline", "cline", "toprule", "midrule",
                         "bottomrule", "cmidrule", "specialrule"])
_TABLE_IGNORE = frozenset(["rule", "vspace", "hspace", "vskip", "hskip",
                           "smallskip", "medskip", "bigskip", "strut",
                           "phantom", "hphantom", "vphantom", "noalign"])

_MD_ESC_US = re.compile(r"(?<!\\)_")


def _md_esc(text: str) -> str:
    """docling-core markdown text escaping: html entities + bare
    underscores (an underscore already carrying its latex backslash is
    left alone — groundtruth $warmup\\_steps$)."""
    t = (text.replace("&", "&amp;").replace("<", "&lt;")
         .replace(">", "&gt;"))
    if "_" not in t:  # common case: skip the lookbehind regex
        return t
    return _MD_ESC_US.sub(r"\\_", t)


class TexWalker:
    """Mirror of the reference's node dispatch
    (docling/backend/latex/backend.py:188-265) emitting the flat Item
    table this repo's serializers consume."""

    def __init__(self, src: str, files: dict[str, str] | None = None):
        self.src = src
        self.files = files or {}
        self.items = new_items()
        self.custom: dict[str, str] = {}
        self.custom_nargs: dict[str, int] = {}
        self.labels: dict[str, bool] = {}
        self._input_stack: set[str] = set()

    # -- item emitters ---------------------------------------------------

    def _add(self, parent: int, label: str, text: str,
             dl: str | None = None, esc: bool = True) -> int:
        stored = _md_esc(text) if esc else text
        idx = _mk_item(self.items, parent, label,
                       self.items[parent]["level"] + 1, stored, "body")
        if stored != text:
            # itxt dumps the raw (un-md-escaped) text
            self.items[idx]["_raw"] = text
        return idx

    def _add_heading(self, parent: int, text: str, level: int) -> int:
        idx = self._add(parent, "section_header", text, "section_header")
        self.items[idx]["_hlevel"] = level + 1
        return idx

    # -- verbatim / fragment helpers --------------------------------------

    def _verb(self, node) -> str:
        return node_verbatim(self.src, node)

    def _expand_macros(self, s: str) -> str:
        if "\\" not in s:
            return s  # no macro can occur — skip every substitution
        for name, definition in self.custom.items():
            if self.custom_nargs.get(name, 0) > 0:
                continue
            if "\\" + name not in s:
                # substring guard: macro-heavy papers define hundreds of
                # commands; paying a regex pass per definition per math
                # node dominated profiles
                continue
            s = re.sub(rf"\\{re.escape(name)}(?![a-zA-Z])",
                       lambda m: definition, s)
        return s

    def _parse_fragment_to_text(self, fragment: str) -> str:
        try:
            nodes = _Parser(fragment).parse()
        except Exception:
            return fragment
        # fragment nodes carry fragment-relative offsets; text assembly
        # only needs verbatims of math/env/citation nodes, so swap src
        old = self.src
        self.src = fragment
        try:
            return self._nodes_to_text(nodes)
        finally:
            self.src = old

    # -- custom macros (handlers/macros.py:83-131) -------------------------

    def extract_custom_macros(self, nodes, depth: int = 0) -> None:
        if nodes is None or depth > 10:
            return
        for node in nodes:
            if isinstance(node, Macro) and node.name in _NEWCOMMAND \
                    and node.args:
                argn = node.args
                name_arg = argn[1] if len(argn) > 1 else None
                nargs_arg = argn[2] if len(argn) > 2 else None
                def_arg = None
                for a in reversed(argn):
                    if a is not None:
                        def_arg = a
                        break
                if name_arg is not None and def_arg is not None \
                        and name_arg is not def_arg:
                    raw = self._verb(name_arg)
                    name = raw.strip("{} \n\t")
                    if name.startswith("\\"):
                        name = name[1:]
                    if isinstance(def_arg, Group):
                        body = self._verb(def_arg)
                        if body.startswith("{") and body.endswith("}"):
                            body = body[1:-1]
                    else:
                        body = self._verb(def_arg).strip("{} ")
                    if name:
                        self.custom[name] = body
                        n = 0
                        if nargs_arg is not None:
                            raw_n = self._verb(nargs_arg).strip("{}[] \n\t")
                            try:
                                n = int(raw_n)
                            except ValueError:
                                n = 0
                        self.custom_nargs[name] = n
            for sub in self._child_lists(node):
                self.extract_custom_macros(sub, depth + 1)

    @staticmethod
    def _child_lists(node):
        out = []
        if isinstance(node, (Group, Env)) and node.nodes:
            out.append(node.nodes)
        if isinstance(node, (Macro, Env)):
            for a in getattr(node, "args", []) or []:
                if isinstance(a, Group) and a.nodes:
                    out.append(a.nodes)
        return out

    # -- preamble metadata (handlers/macros.py:133-161) --------------------

    def extract_preamble_metadata(self, nodes, depth: int = 0) -> None:
        if nodes is None or depth > 10:
            return
        for node in nodes:
            if isinstance(node, Env) and node.name == "document":
                return
            if isinstance(node, Macro) and node.name in _PREAMBLE_META:
                text = self._extract_macro_arg(node)
                if text:
                    if node.name == "title":
                        idx = self._add(0, "title", text, "title")
                        self.items[idx]["_hlevel"] = 1
                    else:
                        self._add(0, "text", text, "text")
            for sub in self._child_lists(node):
                self.extract_preamble_metadata(sub, depth + 1)

    def find_document_env(self, nodes, depth: int = 0):
        if nodes is None or depth > 10:
            return None
        for node in nodes:
            if isinstance(node, Env) and node.name == "document":
                return node
            for sub in self._child_lists(node):
                found = self.find_document_env(sub, depth + 1)
                if found is not None:
                    return found
        return None

    # -- argument extraction ------------------------------------------------

    def _extract_macro_arg(self, node: Macro) -> str:
        if node.args:
            arg = node.args[-1]
            if arg is not None:
                if isinstance(arg, Group):
                    return self._nodes_to_text(arg.nodes)
                return self._verb(arg).strip("{} ")
        return ""

    def _extract_all_args_inline(self, node: Macro) -> str:
        if not node.args:
            return ""
        parts = []
        for arg in node.args:
            if arg is not None:
                if isinstance(arg, Group):
                    t = self._nodes_to_text(arg.nodes)
                else:
                    t = self._verb(arg).strip("{} ")
                if t:
                    parts.append(t)
        return " ".join(parts)

    # -- custom macro invocation (handlers/macros.py:577-633) ---------------

    def _expand_custom_invocation(self, node: Macro, nodes,
                                  start: int) -> tuple[str, int]:
        """``nodes[start:]`` are the siblings after the invocation. Passed
        as (list, index) — materializing the tail per macro call made a
        macro-heavy document quadratic (every \\textbf copied the rest
        of the paragraph's node list)."""
        expected = self.custom_nargs.get(node.name, 0)
        if expected <= 0:
            return self.custom[node.name], 0
        values: list[str] = []
        consumed = 0
        for k in range(start, len(nodes)):
            nxt = nodes[k]
            if len(values) >= expected:
                break
            if isinstance(nxt, Chars) and not nxt.chars.strip():
                consumed += 1
                continue
            if isinstance(nxt, Group):
                values.append(self._nodes_to_text(nxt.nodes or []))
                consumed += 1
                continue
            break
        if len(values) < expected:
            return self.custom[node.name], 0
        expansion = self.custom[node.name]
        for i in range(len(values), 0, -1):
            expansion = expansion.replace(f"#{i}", values[i - 1])
        return expansion, consumed

    # -- text assembly (utils/text.py:117-196) ------------------------------

    def _macro_node_to_text(self, node: Macro, nodes, start: int) -> tuple:
        consumed = 0
        if node.name in (_TEXT_FORMATTING | _TEXT_STYLE):
            return (self._extract_macro_arg(node) or "", consumed)
        if node.name in _COLOR_INLINE:
            if node.args:
                last = node.args[-1]
                if last is not None and isinstance(last, Group):
                    return (self._nodes_to_text(last.nodes), consumed)
            return ("", consumed)
        if node.name in _CITATION:
            return (self._verb(node), consumed)
        if node.name == "\\":
            return ("\n", consumed)
        if node.name == "~":
            # bare tie -> space; the tilde ACCENT \~{n} keeps its letter
            # (every other accent does — dropping it turned 'Pe\~na'
            # into 'Pe a')
            if node.args and any(a is not None for a in node.args):
                return (self._extract_all_args_inline(node), consumed)
            return (" ", consumed)
        if node.name == "item":
            if node.args and node.args[0] is not None:
                opt = self._verb(node.args[0]).strip("[] ")
                return (f"{opt}: ", consumed)
            return ("", consumed)
        if node.name in _ESCAPED:
            return (node.name, consumed)
        if node.name in self.custom:
            expansion, consumed = self._expand_custom_invocation(
                node, nodes, start)
            if self.custom_nargs.get(node.name, 0) > 0:
                return (self._parse_fragment_to_text(expansion), consumed)
            return (expansion, consumed)
        if node.name in _SPACING or node.name in _IGNORED:
            return ("", consumed)
        parts = []
        for arg in (node.args or []):
            if arg is not None:
                if isinstance(arg, Group):
                    t = self._nodes_to_text(arg.nodes)
                else:
                    t = self._verb(arg).strip("{} ")
                if t:
                    parts.append(t)
        return (" ".join(parts), consumed)

    def _nodes_to_text(self, nodes) -> str:
        parts: list[str] = []
        idx = 0
        while idx < len(nodes):
            node = nodes[idx]
            consumed = 0
            if isinstance(node, Chars):
                parts.append(node.chars)
            elif isinstance(node, Group):
                parts.append(self._nodes_to_text(node.nodes))
            elif isinstance(node, Macro):
                text, consumed = self._macro_node_to_text(
                    node, nodes, idx + 1)
                if text:
                    parts.append(text)
            elif isinstance(node, MathN):
                parts.append(self._expand_macros(self._verb(node)))
            elif isinstance(node, Env):
                if node.name in ("equation", "align", "gather"):
                    parts.append(self._verb(node))
                else:
                    parts.append(self._nodes_to_text(node.nodes))
            # Comment / Specials nodes contribute nothing
            idx += 1 + consumed
        result = "".join(parts)
        if "  " in result:  # r" +" only rewrites 2+ space runs
            result = _MULTI_SPACE_RE.sub(" ", result)
        if "\n\n\n" in result:  # r"\n\n+" only rewrites 3+ newline runs
            result = _MULTI_BLANK_RE.sub("\n\n", result)
        return result.strip()

    def _is_text_only_group(self, node: Group) -> bool:
        if not node.nodes:
            return True
        for n in node.nodes:
            if isinstance(n, Env):
                return False
            if isinstance(n, Macro) and n.name in _STRUCTURAL:
                return False
            if isinstance(n, Group) and not self._is_text_only_group(n):
                return False
        return True

    # -- math (handlers/math.py) ---------------------------------------------

    def _clean_math(self, latex_str: str, env_name: str) -> str:
        if env_name in _ENV_MATH_CLEAN:
            m = re.search(
                rf"\\begin\{{{re.escape(env_name)}\}}(.*?)"
                rf"\\end\{{{re.escape(env_name)}\}}",
                latex_str, re.DOTALL)
            if m:
                latex_str = m.group(1)
        latex_str = latex_str.strip()
        if latex_str.startswith("$$") and latex_str.endswith("$$"):
            latex_str = latex_str[2:-2]
        elif latex_str.startswith("$") and latex_str.endswith("$"):
            latex_str = latex_str[1:-1]
        elif latex_str.startswith("\\[") and latex_str.endswith("\\]"):
            latex_str = latex_str[2:-2]
        elif latex_str.startswith("\\(") and latex_str.endswith("\\)"):
            latex_str = latex_str[2:-2]
        latex_str = _LABEL_RE.sub("", latex_str)
        latex_str = self._expand_macros(latex_str)
        return latex_str.strip()

    # -- main dispatch (backend.py:188-265) -----------------------------------

    def process_nodes(self, nodes, parent: int,
                      text_label: str | None = None) -> None:
        if nodes is None:
            return
        buffer: list[str] = []

        def flush():
            if buffer:
                combined = "".join(buffer).strip()
                if combined:
                    self._add(parent, text_label or "text", combined,
                              text_label or "text")
                buffer.clear()

        idx = 0
        while idx < len(nodes):
            node = nodes[idx]
            consumed = 0
            if isinstance(node, Chars):
                text = node.chars
                if "\n\n" in text:
                    parts = text.split("\n\n")
                    first = parts[0].strip()
                    if first:
                        buffer.append(first)
                    flush()
                    for part in parts[1:]:
                        p = part.strip()
                        if p:
                            self._add(parent, text_label or "paragraph",
                                      p)
                else:
                    buffer.append(text)
            elif isinstance(node, Macro):
                consumed = self._process_macro_inline(
                    node, parent, text_label, buffer, flush,
                    nodes, idx + 1)
            elif isinstance(node, Env):
                flush()
                self._process_environment(node, parent, text_label)
            elif isinstance(node, MathN):
                if node.display:
                    flush()
                    self._add(parent, "formula",
                              self._clean_math(self._verb(node),
                                               "display"),
                              "formula", esc=False)
                else:
                    buffer.append(self._expand_macros(self._verb(node)))
            elif isinstance(node, Group):
                if node.nodes and self._is_text_only_group(node):
                    t = self._nodes_to_text(node.nodes)
                    if t:
                        buffer.append(t)
                elif node.nodes:
                    flush()
                    self.process_nodes(node.nodes, parent, text_label)
            # Comment / Specials: silently dropped
            idx += 1 + consumed
        flush()

    # -- inline macro handling (handlers/macros.py:163-242) -------------------

    def _process_macro_inline(self, node: Macro, parent: int,
                              text_label, buffer, flush,
                              nodes, start: int) -> int:
        name = node.name
        if name in _INLINE_VERBATIM:
            if name == "~" and node.args and \
                    any(a is not None for a in node.args):
                t = self._extract_all_args_inline(node)  # tilde accent
                if t:
                    buffer.append(t)
            else:
                buffer.append(" " if name == "~" else name)
        elif name == " ":
            buffer.append(" ")
        elif name in _TEXT_FORMATTING:
            t = self._extract_macro_arg(node)
            if t:
                buffer.append(t)
        elif name in self.custom:
            expansion, consumed = self._expand_custom_invocation(
                node, nodes, start)
            if expansion:
                if self.custom_nargs.get(name, 0) > 0:
                    buffer.append(self._parse_fragment_to_text(expansion))
                else:
                    buffer.append(expansion)
            return consumed
        elif name in _CITATION:
            t = self._extract_macro_arg(node)
            if t:
                buffer.append(f"[{t}]")
        elif name == "url":
            t = self._extract_macro_arg(node)
            if t:
                buffer.append(t)
        elif name in _COLOR:
            pass
        elif name in _TEXT_STYLE:
            t = self._extract_macro_arg(node)
            if t:
                buffer.append(t)
        elif name in _COLOR_INLINE:
            if node.args:
                last = node.args[-1]
                if last is not None and isinstance(last, Group):
                    t = self._nodes_to_text(last.nodes)
                    if t:
                        buffer.append(t)
        else:
            if name in _STRUCTURAL:
                flush()
                self._process_macro(node, parent, text_label)
            elif name in _SPACING or name in _IGNORED:
                pass
            elif node.args and any(a is not None for a in node.args):
                t = self._extract_all_args_inline(node)
                if t:
                    buffer.append(t)
        return 0

    # -- structural macros (handlers/macros.py:244-509) ------------------------

    def _process_macro(self, node: Macro, parent: int,
                       text_label) -> None:
        name = node.name
        if name in _HEADING_LEVELS:
            title = self._extract_macro_arg(node)
            if title:
                self._add_heading(parent, title, _HEADING_LEVELS[name])
        elif name == "title":
            t = self._extract_macro_arg(node)
            if t:
                idx = self._add(parent, "title", t, "title")
                self.items[idx]["_hlevel"] = 1
        elif name in ("author", "date"):
            t = self._extract_macro_arg(node)
            if t:
                self._add(parent, "text", t, "text")
        elif name in ("thanks", "maketitle"):
            pass
        elif name in _TEXT_STYLE:
            if node.args:
                last = node.args[-1]
                if isinstance(last, Group):
                    self.process_nodes(last.nodes, parent, text_label)
        elif name in _CITATION:
            t = self._extract_macro_arg(node)
            if t:
                self._add(parent, "reference", f"[{t}]")
        elif name == "url":
            t = self._extract_macro_arg(node)
            if t:
                self._add(parent, "reference", t)
        elif name == "label":
            t = self._extract_macro_arg(node)
            if t:
                self.labels[t] = True
        elif name == "caption":
            t = self._extract_macro_arg(node)
            if t:
                self._add(parent, "caption", t, "caption")
        elif name in ("footnote", "marginpar"):
            t = self._extract_macro_arg(node)
            if t:
                self._add(parent, "footnote", t, "footnote")
        elif name == "includegraphics":
            path = self._extract_macro_arg(node)
            if path:
                # the generated caption is a BODY-level item (its own
                # index and position) and is ALSO ref-printed under the
                # picture — serializers dedup by first occurrence
                cidx = self._add(0, "caption", f"Image: {path}")
                pidx = _mk_item(self.items, parent, "picture",
                                self.items[parent]["level"] + 1, "",
                                "body")
                self.items[pidx]["_cap_ref"] = cidx
        elif name == "\\":
            pass
        elif name in _IGNORED:
            pass
        elif name in ("input", "include"):
            self._process_input(node, parent, text_label)
        elif name in _ESCAPED:
            self._add(parent, "text", name, text_label or "text")
        elif name == "href":
            if node.args and len(node.args) >= 2:
                url_arg, text_arg = node.args[0], node.args[1]
                url = ""
                if url_arg is not None:
                    url = (self._nodes_to_text(url_arg.nodes)
                           if isinstance(url_arg, Group)
                           else self._verb(url_arg).strip("{} "))
                disp = ""
                if text_arg is not None:
                    disp = (self._nodes_to_text(text_arg.nodes)
                            if isinstance(text_arg, Group)
                            else self._verb(text_arg).strip("{} "))
                if url and disp:
                    link = f"[{disp}]({url})"
                else:
                    link = url or disp
                if link:
                    self._add(parent, "reference", link)
        elif name in _SPACING:
            if name == "newline":
                self._add(parent, "text", "\n", text_label or "text",
                          esc=False)
        elif name in _COLOR_INLINE:
            if node.args:
                for arg in reversed(node.args):
                    if arg is not None and isinstance(arg, Group):
                        self.process_nodes(arg.nodes, parent, text_label)
                        break
        elif name == "item":
            pass
        else:
            for arg in (node.args or []):
                if isinstance(arg, Group):
                    self.process_nodes(arg.nodes, parent, text_label)

    def _process_input(self, node: Macro, parent: int,
                       text_label) -> None:
        filepath = self._extract_macro_arg(node)
        if not filepath or not self.files:
            return
        candidates = [filepath]
        if "." not in filepath.rsplit("/", 1)[-1]:
            candidates.append(filepath + ".tex")
        for cand in candidates:
            content = self.files.get(cand)
            if content is None:
                content = self.files.get(cand.rsplit("/", 1)[-1])
            if content is None:
                continue
            if cand in self._input_stack:
                return
            if len(self._input_stack) >= 10:
                return
            self._input_stack.add(cand)
            old_src = self.src
            try:
                sub_nodes = _Parser(content).parse()
                self.src = content
                # definitions living in the included file (the arXiv
                # math_commands.tex pattern) must expand in the main
                # document's math — register before walking
                self.extract_custom_macros(sub_nodes)
                self.process_nodes(sub_nodes, parent, text_label)
            except Exception:
                pass
            finally:
                self.src = old_src
                self._input_stack.discard(cand)
            return

    # -- environments (handlers/environments.py:82-166) -------------------------

    def _process_environment(self, node: Env, parent: int,
                             text_label) -> None:
        name = node.name
        base = name.replace("*", "")
        if name == "document":
            self.process_nodes(node.nodes, parent, text_label)
        elif name == "abstract":
            self._add_heading(parent, "Abstract", 1)
            self.process_nodes(node.nodes, parent, text_label)
        elif base in _MATH_ENVS or name == "math":
            self._add(parent, "formula",
                      self._clean_math(self._verb(node), name),
                      "formula", esc=False)
        elif name == "subequations":
            self.process_nodes(node.nodes, parent, text_label)
        elif base in _ENV_THEOREM:
            self._add(parent, "text", f"**{base.capitalize()}.**", "text")
            self.process_nodes(node.nodes, parent, text_label)
        elif name == "proof":
            self._add(parent, "text", "*Proof.*", "text")
            self.process_nodes(node.nodes, parent, text_label)
            body = self._verb(node)
            if "\\qed" not in body and "\\qedsymbol" not in body:
                self._add(parent, "text", "\u25fb", "text")
        elif name in _ENV_QUOTE:
            self.process_nodes(node.nodes, parent, text_label)
        elif name in _ENV_LIST:
            self._process_list(node, parent, text_label)
        elif base == "tabular":
            self._process_table(node, parent)  # includes tabular*
        elif name in ("table", "table*"):
            self.process_nodes(node.nodes, parent, text_label)
        elif name in ("figure", "figure*"):
            gidx = _mk_item(self.items, parent, "section",
                            self.items[parent]["level"] + 1, "figure",
                            "body")
            self.process_nodes(node.nodes, gidx, text_label)
        elif name == "tikzpicture":
            _mk_item(self.items, parent, "picture",
                         self.items[parent]["level"] + 1, "", "body")
        elif name in ("verbatim", "lstlisting", "minted"):
            content = self._verbatim_content(node, name)
            self._add(parent, "code", content, "code", esc=False)
        elif name == "thebibliography":
            self._add_heading(parent, "References", 1)
            self._process_bibliography(node, parent)
        elif name in ("filecontents", "filecontents*"):
            pass
        else:
            self.process_nodes(node.nodes, parent, text_label)

    def _verbatim_content(self, node: Env, env_name: str) -> str:
        m = re.search(
            rf"\\begin\{{{re.escape(env_name)}\}}(?:\[.*?\])?(.*?)"
            rf"\\end\{{{re.escape(env_name)}\}}",
            self._verb(node), re.DOTALL)
        if m:
            return m.group(1).strip()
        return self._verb(node)

    def _process_list(self, node: Env, parent: int, text_label) -> None:
        gidx = _mk_item(self.items, parent, "list",
                        self.items[parent]["level"] + 1, "list", "body")
        groups: list[list] = []
        current: list = []
        for n in (node.nodes or []):
            if isinstance(n, Macro) and n.name == "item":
                if current:
                    groups.append(current)
                current = []
                if n.args and n.args[0] is not None:
                    # \item[Label] -> 'Label: ' prefixing the item text,
                    # the same rendering _macro_node_to_text gives this
                    # node in inline contexts (the structural path used
                    # to drop the label entirely)
                    opt = self._verb(n.args[0]).strip("[] ")
                    if opt:
                        # no trailing space: the source text after ']'
                        # almost always opens with one already
                        current.append(Chars(f"{opt}:"))
            else:
                current.append(n)
        if current:
            groups.append(current)
        for item_nodes in groups:
            self.process_nodes(item_nodes, gidx, text_label="list_item")

    def _process_bibliography(self, node: Env, parent: int) -> None:
        gidx = _mk_item(self.items, parent, "list",
                        self.items[parent]["level"] + 1, "bibliography",
                        "body")
        entries: list[tuple[str, list]] = []
        current: list = []
        key = ""
        for n in (node.nodes or []):
            if isinstance(n, Macro) and n.name == "bibitem":
                if current:
                    entries.append((key, current))
                current = []
                key = self._extract_macro_arg(n)
            else:
                current.append(n)
        if current:
            entries.append((key, current))
        for key, entry_nodes in entries:
            if key:
                self._add(gidx, "list_item", f"[{key}] ", "list_item")
            self.process_nodes(entry_nodes, gidx, text_label="list_item")

    # -- tables (utils/table.py) --------------------------------------------

    def _process_table(self, node: Env, parent: int) -> None:
        source = self._verb(node)
        rows: list[list[dict]] = []
        current_row: list[dict] = []
        cell_nodes: list = []

        def parse_brace_args(text: str) -> list[str]:
            args = []
            i = 0
            while i < len(text):
                if text[i] == "{":
                    depth = 1
                    start = i + 1
                    i += 1
                    while i < len(text) and depth > 0:
                        if text[i] == "{":
                            depth += 1
                        elif text[i] == "}":
                            depth -= 1
                        i += 1
                    args.append(text[start:i - 1])
                else:
                    i += 1
            return args

        def finish_cell(col_span: int = 1, row_span: int = 1):
            text = self._nodes_to_text(cell_nodes).strip()
            current_row.append({"text": text, "col_span": col_span,
                                "row_span": row_span})
            cell_nodes.clear()
            for _ in range(col_span - 1):
                current_row.append({"text": "", "placeholder": True,
                                    "col_span": 1, "row_span": 1})

        def finish_row():
            if cell_nodes:
                finish_cell()
            if current_row:
                rows.append(current_row[:])
            current_row.clear()

        def spanned(n: Macro, kind: str):
            remaining = source[n.pos:]
            args = parse_brace_args(remaining)
            if len(args) >= 3:
                try:
                    count = int(args[0])
                except (TypeError, ValueError):
                    count = 1
                content = args[2]
                if content:
                    # the spanned payload is re-parsed as its own
                    # fragment (reference spins up a fresh walker);
                    # assemble its text with fragment-anchored verbatims
                    cell_nodes.append(
                        Chars(self._parse_fragment_to_text(content)))
                if kind == "col":
                    finish_cell(col_span=count)
                else:
                    finish_cell(row_span=count)
            else:
                cell_nodes.append(n)

        for n in (node.nodes or []):
            if isinstance(n, Macro):
                if n.name == "\\":
                    finish_row()
                elif n.name == "multicolumn":
                    spanned(n, "col")
                elif n.name == "multirow":
                    spanned(n, "row")
                elif n.name in _TABLE_RULE:
                    pass
                elif n.name in _TABLE_IGNORE:
                    pass
                elif n.name == "&":
                    finish_cell()
                elif n.name in _ESCAPED:
                    cell_nodes.append(n)
                else:
                    cell_nodes.append(n)
            elif isinstance(n, Chars):
                if "&" in n.chars:
                    parts = n.chars.split("&")
                    for i, part in enumerate(parts):
                        if part:
                            cell_nodes.append(Chars(part))
                        if i < len(parts) - 1:
                            finish_cell()
                else:
                    cell_nodes.append(n)
            elif isinstance(n, Specials) and n.chars == "&":
                finish_cell()
            else:
                cell_nodes.append(n)
        finish_row()

        if not rows:
            return
        num_rows = len(rows)
        num_cols = max(len(r) for r in rows)
        # expanded grid with anchor offsets (docling-core TableData.grid)
        grid = [[{"text": "", "start_row_offset_idx": ri,
                  "start_col_offset_idx": ci}
                 for ci in range(num_cols)] for ri in range(num_rows)]
        for ri, row in enumerate(rows):
            for ci in range(num_cols):
                if ci < len(row):
                    cell = row[ci]
                    if cell.get("placeholder"):
                        continue
                else:
                    cell = {"text": "", "col_span": 1, "row_span": 1}
                for r2 in range(ri, min(ri + cell.get("row_span", 1),
                                        num_rows)):
                    for c2 in range(ci, min(ci + cell.get("col_span", 1),
                                            num_cols)):
                        grid[r2][c2] = {
                            "text": cell["text"],
                            "start_row_offset_idx": ri,
                            "start_col_offset_idx": ci,
                        }
        text, nr, nc = _table_md({"grid": grid})
        if text:
            idx = _mk_item(self.items, parent, "table",
                           self.items[parent]["level"] + 1, text, "body")
            self.items[idx]["num_rows"] = nr
            self.items[idx]["num_cols"] = nc


_SHORTHAND_RE = re.compile(r"\\(be|ee|bea|eea|beq|eeq)\b")
_SHORTHAND_MAP = {
    "be": r"\begin{equation}", "ee": r"\end{equation}",
    "bea": r"\begin{eqnarray}", "eea": r"\end{eqnarray}",
    "beq": r"\begin{equation}", "eeq": r"\end{equation}",
}


def _preprocess(src: str) -> str:
    """Equation-shorthand expansion (handlers/macros.py:73-81)."""
    if "\\b" not in src and "\\e" not in src:
        return src
    return _SHORTHAND_RE.sub(lambda m: _SHORTHAND_MAP[m.group(1)], src)


def walk_latex(src: str, files: dict[str, str] | None = None
               ) -> list[Item]:
    """LaTeX source → flat Item table (backend.py:94-145 pipeline:
    shorthand preprocess → parse → custom macros → preamble metadata →
    document body walk)."""
    pre = _preprocess(src)
    walker = TexWalker(pre, files)
    nodes = _Parser(pre).parse()
    walker.extract_custom_macros(nodes)
    walker.extract_preamble_metadata(nodes)
    doc_env = walker.find_document_env(nodes)
    if doc_env is not None:
        walker.process_nodes(doc_env.nodes, 0)
    else:
        walker.process_nodes(nodes, 0)
    return walker.items
