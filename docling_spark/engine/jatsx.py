"""JATS (NLM journal-article XML) payload → item table.

Re-expression of the reference JATS backend (docling/backend/xml/
jats_backend.py: metadata :306-533, element-citation flattening
:541-665, inline formula segments :677-794, figures/tables :795-1005,
linear walk :1046-1174) on stdlib ``xml.etree``. Math comes from the
``tex-math`` alternatives embedded in the source (MathML siblings are
skipped, exactly as the reference does) — block formulas render as
``$$...$$`` items, inline formulas as ``$...$`` pieces inside the
paragraph. Pinned against tests/data/jats groundtruth.
"""

from __future__ import annotations

import re
import xml.etree.ElementTree as ET

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result

HDR_ACK = "Acknowledgments"
HDR_ABSTRACT = "Abstract"
HDR_FOOTNOTES = "Footnotes"
HDR_REFERENCES = "References"
TEXT_ETAL = "et al."

_FORMAT_TAGS = {
    "bold": "bold", "italic": "italic", "underline": "underline",
    "strike": "strike", "sub": "sub", "sup": "sup",
}


class JatsError(ValueError):
    pass


def _localname(tag) -> str:
    if not isinstance(tag, str):
        return ""
    return tag.rsplit("}", 1)[-1]


def _norm_ws(text: str | None) -> str:
    # collapse ASCII whitespace only: JATS text carries meaningful NBSPs
    # (\xa0) that the groundtruth keeps (elife figure captions)
    return " ".join(re.split(r"[ \t\n\r\f\v]+", text)).strip() \
        if text else ""


def _node_text(node) -> str:
    return _norm_ws(" ".join(node.itertext()))


def _get_text(node, sep: str | None = None) -> str:
    """The reference's recursive concat (:250-266): skip term /
    disp-formula / inline-formula subtrees but keep their tails."""
    skip = ("term", "disp-formula", "inline-formula")
    tag = _localname(node.tag)
    text = node.text.replace("\n", " ") if (tag not in skip and node.text) \
        else ""
    for child in list(node):
        if _localname(child.tag) not in skip:
            text += _get_text(child, sep)
        if sep:
            text = text.rstrip(sep) + sep
        text += child.tail.replace("\n", " ") if child.tail else ""
    return text


def _escape(t: str) -> str:
    return (t.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace("_", "\\_"))


def _extract_tex_math(node) -> str | None:
    if not node.text:
        return None
    text = node.text.strip()
    for delim in ("$$", "$"):
        if len(text) > 2 * len(delim) and text.startswith(delim) \
                and text.endswith(delim):
            text = text[len(delim):-len(delim)].strip()
            break
    return text or None


class _Seg:
    __slots__ = ("kind", "text", "fmt")

    def __init__(self, kind: str, text: str, fmt: frozenset = frozenset()):
        self.kind = kind  # "text" | "formula"
        self.text = text
        self.fmt = fmt


def _merge_fmt(fmt: frozenset, tag: str) -> frozenset:
    f = _FORMAT_TAGS.get(tag)
    return fmt | {f} if f else fmt


def _append_run(segments: list[_Seg], text: str, fmt: frozenset) -> None:
    text = text.replace("\n", " ")
    if not text:
        return
    if segments and segments[-1].kind == "text" and segments[-1].fmt == fmt:
        segments[-1].text += text
    else:
        segments.append(_Seg("text", text, fmt))


def _extend(segments: list[_Seg], more: list[_Seg]) -> None:
    for s in more:
        if s.kind == "text":
            _append_run(segments, s.text, s.fmt)
        else:
            segments.append(s)


def _walk_inline_formula(node, fmt: frozenset = frozenset()) -> list[_Seg]:
    cur = _merge_fmt(fmt, _localname(node.tag))
    out: list[_Seg] = []
    if node.text:
        t = node.text.replace("\n", " ")
        if t:
            out.append(_Seg("text", t, cur))
    for child in node:
        tag = _localname(child.tag)
        if not isinstance(child.tag, str) or tag == "math":
            pass
        elif tag == "tex-math":
            formula = _extract_tex_math(child)
            if formula is not None:
                out.append(_Seg("formula", formula))
        else:
            out.extend(_walk_inline_formula(child, cur))
        if child.tail:
            t = child.tail.replace("\n", " ")
            if t:
                out.append(_Seg("text", t, cur))
    return out


def _seg_md(s: _Seg) -> str:
    if s.kind == "formula":
        return "$" + s.text + "$"
    t = _escape(s.text.strip())
    if not t:
        return ""
    if "bold" in s.fmt:
        t = f"**{t}**"
    if "italic" in s.fmt:
        t = f"*{t}*"
    if "strike" in s.fmt:
        t = f"~~{t}~~"
    return t


class _Converter:
    def __init__(self, root):
        self.tree = root
        self.items = new_items()
        self.hlevel = 0
        self.hstack: list[int] = [0]  # parent item idx stack

    # ---------------------------------------------------------- metadata
    def _find_meta(self):
        for name in ("article-meta", "book-part-meta"):
            node = self.tree.find(f".//{name}")
            if node is not None:
                return node
        return None

    def _parse_title(self) -> str:
        titles = []
        for meta in ("article-meta", "collection-meta", "book-meta",
                     "book-part-meta"):
            for tg in self.tree.findall(f".//{meta}/title-group"):
                t = " ".join(
                    (el.text or "").replace("\n", " ").strip()
                    for el in list(tg)
                    if _localname(el.tag) in ("article-title", "subtitle",
                                              "title", "label")
                ).strip()
                titles.append(t)
        return " - ".join(titles)

    def _structured_name(self, name_node) -> str:
        parts = []
        for tagn in ("prefix", "given-names", "surname", "suffix"):
            for pn in name_node.findall(tagn):
                t = _node_text(pn)
                if t:
                    parts.append(t)
        if parts:
            return _norm_ws(" ".join(parts))
        return _node_text(name_node)

    def _name_alternatives(self, node) -> str:
        for tagn in ("name", "string-name", "collab-name", "collab"):
            for nn in node.findall(tagn):
                name = self._structured_name(nn) if tagn == "name" \
                    else _node_text(nn)
                if name:
                    return name
        return ""

    def _contrib_name(self, an) -> str:
        for nn in an.findall("name"):
            n = self._structured_name(nn)
            if n:
                return n
        for nn in an.findall("string-name"):
            n = _node_text(nn)
            if n:
                return n
        for alt in an.findall("name-alternatives"):
            n = self._name_alternatives(alt)
            if n:
                return n
        for tagn in ("collab-name", "collab"):
            for nn in an.findall(tagn):
                n = _node_text(nn)
                if n:
                    return n
        for tagn in ("collab-name-alternatives", "collab-alternatives"):
            for alt in an.findall(tagn):
                n = self._name_alternatives(alt)
                if n:
                    return n
        if an.find("anonymous") is not None:
            return "Anonymous"
        return ""

    def _parse_authors(self):
        authors = []
        meta = self._find_meta()
        if meta is None:
            return authors
        aff_names = []
        aff_ids = []
        for aff in meta.iter("aff"):
            if aff.get("id") is None:
                continue
            s = ", ".join(t for t in aff.itertext() if t.strip())
            s = s.replace("\n", " ")
            label = aff.findall("label")
            if label:
                s = s.removeprefix(f"{label[0].text}, ")
            aff_names.append(s)
            aff_ids.append(aff.get("id"))
        by_id = dict(zip(aff_ids, aff_names))
        for an in meta.iter("contrib"):
            if an.get("contrib-type") != "author":
                continue
            affs = [by_id[x.get("rid")] for x in an.findall("xref")
                    if x.get("ref-type") == "aff" and x.get("rid") in by_id]
            name = self._contrib_name(an)
            if not name:
                continue
            authors.append({"name": name, "affs": affs})
        return authors

    def _abstract_section(self, sec) -> str:
        texts = []
        for ch in sec:
            tag = _localname(ch.tag)
            if tag == "p":
                t = _norm_ws(_get_text(ch))
                if t:
                    texts.append(t)
            elif tag == "sec":
                t = self._abstract_section(ch)
                if t:
                    texts.append(t)
        content = _norm_ws(" ".join(texts))
        if not content:
            return ""
        for tagn in ("title", "label"):
            ln = sec.find(tagn)
            if ln is not None:
                label = _node_text(ln)
                if label:
                    return f"{label}: {content}"
                break
        return content

    def add_metadata(self) -> None:
        title = self._parse_title()
        tidx = _mk_item(self.items, 0, "title", 1, _escape(title), "body")
        self.items[tidx]["_hlevel"] = 1

        authors = self._parse_authors()
        authors_str = ", ".join(a["name"] for a in authors)
        affs = [x for a in authors for x in a["affs"]]
        affs_str = "; ".join(dict.fromkeys(affs))
        if authors_str:
            _mk_item(self.items, 0, "text", 1, _escape(authors_str), "body")
        if affs_str:
            _mk_item(self.items, 0, "text", 1, _escape(affs_str), "body")

        for abs_node in self.tree.findall(".//abstract"):
            texts = []
            for ch in abs_node:
                tag = _localname(ch.tag)
                if tag == "p":
                    t = _norm_ws(_get_text(ch))
                    if t:
                        texts.append(t)
                elif tag == "sec":
                    t = self._abstract_section(ch)
                    if t:
                        texts.append(t)
            content = _norm_ws(" ".join(texts))
            if not content:
                continue
            label = ""
            for tagn in ("title", "label"):
                ln = abs_node.find(tagn)
                if ln is not None:
                    label = _node_text(ln)
                    break
            hidx = self.add_heading(label or HDR_ABSTRACT, self.hlevel + 1, 0)
            _mk_item(self.items, hidx, "text", 2, _escape(content), "body")

    # ------------------------------------------------------------ helpers
    def add_heading(self, text: str, level: int, parent: int) -> int:
        idx = _mk_item(self.items, parent, "section_header", 1,
                       _escape(_norm_ws(text)), "body")
        self.items[idx]["_hlevel"] = level + 1
        return idx

    def emit_inline(self, parent: int, segments: list[_Seg]) -> None:
        segs = []
        for s in segments:
            t = s.text.strip()
            if t:
                segs.append(_Seg(s.kind, t, s.fmt))
        if not segs:
            return
        if len(segs) == 1 and segs[0].kind == "formula":
            _mk_item(self.items, parent, "formula", 1, segs[0].text, "body")
            return
        pieces = [p for p in (_seg_md(s) for s in segs) if p]
        if pieces:
            _mk_item(self.items, parent, "text", 1, " ".join(pieces), "body")

    def add_equation(self, parent: int, node) -> None:
        formula = _extract_tex_math(node)
        if formula:
            _mk_item(self.items, parent, "formula", 1, formula, "body")

    # --------------------------------------------------------- citations
    def _element_citation(self, node) -> str:
        c = {k: "" for k in ("author_names", "title", "source", "year",
                             "volume", "page", "pub_id", "publisher_name",
                             "publisher_loc")}
        names = []
        for nn in node.iter("name"):
            sur = nn.find("surname")
            giv = nn.find("given-names")
            if sur is not None and giv is not None:
                names.append(
                    (sur.text or "").replace("\n", " ").strip() + " "
                    + (giv.text or "").replace("\n", " ").strip())
        for etal in node.iter("etal"):
            names.append(etal.text or TEXT_ETAL)
            break
        c["author_names"] = ", ".join(names)

        title_node = None
        for tn in ("article-title", "chapter-title", "data-title",
                   "issue-title", "part-title", "trans-title"):
            found = node.findall(tn)
            if found:
                title_node = found[0]
                break
        c["title"] = _get_text(title_node) if title_node is not None else \
            (node.text or "").replace("\n", " ").strip()

        for field in ("source", "year", "publisher-name", "publisher-loc",
                      "volume"):
            found = node.findall(field)
            if found and found[0].text:
                c[field.replace("-", "_")] = \
                    found[0].text.replace("\n", " ").strip()

        pub_ids = []
        for idn in node.findall("pub-id"):
            id_type = idn.get("assigning-authority") or idn.get("pub-id-type")
            if id_type and idn.text:
                pub_ids.append(id_type.replace("\n", " ").strip().upper()
                               + ": " + idn.text.replace("\n", " ").strip())
        if pub_ids:
            c["pub_id"] = ", ".join(pub_ids)

        elo = node.findall("elocation-id")
        fp = node.findall("fpage")
        if elo and elo[0].text:
            c["page"] = elo[0].text.replace("\n", " ").strip()
        elif fp and fp[0].text:
            c["page"] = fp[0].text.replace("\n", " ").strip()
            lp = node.findall("lpage")
            if lp and lp[0].text:
                c["page"] += "–" + lp[0].text.replace("\n", " ").strip()  # noqa: RUF001

        text = ""
        if c["author_names"]:
            text += c["author_names"].rstrip(".") + ". "
        if c["title"]:
            text += c["title"] + ". "
        if c["source"]:
            text += c["source"] + ". "
        if c["publisher_name"]:
            if c["publisher_loc"]:
                text += f"{c['publisher_loc']}: "
            text += c["publisher_name"] + ". "
        if c["volume"]:
            text = text.rstrip(". ")
            text += f" {c['volume']}. "
        if c["page"]:
            text = text.rstrip(". ")
            if c["volume"]:
                text += ":"
            text += c["page"] + ". "
        if c["year"]:
            text = text.rstrip(". ")
            text += f" ({c['year']})."
        if c["pub_id"]:
            text = text.rstrip(".") + ". "
            text += c["pub_id"]
        return text

    def add_citation(self, parent: int, text: str) -> None:
        it = self.items[parent]
        if it["label"] == "list":
            _mk_item(self.items, parent, "list_item", 2, _escape(text),
                     "body")
        else:
            _mk_item(self.items, parent, "text", 1, _escape(text), "body")

    # --------------------------------------------------- figures / tables
    def add_figure(self, parent: int, node) -> None:
        label = ""
        ln = node.find("label")
        if ln is not None:
            label = _get_text(ln).strip()
        caption = None
        cn = node.find("caption")
        if cn is not None:
            caption = ""
            for par in list(cn):
                if par.find(".//supplementary-material") is not None:
                    continue
                caption += _get_text(par).strip() + " "
            caption = caption.strip()
        fig_text = f"{label}{' ' if label and caption else ''}{caption or ''}"
        if fig_text:
            _mk_item(self.items, parent, "caption", 1,
                     _escape(_norm_ws(fig_text)), "body")
        _mk_item(self.items, parent, "picture", 1, "", "body")

    def _cell_text(self, cell) -> str:
        """HTML-backend get_text over a JATS table cell, with inline
        formulas replaced by their $$-wrapped tex (:905-911)."""
        parts = []

        def rec(n):
            tag = _localname(n.tag)
            if tag == "inline-formula":
                whole = "".join(n.itertext())
                mp = whole.split("$$")
                if len(mp) == 3:
                    parts.append(f"$${mp[1]}$$")
                if n.tail:
                    parts.append(n.tail)
                return
            if n.text:
                parts.append(n.text)
            for ch in n:
                rec(ch)
                if ch.tail:
                    parts.append(ch.tail)

        rec(cell)
        return " ".join("".join(parts).split())

    def add_table(self, parent: int, node) -> None:
        table_node = node.find("table")
        if table_node is None:
            table_node = node.find("alternatives/table")
        label = node.find("label")
        label_text = (label.text or "") if label is not None else ""
        caption = None
        cn = node.find("caption")
        if cn is not None:
            caption = ""
            for par in list(cn):
                if par.find(".//supplementary-material") is not None:
                    continue
                caption += _get_text(par).strip() + " "
            caption = caption.strip()
        tbl_text = (f"{label_text}{' ' if label_text and caption else ''}"
                    f"{caption or ''}")
        if tbl_text:
            _mk_item(self.items, parent, "caption", 1,
                     _escape(_norm_ws(tbl_text)), "body")
        if table_node is None:
            return
        if table_node.find(".//table") is not None:
            return  # nested tables unsupported (reference parity)

        rows = table_node.findall(".//tr")

        def spans(cell):
            def num(v):
                try:
                    return max(1, int(v))
                except (TypeError, ValueError):
                    return 1
            return num(cell.get("colspan")), num(cell.get("rowspan"))

        num_rows = 0
        num_cols = 0
        for tr in rows:
            col_count = 0
            is_row_header = True
            for cell in list(tr):
                tag = _localname(cell.tag)
                if tag not in ("td", "th"):
                    continue
                cs, rs = spans(cell)
                col_count += cs
                if tag == "td" or rs == 1:
                    is_row_header = False
            num_cols = max(num_cols, col_count)
            if not is_row_header:
                num_rows += 1
        if num_rows == 0 or num_cols == 0:
            return
        grid = [[None for _ in range(num_cols)] for _ in range(num_rows)]
        start_row_span = 0
        row_idx = -1
        for tr in rows:
            cells = [c for c in list(tr)
                     if _localname(c.tag) in ("td", "th")]
            col_header = True
            row_header = True
            for cell in cells:
                _cs, rs = spans(cell)
                if _localname(cell.tag) == "td":
                    col_header = False
                    row_header = False
                elif rs == 1:
                    row_header = False
            if not row_header:
                row_idx += 1
                start_row_span = 0
            else:
                start_row_span += 1
            col_idx = 0
            for cell in cells:
                text = self._cell_text(cell)
                cs, rs = spans(cell)
                if row_header:
                    rs -= 1
                while col_idx < num_cols and \
                        grid[row_idx + start_row_span][col_idx] is not None:
                    col_idx += 1
                for r in range(start_row_span, start_row_span + rs):
                    for cc in range(cs):
                        if row_idx + r < num_rows and col_idx + cc < num_cols:
                            grid[row_idx + r][col_idx + cc] = text
        md = []
        for ri, row in enumerate(grid):
            cells_txt = [(c or "").replace("|", "&#124;") for c in row]
            md.append("| " + " | ".join(cells_txt) + " |")
            if ri == 0:
                md.append("| " + " | ".join("-" for _ in range(num_cols))
                          + " |")
        idx = _mk_item(self.items, parent, "table", 1, "\n".join(md), "body")
        self.items[idx]["num_rows"] = num_rows
        self.items[idx]["num_cols"] = num_cols

    def add_footnote_group(self, parent: int, node) -> None:
        fns = [_norm_ws(_get_text(fn)) for fn in node.findall("fn")]
        fns = [f for f in fns if f]
        if not fns:
            return
        tn = node.find("title")
        title_text = (_node_text(tn) or HDR_FOOTNOTES) if tn is not None \
            else HDR_FOOTNOTES
        hidx = self.add_heading(title_text, self.hlevel + 1, parent)
        gidx = _mk_item(self.items, hidx, "list", 2, "list", "body")
        for f in fns:
            _mk_item(self.items, gidx, "list_item", 3, _escape(f), "body")

    # ------------------------------------------------------------- walk
    def walk(self, parent: int, node, fmt: frozenset = frozenset(),
             parent_tag: str = "") -> list[_Seg]:
        tag = _localname(node.tag)
        flush_tags = ("ack", "sec", "list", "boxed-text", "disp-formula",
                      "fig")
        new_parent = parent
        cur = _merge_fmt(fmt, tag)
        segments: list[_Seg] = []
        if tag != "term" and node.text:
            _append_run(segments, node.text, cur)

        for child in list(node):
            ctag = _localname(child.tag)
            if not isinstance(child.tag, str):
                continue
            stop_walk = False
            if tag == "p" and ctag in flush_tags:
                self.emit_inline(parent, segments)
                segments = []

            text = None
            if ctag in ("sec", "ack"):
                header = None
                for tn in list(child):
                    if _localname(tn.tag) in ("title", "label"):
                        header = tn
                        break
                if header is not None:
                    text = _get_text(header)
                elif ctag == "ack":
                    text = HDR_ACK
                if text:
                    self.hlevel += 1
                    new_parent = self.add_heading(text, self.hlevel, parent)
            elif ctag == "list":
                new_parent = _mk_item(self.items, parent, "list", 1, "list",
                                      "body")
            elif ctag == "list-item":
                text_parts = []
                nested = []
                for elem in child:
                    etag = _localname(elem.tag)
                    if etag == "p":
                        text_parts.append(_get_text(elem).strip())
                    elif etag == "list":
                        nested.append(elem)
                text = " ".join(p for p in text_parts if p)
                new_parent = _mk_item(self.items, parent, "list_item", 2,
                                      _escape(_norm_ws(text)), "body")
                for n in nested:
                    self.walk(new_parent, n, cur, tag)
                stop_walk = True
            elif ctag == "fig":
                self.add_figure(parent, child)
                stop_walk = True
            elif ctag == "table-wrap":
                try:
                    self.add_table(parent, child)
                except Exception:
                    pass
                stop_walk = True
            elif ctag == "suplementary-material":
                stop_walk = True
            elif ctag == "fn-group":
                self.add_footnote_group(parent, child)
                stop_walk = True
            elif ctag == "ref-list" and tag != "ref-list":
                header = None
                for tn in list(child):
                    if _localname(tn.tag) in ("title", "label"):
                        header = tn
                        break
                text = _get_text(header) if header is not None \
                    else HDR_REFERENCES
                hidx = self.add_heading(text, 1, parent)
                new_parent = _mk_item(self.items, hidx, "list", 2, "list",
                                      "body")
            elif ctag == "element-citation":
                self.add_citation(parent, self._element_citation(child))
                stop_walk = True
            elif ctag == "mixed-citation":
                self.add_citation(parent, _get_text(child).strip())
                stop_walk = True
            elif ctag == "tex-math":
                self.add_equation(parent, child)
                stop_walk = True
            elif ctag == "inline-formula":
                _extend(segments, _walk_inline_formula(child, cur))
                stop_walk = True

            if not stop_walk:
                child_segments = self.walk(new_parent, child, cur, tag)
                if not (parent_tag == "p" and tag in flush_tags):
                    _extend(segments, child_segments)
                if ctag in ("sec", "ack") and text:
                    self.hlevel -= 1
            if child.tail:
                _append_run(segments, child.tail, cur)

        if tag == "p":
            self.emit_inline(parent, segments)
            return []
        return segments


def extract_jats(payload: str) -> tuple[str, list[Item], dict]:
    """payload (JATS XML string) → (extracted_text, items, metrics)."""
    # drop the DOCTYPE line so ET never chases the external DTD
    payload = re.sub(r"<!DOCTYPE[^>]*>", "", payload, count=1)
    try:
        root = ET.fromstring(payload)
    except ET.ParseError as exc:
        raise JatsError(f"invalid JATS XML: {exc}") from exc
    if _localname(root.tag) not in ("article", "book-part-wrapper", "book"):
        raise JatsError("not a JATS article payload")
    conv = _Converter(root)
    conv.add_metadata()
    body = root.find(".//body")
    if body is not None:
        conv.walk(0, body)
    back = root.find(".//back")
    if back is not None:
        conv.walk(0, back)
    return result(conv.items)
