"""USPTO patent payload → item table.

Re-expression of the reference USPTO backend (docling/backend/xml/
uspto_backend.py) covering all four generations the reference handles,
dispatched by doctype exactly as the reference does (:137-155):

- ICE XML v4.x (grants + applications, 2005+) — SAX walk :217-565
- Grant v2.5 ST32 ("PATDOC", 2001-2004) — :567-925
- Application v1.x ("patent-application-publication") — :1160-1494
- APS text ("PATN", 1976-2001) — key/value sections :926-1160

Math/Greek ISO-8879 entities resolve through the reference's HtmlEntity
tables (:1796+): superscript/subscript digits map to their Unicode forms,
skipped SAX entities resolve Greek names. CALS tables re-parse from the
raw ``<table>`` source spans with the width-offset unification algorithm
(:1620-1795). Pinned against tests/data/uspto groundtruth.
"""

from __future__ import annotations

import html
import io
import re
import xml.etree.ElementTree as ET
import xml.sax
from xml.sax.handler import ContentHandler, feature_external_ges, \
    feature_external_pes

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result

HEADING_ABSTRACT = ("ABSTRACT", 2)
HEADING_CLAIMS = ("CLAIMS", 2)


class UsptoError(ValueError):
    pass


# ------------------------------------------------------------- entities
_SUPERSCRIPT = str.maketrans({
    "1": "¹", "2": "²", "3": "³", "4": "⁴", "5": "⁵", "6": "⁶", "7": "⁷",
    "8": "⁸", "9": "⁹", "0": "⁰", "+": "⁺", "-": "⁻", "−": "⁻",  # noqa: RUF001
    "=": "⁼", "(": "⁽", ")": "⁾", "a": "ª", "o": "º", "i": "ⁱ", "n": "ⁿ",
})
_SUBSCRIPT = str.maketrans({
    "1": "₁", "2": "₂", "3": "₃", "4": "₄", "5": "₅", "6": "₆", "7": "₇",
    "8": "₈", "9": "₉", "0": "₀", "+": "₊", "-": "₋", "−": "₋",  # noqa: RUF001
    "=": "₌", "(": "₍", ")": "₎", "a": "ₐ", "e": "ₑ", "o": "ₒ", "x": "ₓ",
})
_MATH_ITALIC = str.maketrans({
    c: chr(0x1D434 + i) for i, c in
    enumerate("ABCDEFGHIJKLMNOPQRSTUVWXYZ")
} | {c: chr(0x1D44E + i) for i, c in
     enumerate("abcdefghijklmnopqrstuvwxyz")})
_GREEK_ISO8879 = {
    "Agr": "Alpha", "Bgr": "Beta", "Ggr": "Gamma", "Dgr": "Delta",
    "Egr": "Epsilon", "Zgr": "Zeta", "EEgr": "Eta", "THgr": "Theta",
    "Igr": "Iota", "Kgr": "Kappa", "Lgr": "Lambda", "Mgr": "Mu",
    "Ngr": "Nu", "Xgr": "Xi", "Ogr": "Omicron", "Pgr": "Pi", "Rgr": "Rho",
    "Sgr": "Sigma", "Tgr": "Tau", "Ugr": "Upsilon", "PHgr": "Phi",
    "KHgr": "Chi", "PSgr": "Psi", "OHgr": "Omega",
    "agr": "alpha", "bgr": "beta", "ggr": "gamma", "dgr": "delta",
    "egr": "epsilon", "zgr": "zeta", "eegr": "eta", "thgr": "theta",
    "igr": "iota", "kgr": "kappa", "lgr": "lambda", "mgr": "mu",
    "ngr": "nu", "xgr": "xi", "ogr": "omicron", "pgr": "pi", "rgr": "rho",
    "sgr": "sigmaf", "tgr": "tau", "ugr": "upsilon", "phgr": "phi",
    "khgr": "chi", "psgr": "psi", "ohgr": "omega",
}


def _greek(name: str) -> str:
    mapped = _GREEK_ISO8879.get(name)
    if mapped is None:
        return f"&{name};"
    return html.unescape(f"&{mapped};")


def _super(text: str) -> str:
    return text.translate(_SUPERSCRIPT)


def _sub(text: str) -> str:
    return text.translate(_SUBSCRIPT)


def _math_italic(text: str) -> str:
    return text.translate(_MATH_ITALIC)


# ----------------------------------------------------------- item sink
def _esc(t: str) -> str:
    return (t.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace("_", "\\_"))


class _Doc:
    """Flat-item analog of the reference's parents/level bookkeeping."""

    def __init__(self):
        self.items = new_items()
        self.parents: dict[int, int] = {1: 0}
        self.table_items: list[int] = []

    def add_title(self, text: str, level: int) -> int:
        par = self.parents.get(level, 0)
        idx = _mk_item(self.items, par, "title", 1, _esc(text), "body")
        self.items[idx]["_hlevel"] = 1
        return idx

    def add_heading(self, text: str, level: int, parent_level: int) -> int:
        par = self.parents.get(parent_level, 0)
        idx = _mk_item(self.items, par, "section_header", 1, _esc(text),
                       "body")
        self.items[idx]["_hlevel"] = level + 1
        return idx

    def add_text(self, text: str, parent_idx: int) -> int:
        return _mk_item(self.items, parent_idx, "text", 1, _esc(text),
                        "body")

    def add_table_placeholder(self, parent_idx: int) -> None:
        idx = _mk_item(self.items, parent_idx, "table", 1, "", "body")
        self.table_items.append(idx)


# --------------------------------------------------------- CALS tables
def _cals_table_md(table_xml: str) -> str:
    """OASIS exchange-table parse (:1620-1795): colspec widths unify the
    tgroups into one offset grid; entries span namest..nameend; empty
    rows drop; rows pad to the global column count."""
    try:
        root = ET.fromstring(table_xml)
    except ET.ParseError:
        try:
            root = ET.fromstring(
                re.sub(r"&[a-zA-Z]+\d*;", "", table_xml))
        except ET.ParseError:
            return ""
    tgs = []
    for tg in root.iter("tgroup"):
        colinfo = []
        for cs in tg.iter("colspec"):
            colinfo.append(cs.get("colwidth") or "0")
        tgs.append((tg, colinfo))
    if not tgs:
        return ""

    def width(cw: str):
        cw = re.sub("pt", "", cw, flags=re.I)
        cw = re.sub("mm", "", cw, flags=re.I)
        try:
            return int(cw)
        except ValueError:
            try:
                return float(cw)
            except ValueError:
                return 0

    colinfo = {}
    for itg, (_tg, widths) in enumerate(tgs):
        info = {"offset": [], "colwidth": [], "cell_range": [],
                "cell_offst": [0]}
        offst = 0
        for cw in widths:
            w = width(cw)
            info["colwidth"].append(w)
            info["offset"].append(offst)
            offst += w
        info["offset"].append(offst)
        colinfo[itg] = info
    min_offset = list(colinfo[0]["offset"])
    offset_w0 = []
    for itg, col in colinfo.items():
        for ic, cw in enumerate(col["colwidth"]):
            if cw == 0:
                offset_w0.append(col["offset"][ic])
        min_offset = sorted(set(col["offset"] + min_offset))
    min_offset = sorted(min_offset + list(set(offset_w0)))
    min_colwidth = [min_offset[i + 1] - min_offset[i]
                    for i in range(len(min_offset) - 1)]
    for itg, col in colinfo.items():
        i = 1
        range_ = 1
        for min_i in range(1, len(min_offset)):
            if i >= len(col["offset"]):
                break
            min_offst = min_offset[min_i]
            offst = col["offset"][i]
            if min_offst == offst:
                if len(col["offset"]) == i + 1 and \
                        len(min_offset) > min_i + 1:
                    range_ += 1
                else:
                    col["cell_range"].append(range_)
                    col["cell_offst"].append(col["cell_offst"][-1] + range_)
                    range_ = 1
                    i += 1
            elif min_offst < offst:
                range_ += 1
            else:
                return ""
    # reference _get_max_ncols: the max COLSPEC count across groups (not
    # the unified offset count) bounds the rendered width
    ncols_max = max(len(col["colwidth"]) for col in colinfo.values())
    if ncols_max == 0:
        return ""

    grid_rows: list[list[str]] = []
    for itg, (tg, _w) in enumerate(tgs):
        tg_range = colinfo[itg]
        for row in list(tg.iter("row")) + list(tg.iter("tr")):
            entries = list(row.iter("entry")) + list(row.iter("td"))
            cells = [""] * ncols_max
            is_empty = True
            wrong = False
            ncols = 0
            for ientry, entry in enumerate(entries):
                text = " ".join("".join(entry.itertext()).split())
                namest = entry.get("namest")
                nameend = entry.get("nameend")
                start = int(namest) if namest and namest.isnumeric() \
                    else ientry + 1
                if nameend and nameend.isnumeric():
                    end = int(nameend)
                    shift = 0
                else:
                    end = ientry + 2
                    shift = 1
                n_offst = len(tg_range["cell_offst"])
                if start < 1 or start > n_offst or end > n_offst:
                    wrong = True
                    break
                lo = tg_range["cell_offst"][start - 1]
                hi = tg_range["cell_offst"][end - 1] - shift
                if text:
                    is_empty = False
                for irep in range(lo, hi + 1):
                    if 0 <= irep < ncols_max:
                        cells[irep] = text
                        ncols += 1
            if wrong:
                continue
            if not is_empty:
                grid_rows.append(cells)
    if not grid_rows:
        return ""
    md = []
    for ri, row in enumerate(grid_rows):
        md.append("| " + " | ".join(
            c.replace("|", "&#124;") for c in row) + " |")
        if ri == 0:
            md.append("| " + " | ".join("-" for _ in range(ncols_max))
                      + " |")
    return "\n".join(md)


# ------------------------------------------------------------ handlers
class _BaseHandler(ContentHandler):
    """Shared machinery of the three SAX handlers: a tag-property stack,
    text accumulation for is-text elements, sub/sup styling."""

    TEXT_ELEMENTS: dict[str, bool] = {}
    SUP: str = ""
    SUB: str = ""

    def __init__(self):
        super().__init__()
        self.doc = _Doc()
        self.level = 1
        self.property: list[str] = []
        self.text = ""
        self.claim = ""
        self.claims: list[str] = []
        self.abstract = ""
        self.paragraph = ""

    def _is_text(self, tag: str) -> bool:
        return self.TEXT_ELEMENTS.get(tag, False)

    def characters(self, content):
        if self.property:
            elm = self.property[-1]
            if self._is_text(elm):
                if elm in (self.SUP, self.SUB):
                    if len(self.property) < 2:
                        return
                    if self._is_text(self.property[-2]):
                        self.text += self._apply_style(content, elm)
                else:
                    self.text += content

    def skippedEntity(self, name):
        if self.property:
            elm = self.property[-1]
            if self._is_text(elm):
                unescaped = _greek(name)
                if unescaped == f"&{name};":
                    unescaped = html.unescape(unescaped)
                    if unescaped == f"&{name};":
                        return
                if elm in (self.SUP, self.SUB):
                    if len(self.property) < 2:
                        return
                    if self._is_text(self.property[-2]):
                        self.text += self._apply_style(unescaped, elm)
                else:
                    self.text += unescaped

    def _apply_style(self, text: str, style_tag: str) -> str:
        if style_tag == self.SUP:
            return _super(text)
        if style_tag == self.SUB:
            return _sub(text)
        return text


class _IceHandler(_BaseHandler):
    """ICE v4.x applications + grants (:276-565)."""

    TEXT_ELEMENTS = {
        "abstract": True, "invention-title": True, "claims": False,
        "claim": False, "claim-text": True, "p": True, "heading": True,
        "description": False, "table": False,
        "description-of-drawings": True, "sup": True, "sub": True,
        "maths": False,
    }
    SUP = "sup"
    SUB = "sub"

    def startElement(self, tag, attributes):
        if tag in ("us-patent-application", "us-patent-grant"):
            self.text = ""
        if tag in self.TEXT_ELEMENTS:
            if tag == "claim-text" and self.property and \
                    self.property[-1] == tag and self.text.strip():
                self.claim += " " + self.text.strip()
                self.text = ""
            elif tag == "heading":
                level_attr = attributes.get("level", "")
                new_level = int(level_attr) if level_attr.isnumeric() else 1
                max_level = min(self.doc.parents.keys())
                self.level = new_level + 1 \
                    if (new_level + 1) in self.doc.parents else max_level
            self.property.append(tag)

    def endElement(self, tag):
        if tag in self.TEXT_ELEMENTS and self.property:
            current = self.property.pop()
            self._add_property(current, self.text.strip())

    def _add_property(self, name: str, text: str) -> None:
        doc = self.doc
        if name == "invention-title":
            if text:
                doc.parents[self.level + 1] = doc.add_title(text, self.level)
                self.level += 1
            self.text = ""
        elif name == "abstract":
            if self.abstract:
                lvl = HEADING_ABSTRACT[1] \
                    if HEADING_ABSTRACT[1] in doc.parents else 1
                hidx = doc.add_heading(HEADING_ABSTRACT[0], lvl, lvl)
                doc.add_text(self.abstract, hidx)
        elif name == "claim-text":
            text = re.sub(r"\s+", " ", text).strip()
            if text:
                self.claim += " " + text
            self.text = ""
        elif name == "claim" and self.claim:
            self.claims.append(self.claim.strip())
            self.claim = ""
        elif name == "claims" and self.claims:
            lvl = HEADING_CLAIMS[1] \
                if HEADING_CLAIMS[1] in doc.parents else 1
            hidx = doc.add_heading(HEADING_CLAIMS[0], lvl, lvl)
            for t in self.claims:
                doc.add_text(t, hidx)
        elif name == "p" and text:
            text = re.sub(r"\s+", " ", text)
            if "abstract" in self.property:
                self.abstract = (self.abstract + " " + text) \
                    if self.abstract else text
            else:
                doc.add_text(text, doc.parents.get(self.level, 0))
            self.text = ""
        elif name == "heading" and text:
            doc.parents[self.level + 1] = doc.add_heading(
                text, self.level, self.level)
            self.level += 1
            self.text = ""
        elif name == "table":
            doc.add_table_placeholder(doc.parents.get(self.level, 0))


class _GrantV2Handler(_BaseHandler):
    """ST32 grants v2.5 (:567-925): PDAT data cells under structural
    wrappers."""

    TEXT_ELEMENTS = {
        "PDAT": True, "SDOAB": False, "SDOCL": False, "B540": False,
        "CL": False, "CLM": False, "PARA": True, "H": True,
        "DRWDESC": False, "SP": False, "SB": False, "ITALIC": False,
        "CWU": False, "table": False,
    }
    SUP = "SP"
    SUB = "SB"

    def startElement(self, tag, attributes):
        if tag == "PATDOC":
            self.text = ""
        if tag in self.TEXT_ELEMENTS:
            if tag == "H" and "SDOCL" not in self.property:
                level_attr = attributes.get("LVL", "")
                new_level = int(level_attr) if level_attr.isnumeric() else 1
                max_level = min(self.doc.parents.keys())
                self.level = new_level + 1 \
                    if (new_level + 1) in self.doc.parents else max_level
            self.property.append(tag)

    def endElement(self, tag):
        if tag in self.TEXT_ELEMENTS and self.property:
            current = self.property.pop()
            self._add_property(current, self.text)

    def _add_property(self, name: str, text: str) -> None:
        doc = self.doc
        if name == "PDAT" and text:
            if not self.property:
                self.text = ""
                return
            wrapper = self.property[-1]
            text = self._apply_style(text, wrapper)
            if "B540" in self.property and text.strip():
                doc.parents[self.level + 1] = doc.add_title(
                    text.strip(), self.level)
                self.level += 1
            elif "SDOAB" in self.property:
                self.abstract += text
            elif "CLM" in self.property:
                self.claim += text
            elif "PARA" in self.property and \
                    "CLM" not in self.property and \
                    "SDOAB" not in self.property:
                self.paragraph += text
            elif "H" in self.property and \
                    "SDOCL" not in self.property and text.strip():
                doc.parents[self.level + 1] = doc.add_heading(
                    text.strip(), self.level, self.level)
                self.level += 1
            self.text = ""
        elif name == "CLM" and self.claim.strip():
            self.claims.append(self.claim.strip())
            self.claim = ""
        elif name == "CL" and self.claims:
            lvl = HEADING_CLAIMS[1] \
                if HEADING_CLAIMS[1] in doc.parents else 1
            hidx = doc.add_heading(HEADING_CLAIMS[0], lvl, lvl)
            for t in self.claims:
                doc.add_text(t, hidx)
        elif name == "SDOAB" and self.abstract.strip():
            lvl = HEADING_ABSTRACT[1] \
                if HEADING_ABSTRACT[1] in doc.parents else 1
            hidx = doc.add_heading(HEADING_ABSTRACT[0], lvl, lvl)
            doc.add_text(self.abstract.strip(), hidx)
        elif name == "PARA":
            paragraph = self.paragraph.strip()
            if paragraph and "CLM" not in self.property:
                doc.add_text(paragraph, doc.parents.get(self.level, 0))
            elif "CLM" in self.property:
                self.claim += " "
            self.paragraph = ""
        elif name == "table":
            doc.add_table_placeholder(doc.parents.get(self.level, 0))

    def _apply_style(self, text: str, style_tag: str) -> str:
        if style_tag == "SP":
            return _super(text)
        if style_tag == "SB":
            return _sub(text)
        if style_tag == "ITALIC":
            return _math_italic(text)
        return text


class _AppV1Handler(_BaseHandler):
    """Application publications v1.x (:1160-1494)."""

    TEXT_ELEMENTS = {
        "brief-description-of-drawings": False, "subdoc-abstract": False,
        "title-of-invention": True, "subdoc-claims": False,
        "claim": False, "claim-text": True, "number": False,
        "paragraph": True, "heading": True, "superscript": True,
        "subscript": True, "table": False, "math-cwu": False,
    }
    SUP = "superscript"
    SUB = "subscript"

    def startElement(self, tag, attributes):
        if tag == "patent-application-publication":
            self.text = ""
        if tag in self.TEXT_ELEMENTS:
            if tag == "claim-text" and self.property and \
                    self.property[-1] == tag and self.text.strip():
                self.claim += " " + self.text.strip("\n")
                self.text = ""
            elif tag == "heading":
                level_attr = attributes.get("lvl", "")
                new_level = int(level_attr) if level_attr.isnumeric() else 1
                max_level = min(self.doc.parents.keys())
                self.level = new_level + 1 \
                    if (new_level + 1) in self.doc.parents else max_level
            self.property.append(tag)

    def endElement(self, tag):
        if tag in self.TEXT_ELEMENTS and self.property:
            current = self.property.pop()
            self._add_property(current, self.text)

    def _apply_style(self, text: str, style_tag: str) -> str:
        text = html.unescape(text)
        if style_tag == "superscript":
            return _super(text)
        if style_tag == "subscript":
            return _sub(text)
        return text

    def _add_property(self, name: str, text: str) -> None:
        doc = self.doc
        if name == "title-of-invention":
            title = text.strip()
            if title:
                doc.parents[self.level + 1] = doc.add_title(
                    title, self.level)
                self.level += 1
            self.text = ""
        elif name == "subdoc-abstract":
            abstract = self.abstract.strip()
            if abstract:
                lvl = HEADING_ABSTRACT[1] \
                    if HEADING_ABSTRACT[1] in doc.parents else 1
                hidx = doc.add_heading(HEADING_ABSTRACT[0], lvl, lvl)
                doc.add_text(self.abstract, hidx)
                self.abstract = ""
            self.text = ""
        elif name == "claim-text":
            if text:
                self.claim += self.text.strip("\n")
            self.text = ""
        elif name == "claim":
            claim = self.claim.strip()
            if claim:
                self.claims.append(claim)
            self.claim = ""
        elif name == "subdoc-claims" and self.claims:
            lvl = HEADING_CLAIMS[1] \
                if HEADING_CLAIMS[1] in doc.parents else 1
            hidx = doc.add_heading(HEADING_CLAIMS[0], lvl, lvl)
            for t in self.claims:
                doc.add_text(t, hidx)
        elif name in ("paragraph", "heading"):
            if text and "subdoc-abstract" in self.property:
                self.abstract = (self.abstract + text) \
                    if self.abstract else text
            elif text.strip():
                text = re.sub(r"\s+", " ", text).strip()
                if name == "heading":
                    doc.parents[self.level + 1] = doc.add_heading(
                        text, self.level, self.level)
                    self.level += 1
                else:
                    doc.add_text(text, doc.parents.get(self.level, 0))
            self.text = ""
        elif name == "table":
            doc.add_table_placeholder(doc.parents.get(self.level, 0))


def _parse_aps(content: str) -> _Doc:
    """APS key/value text format (:926-1160)."""
    doc = _Doc()
    level = [1]

    def last_text_item(parent_idx: int):
        for it in reversed(doc.items):
            if it["label"] == "text" and it["parent_idx"] == parent_idx:
                return it
        return None

    def store_section(section: str) -> None:
        if section == "ABST":
            heading = HEADING_ABSTRACT
        elif section == "CLMS":
            heading = HEADING_CLAIMS
        else:
            return
        lvl = heading[1] if heading[1] in doc.parents else 1
        level[0] = lvl
        doc.parents[lvl + 1] = doc.add_heading(heading[0], lvl, lvl)
        level[0] = lvl + 1

    def store_content(section: str, field: str, value: str) -> None:
        par = doc.parents.get(level[0], 0)
        if field == "TTL":
            doc.parents[level[0] + 1] = doc.add_title(value, level[0])
            level[0] += 1
        elif field == "PAL" and section == "ABST":
            item = last_text_item(par)
            if item is not None:
                item["text"] += " " + value
            else:
                doc.add_text(value, par)
        elif field == "NUM" and section == "CLMS":
            doc.add_text("", par)
        elif field in ("PAR", "PA1", "PA2", "PA3") and section == "CLMS":
            item = last_text_item(par)
            if item is None:
                item = doc.items[doc.add_text("", par)]
            item["text"] += f" {value.strip()}" if item["text"] \
                else value.strip()
        elif field == "PAC" and section in ("BSUM", "DETD", "DRWD"):
            lvl = HEADING_ABSTRACT[1] \
                if HEADING_ABSTRACT[1] in doc.parents else 1
            level[0] = lvl
            doc.parents[lvl + 1] = doc.add_heading(value, lvl, lvl)
            level[0] = lvl + 1
        elif field in ("PAR", "PA1", "PA2", "PA3") and \
                section in ("BSUM", "DETD", "DRWD"):
            doc.add_text(value, doc.parents.get(level[0], 0))

    section = ""
    key = ""
    value = ""
    for line in content.splitlines():
        cols = re.split(r"\s{2,}", line, maxsplit=1)
        if key and value and (len(cols) == 1
                              or (len(cols) == 2 and cols[0])):
            store_content(section, key, value)
            key = ""
            value = ""
        if len(cols) == 1:
            section = cols[0]
            store_section(section)
        elif len(cols) == 2:
            if cols[0]:
                key = cols[0]
                value = cols[1]
            elif not re.match(r"^##STR\d+##$", cols[1]):
                value += " " + cols[1]
    if key and value:
        store_content(section, key, value)
    return doc


_TABLE_RE = re.compile(r"^(<table .*?</table>)", re.MULTILINE | re.DOTALL)


def extract_uspto(payload: str) -> tuple[str, list[Item], dict]:
    """payload (USPTO patent text/XML) → (extracted_text, items,
    metrics)."""
    handler = None
    kind = None
    for line in payload.splitlines():
        low = line.lower()
        if line.startswith("PATN") and line.strip() == "PATN":
            kind = "aps"
            break
        if line.startswith("<!DOCTYPE"):
            if "us-patent-application-v4" in low or \
                    "us-patent-grant-v4" in low:
                kind = "ice"
            elif "us-grant-025" in low:
                kind = "v2"
            elif "patent-application-publication" in low and "pap-v1" in low:
                kind = "v1"
            break
    if kind is None:
        raise UsptoError("unrecognized USPTO doctype")

    if kind == "aps":
        doc = _parse_aps(payload)
    else:
        handler = {"ice": _IceHandler, "v2": _GrantV2Handler,
                   "v1": _AppV1Handler}[kind]()
        parser = xml.sax.make_parser()
        parser.setFeature(feature_external_ges, False)
        parser.setFeature(feature_external_pes, False)
        parser.setContentHandler(handler)
        try:
            parser.parse(io.StringIO(payload))
        except xml.sax.SAXParseException as exc:
            raise UsptoError(f"malformed USPTO XML: {exc}") from exc
        doc = handler.doc
        raw_tables = _TABLE_RE.findall(payload)
        if len(raw_tables) == len(doc.table_items):
            for idx, raw in zip(doc.table_items, raw_tables):
                doc.items[idx]["text"] = _cals_table_md(raw)

    return result(doc.items)
