"""XBRL instance-document engine (from scratch, no arelle).

Mirrors the reference XBRL backend's *output contract*
(docling/backend/xml/xbrl_backend.py:249-466) while replacing its
arelle dependency with a direct parse of the instance XML plus the
taxonomy schemas shipped alongside it:

- document title = ``"{DocumentType} {EntityRegistrantName}
  {DocumentPeriodEndDate}"`` from the dei facts (xbrl_backend.py:263-275);
- every fact whose concept's declared XML-Schema type has local name
  ``textBlockItemType`` is unescaped, whitespace-collapsed and parsed as
  an HTML fragment (xbrl_backend.py:289-312: ``re.sub(r"\\s+", " ",
  fact.value)`` → HTMLDocumentBackend with ``add_title=False,
  infer_furniture=False``), its items concatenated in instance document
  order (``DoclingDocument.concatenate``);
- numeric facts populate a key-value graph that the markdown serializer
  renders as a single ``<!-- missing-key-value-item -->`` marker and the
  itxt dump as one ``key_value_region: ignored`` row
  (xbrl_backend.py:363-381, 455-462) — re-expressed here as one
  ``key_value_region`` item carrying the fact count.

Concept→type resolution reads the ``@type`` attribute of ``xs:element``
declarations from every ``.xsd`` reachable in the payload: loose files
and files inside nested taxonomy-package zips (the reference funnels the
same set through arelle's DTS loader, xbrl_backend.py:120-141). A
type's *local name* is compared, exactly like arelle's
``concept.type.name`` — types merely *derived from* textBlockItemType do
not match, in both engines.

Payload: a zip archive (base64 in the text column, like the other
binary formats) holding one XBRL instance ``.xml`` plus its taxonomy
files; a bare instance XML string is accepted too, falling back to the
``*TextBlock`` element-name heuristic when no schema is available.
"""

from __future__ import annotations

import io
import re
import zipfile
import xml.etree.ElementTree as ET

from docling_spark.engine.htmlx import HtmlExtractor, Item, _mk_item, new_items, result

XBRLI_NS = "http://www.xbrl.org/2003/instance"
LINK_NS = "http://www.xbrl.org/2003/linkbase"
XSD_NS = "http://www.w3.org/2001/XMLSchema"

# Type local names arelle classifies as numeric (ModelConcept.isNumeric:
# derived from xs decimal/float/double chains). The closed set below covers
# the XBRL specification base types plus the dtr-types numeric registry.
NUMERIC_TYPE_LOCALS = frozenset({
    "monetaryItemType", "sharesItemType", "perShareItemType",
    "decimalItemType", "integerItemType", "intItemType", "longItemType",
    "shortItemType", "byteItemType", "floatItemType", "doubleItemType",
    "nonNegativeIntegerItemType", "nonPositiveIntegerItemType",
    "positiveIntegerItemType", "negativeIntegerItemType",
    "unsignedLongItemType", "unsignedIntItemType", "unsignedShortItemType",
    "unsignedByteItemType", "pureItemType", "percentItemType",
    "energyItemType", "powerItemType", "massItemType", "volumeItemType",
    "areaItemType", "lengthItemType", "memoryItemType", "flowItemType",
    "monetaryPerLengthItemType", "monetaryPerVolumeItemType",
    "monetaryPerMassItemType", "monetaryPerEnergyItemType",
    "monetaryPerDurationItemType", "perUnitItemType",
    "voltageItemType",
    "electricCurrentItemType", "frequencyItemType", "temperatureItemType",
    "insolationItemType", "irradianceItemType", "planeAngleItemType",
    "pressureItemType", "speedItemType", "weightItemType",
})


class XbrlError(ValueError):
    pass


def _local(tag_or_qname: str) -> str:
    """Local part of either a Clark-notation tag or a prefixed QName."""
    if tag_or_qname.startswith("{"):
        return tag_or_qname.rsplit("}", 1)[1]
    return tag_or_qname.rsplit(":", 1)[-1]


def _schema_element_types(xsd_bytes: bytes, out: dict) -> None:
    """Collect ``(targetNamespace, elementName) -> type local name`` from
    one schema document into ``out``. Only top-level xs:element
    declarations matter — facts are global elements."""
    try:
        root = ET.fromstring(xsd_bytes)
    except ET.ParseError:
        return
    tns = root.get("targetNamespace", "")
    for el in root.iter(f"{{{XSD_NS}}}element"):
        name = el.get("name")
        typ = el.get("type")
        if name and typ:
            out[(tns, name)] = _local(typ)


def _walk_zip_schemas(zf: zipfile.ZipFile, out: dict, depth: int = 0) -> None:
    """Read every .xsd in the archive, recursing one level into nested
    taxonomy-package zips (the SEC layout keeps the standard us-gaap/dei
    schemas inside ``taxonomy_package.zip``)."""
    for name in zf.namelist():
        low = name.lower()
        if low.endswith(".xsd"):
            _schema_element_types(zf.read(name), out)
        elif low.endswith(".zip") and depth < 2:
            try:
                inner = zipfile.ZipFile(io.BytesIO(zf.read(name)))
            except zipfile.BadZipFile:
                continue
            with inner:
                _walk_zip_schemas(inner, out, depth + 1)


def _find_instance(zf: zipfile.ZipFile) -> bytes | None:
    """The instance document: the .xml whose root element is xbrli:xbrl.
    Linkbases (link:linkbase roots) and anything inside nested packages
    are skipped."""
    candidates = []
    for name in zf.namelist():
        if not name.lower().endswith(".xml"):
            continue
        head = zf.read(name)[:4096]
        if b"http://www.xbrl.org/2003/instance" in head and b"<xbrl" in head.replace(b"xbrli:", b""):
            candidates.append((name.count("/"), name))
    if not candidates:
        return None
    candidates.sort()
    return zf.read(candidates[0][1])


_META_FACTS = ("DocumentType", "EntityRegistrantName", "DocumentPeriodEndDate")


def _parse_instance(instance: bytes):
    """Instance XML → (meta, facts) where facts preserve document order as
    ``(namespace, localname, value, context_ref, has_children)``."""
    try:
        root = ET.fromstring(instance)
    except ET.ParseError as exc:
        raise XbrlError(f"instance XML parse error: {exc}") from exc
    if _local(root.tag) != "xbrl":
        raise XbrlError("document root is not an XBRL instance")
    meta = {k: "" for k in _META_FACTS}
    facts = []
    for el in root:
        tag = el.tag
        if not tag.startswith("{"):
            continue
        ns, name = tag[1:].split("}", 1)
        if ns in (XBRLI_NS, LINK_NS):
            continue  # context / unit / schemaRef
        if el.get("contextRef") is None:
            continue
        if len(el):
            # embedded (un-escaped) XHTML: serialize the subtree's markup
            value = (el.text or "") + "".join(
                ET.tostring(c, encoding="unicode") for c in el
            )
        else:
            value = el.text or ""
        if name in _META_FACTS and value:
            meta[name] = value
        facts.append((ns, name, value, el.get("contextRef"), bool(len(el))))
    return meta, facts


def _is_text_block(ns: str, name: str, type_map: dict) -> bool:
    typ = type_map.get((ns, name))
    if typ is not None:
        return typ == "textBlockItemType"
    if not type_map:
        # no taxonomy shipped: fall back to the SEC naming convention
        return name.endswith("TextBlock")
    return False


def _is_numeric(ns: str, name: str, type_map: dict) -> bool:
    typ = type_map.get((ns, name))
    if typ is not None:
        return typ in NUMERIC_TYPE_LOCALS
    return False


def extract_xbrl(payload: bytes | str) -> tuple[str, list[Item], dict]:
    """payload (zip bytes of instance+taxonomy, or bare instance XML
    text) → (extracted_text, items, metrics)."""
    type_map: dict = {}
    if isinstance(payload, bytes) and payload[:2] == b"PK":
        try:
            zf = zipfile.ZipFile(io.BytesIO(payload))
        except zipfile.BadZipFile as exc:
            raise XbrlError(f"not a zip archive: {exc}") from exc
        with zf:
            instance = _find_instance(zf)
            if instance is None:
                raise XbrlError("no XBRL instance document in archive")
            _walk_zip_schemas(zf, type_map)
    else:
        instance = payload.encode("utf-8") if isinstance(payload, str) else payload

    meta, facts = _parse_instance(instance)

    items = new_items()

    title = " ".join(
        v for v in (meta["DocumentType"], meta["EntityRegistrantName"],
                    meta["DocumentPeriodEndDate"]) if v
    ).strip()
    if not title:
        title = "instance"
    _mk_item(items, 0, "title", 1, title, "body")

    n_blocks = 0
    n_numeric = 0
    for ns, name, value, _ctx, _rich in facts:
        if value and _is_text_block(ns, name, type_map):
            n_blocks += 1
            content = re.sub(r"\s+", " ", value).strip()
            block_items = HtmlExtractor(infer_furniture=False).extract(content)
            base = len(items)
            for it in block_items[1:]:  # skip the block _root_
                clone = dict(it)
                clone["item_idx"] = it["item_idx"] + base - 1
                clone["parent_idx"] = (
                    0 if it["parent_idx"] == 0 else it["parent_idx"] + base - 1
                )
                items.append(Item(clone))
        if value and _is_numeric(ns, name, type_map):
            n_numeric += 1
    if n_numeric:
        # the reference's GraphData KV region (xbrl_backend.py:455-462):
        # one placeholder item; md renders the missing-item marker, itxt
        # an indented "ignored" row.
        _mk_item(items, 0, "key_value_region", 1, f"{n_numeric} facts", "body")

    return result(items, parse_score=1.0 if n_blocks else 0.5)
