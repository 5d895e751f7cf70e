"""EBCDIC payload → item table.

Re-expression of the reference EBCDIC backend (docling/backend/
ebcdic_backend.py: field decoders :60-117, record parser :120-196,
document assembly :264-321): COBOL-copybook fixed-width records decoded
per a JSON layout — character data via an EBCDIC codec (default cp037),
COMP binary integers, COMP-3 packed decimals (sign nibble), zoned
decimals; optional record-length / record-type prefixes select schemas;
each schema renders one table with a field-name header row, prefixed by
the layout description.

Payload transport: the reference takes the layout as a sidecar option;
here a single JSON payload carries both —
``{"layout": {...}, "data_b64": "..."}``. Pinned against
tests/data/ebcdic (tests/test_ebcdicx_groundtruth.py).
"""

from __future__ import annotations

import base64
import codecs
import json
import re
from decimal import Decimal

from docling_spark.engine.htmlx import Item, _mk_item, new_items, result

_CONTROL_RE = re.compile(r"[\x00-\x1f\x7f-\x9f]")
_NEGATIVE_SIGNS = frozenset({0xB, 0xD})


class EbcdicError(ValueError):
    pass


class _Field:
    __slots__ = ("name", "size", "type", "scale")

    def __init__(self, d: dict):
        self.name = d.get("name", "")
        self.size = int(d.get("size", 1))
        self.type = d.get("type", "string")
        self.scale = int(d.get("scale", 0))


class _Decoder:
    def __init__(self, encoding: str = "cp037", strip_control: bool = True):
        try:
            self._decode_text = codecs.getdecoder(encoding)
        except LookupError as exc:
            raise EbcdicError(f"unknown EBCDIC codec {encoding!r}") from exc
        self._strip = strip_control

    def decode(self, data: bytes, field: _Field):
        t = field.type
        if t == "string":
            text, _ = self._decode_text(data)
            if self._strip:
                text = _CONTROL_RE.sub("", text)
            return text.strip()
        if t == "integer":
            value: int = int.from_bytes(data, "big", signed=True)
        elif t == "unsigned_integer":
            value = int.from_bytes(data, "big", signed=False)
        elif t == "packed_decimal":
            nibbles = data.hex()
            digits = int(nibbles[:-1] or "0")
            value = -digits if int(nibbles[-1], 16) in _NEGATIVE_SIGNS \
                else digits
        elif t == "zoned_decimal":
            low = [b & 0x0F for b in data]
            if any(n > 9 for n in low):
                raise EbcdicError(f"{data.hex()} holds a non-decimal digit")
            digits = int("".join(str(n) for n in low))
            value = -digits if data[-1] >> 4 in _NEGATIVE_SIGNS else digits
        else:
            raise EbcdicError(f"unknown field type {t!r}")
        if field.scale:
            return Decimal(value).scaleb(-field.scale)
        return value


def _parse_records(layout: dict, data: bytes, decoder: _Decoder,
                   max_records: int | None = None):
    records = layout.get("records") or []
    if not records:
        raise EbcdicError("layout has no records")
    schemas = []
    for r in records:
        fields = [_Field(f) for f in r.get("fields", [])]
        schemas.append({
            "name": r.get("name", "record"),
            "selector": r.get("selector"),
            "fields": fields,
            "size": sum(f.size for f in fields),
        })
    length_field = (_Field(layout["record_length_field"])
                    if layout.get("record_length_field") else None)
    type_field = (_Field(layout["record_type_field"])
                  if layout.get("record_type_field") else None)
    prefix_size = (length_field.size if length_field else 0) + \
        (type_field.size if type_field else 0)
    rows: dict[str, list[list[str]]] = {s["name"]: [] for s in schemas}
    end = len(data) - int(layout.get("footer_size", 0))
    offset = int(layout.get("header_size", 0))
    count = 0

    def take(off, size, name):
        if off + size > end:
            raise EbcdicError(
                f"input ends inside {name!r}: {end - off} of {size} bytes left")
        return data[off:off + size]

    while offset < end and (max_records is None or count < max_records):
        length = None
        rtype = None
        if length_field is not None:
            length = int(decoder.decode(
                take(offset, length_field.size, length_field.name),
                length_field))
            offset += length_field.size
        if type_field is not None:
            rtype = str(decoder.decode(
                take(offset, type_field.size, type_field.name), type_field))
            offset += type_field.size
        schema = None
        for s in schemas:
            if rtype is None or s["selector"] == rtype:
                schema = s
                break
        if schema is None:
            raise EbcdicError(f"no record layout matches type {rtype!r}")
        size = schema["size"] if length is None else length - prefix_size
        if size < 0:
            raise EbcdicError(
                f"record length {length} shorter than the prefix")
        body = take(offset, size, schema["name"])
        values = []
        foff = 0
        for f in schema["fields"]:
            chunk = body[foff:foff + f.size]
            foff += f.size
            if f.type != "skip":
                values.append(str(decoder.decode(chunk, f)))
        rows[schema["name"]].append(values)
        offset += size
        count += 1
    return schemas, rows


def extract_ebcdic(payload: str) -> tuple[str, list[Item], dict]:
    """payload: JSON {"layout": {...}, "data_b64": "...", "encoding"?,
    "max_records"?} → (extracted_text, items, metrics)."""
    try:
        wrapper = json.loads(payload)
        layout = wrapper["layout"]
        data = base64.b64decode(wrapper["data_b64"])
    except (json.JSONDecodeError, KeyError, ValueError) as exc:
        raise EbcdicError(f"bad ebcdic payload: {exc}") from exc
    decoder = _Decoder(wrapper.get("encoding", "cp037"),
                       wrapper.get("strip_control_characters", True))
    schemas, rows = _parse_records(layout, data, decoder,
                                   wrapper.get("max_records"))

    items = new_items()
    if layout.get("description"):
        _mk_item(items, 0, "text", 1, layout["description"], "body")
    n_records = 0
    for schema in schemas:
        srows = rows[schema["name"]]
        if not srows:
            continue
        n_records += len(srows)
        if len(schemas) > 1:
            hidx = _mk_item(items, 0, "section_header", 1, schema["name"],
                            "body")
            items[hidx]["_hlevel"] = 2
        header = [f.name for f in schema["fields"] if f.type != "skip"]
        md = []
        for ri, row in enumerate([header] + srows):
            cells = [c.replace("|", "&#124;") for c in row]
            md.append("| " + " | ".join(cells) + " |")
            if ri == 0:
                md.append("| " + " | ".join("-" for _ in header) + " |")
        tidx = _mk_item(items, 0, "table", 1, "\n".join(md), "body")
        items[tidx]["num_rows"] = len(srows) + 1
        items[tidx]["num_cols"] = len(header)

    return result(items)
