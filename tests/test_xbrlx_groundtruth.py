"""XBRL engine pinned against the reference's own groundtruth corpus
(tests/data/xbrl/{sources,groundtruth}): instance + taxonomy dir zipped
into one payload, markdown compared byte-exact.

Known delta (grve_10q_htm, one line): the instance embeds the
"Schedule of dividends payable" table TWICE in different facts with
BYTE-IDENTICAL markup (offsets 139602 and 149057 of the unescaped
source, verified equal), yet the reference groundtruth renders the two
occurrences differently — the first with its "March 31, 2025" /
"December 31, 2025" header cells swapped against document order, the
second in document order. A deterministic function of the markup cannot
produce both outputs; the reference's html backend memoizes visibility
per ``id(tag)`` (html_backend.py:468,1014), and CPython address reuse
across gc makes that cache order-sensitive. We pin document order for
both occurrences and normalize the single affected groundtruth line.
"""

from __future__ import annotations

import io
import pathlib
import zipfile

import pytest

SRC = pathlib.Path("/root/reference/tests/data/xbrl/sources")
GT = pathlib.Path("/root/reference/tests/data/xbrl/groundtruth")

needs_ref = pytest.mark.requires_reference(SRC)

FIXTURES = [
    ("mlac-20251231.xml", "mlac-taxonomy"),
    ("grve_10q_htm.xml", "grve-taxonomy"),
]

# the nondeterministic-artifact line (see module docstring): groundtruth
# column order -> document order of the source markup
_GRVE_ARTIFACT = (
    "|  |  | **March 31, 2025**  **$** |  |  |  | **December 31, 2025**  **$** |  |  |",
    "|  |  | **December 31, 2025**  **$** |  |  |  | **March 31, 2025**  **$** |  |  |",
)


def build_payload(instance: str, taxdir: str) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr(instance, (SRC / instance).read_bytes())
        for f in (SRC / taxdir).iterdir():
            z.writestr(f"{taxdir}/{f.name}", f.read_bytes())
    return buf.getvalue()


@needs_ref
def test_grve_duplicate_tables_are_byte_identical():
    """The structural proof behind the one normalized groundtruth line:
    the two 'Schedule of dividends payable' tables in the unescaped
    instance are BYTE-IDENTICAL (4547 chars each), yet the groundtruth
    renders their header cells in different orders — no deterministic
    function of the markup can produce both, so the divergence is the
    reference's id(tag) visibility-cache artifact, not a parsing
    difference."""
    import html
    import re

    un = html.unescape(
        (SRC / "grve_10q_htm.xml").read_text(errors="replace"))
    idx = [m.start() for m in re.finditer(
        re.escape("Schedule of dividends payable"), un)]
    assert len(idx) == 2

    def table_at(pos):
        return un[un.rfind("<table", 0, pos):un.find("</table>", pos) + 8]

    t1, t2 = table_at(idx[0]), table_at(idx[1])
    assert t1 == t2 and len(t1) > 4000
    # and the groundtruth nevertheless renders them differently
    gt = (GT / "grve_10q_htm.xml.md").read_text()
    swapped, docorder = _GRVE_ARTIFACT
    assert gt.count(swapped) == 1 and gt.count(docorder) == 1


@needs_ref
@pytest.mark.parametrize("instance,taxdir", FIXTURES)
def test_xbrl_md_byte_exact(instance, taxdir):
    from docling_spark.engine.xbrlx import extract_xbrl

    text, items, metrics = extract_xbrl(build_payload(instance, taxdir))
    expect = (GT / f"{instance}.md").read_text().rstrip("\n")
    if instance.startswith("grve"):
        swapped, docorder = _GRVE_ARTIFACT
        assert expect.count(swapped) == 1
        expect = expect.replace(swapped, docorder, 1)
    assert text == expect
    assert metrics["n_items"] == len(items) - 1
    assert items[-1]["label"] == "key_value_region"


@needs_ref
def test_xbrl_title_from_dei_facts():
    from docling_spark.engine.xbrlx import extract_xbrl

    text, items, _ = extract_xbrl(build_payload(*FIXTURES[0]))
    assert items[1]["label"] == "title"
    assert items[1]["text"] == "10-K MOUNTAIN LAKE ACQUISITION CORP. 2025-12-31"
    assert text.startswith("# 10-K MOUNTAIN LAKE ACQUISITION CORP. 2025-12-31")


@needs_ref
def test_xbrl_kv_marker_rendering():
    """The KV graph region renders as the md missing-item marker and an
    extra-indented itxt row (reference groundtruth tails)."""
    from docling_spark.engine.serialize import serialize_itxt
    from docling_spark.engine.xbrlx import extract_xbrl

    text, items, _ = extract_xbrl(build_payload(*FIXTURES[1]))
    assert text.endswith("<!-- missing-key-value-item -->")
    tail = serialize_itxt(items).splitlines()[-1]
    assert tail.startswith("    item-")
    assert tail.endswith("key_value_region: ignored")


@needs_ref
def test_xbrl_bare_instance_no_taxonomy():
    """A bare instance XML (no schema files) falls back to the *TextBlock
    naming heuristic and still extracts the disclosure bodies."""
    from docling_spark.engine.xbrlx import extract_xbrl

    raw = (SRC / "grve_10q_htm.xml").read_text()
    text, items, _ = extract_xbrl(raw)
    assert "# 10-Q" in text.splitlines()[0]
    assert any(it["label"] == "table" for it in items)


def test_xbrl_rejects_garbage():
    from docling_spark.engine.xbrlx import XbrlError, extract_xbrl

    with pytest.raises(XbrlError):
        extract_xbrl("<html><body>not xbrl</body></html>")
    with pytest.raises(XbrlError):
        extract_xbrl(b"PK\x03\x04 corrupt")
