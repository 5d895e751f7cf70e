"""Heading-hierarchy operator tests (heading_hierarchy_model.py parity):
marker families, ambiguity resolution, level compression, bookmark join."""

from __future__ import annotations

import pathlib

import pytest
from pyspark.sql import functions as F


def _levels(spark, texts):
    from docling_spark.operators.heading_levels import assign_numbering_levels

    df = spark.createDataFrame(
        [(1, i, t) for i, t in enumerate(texts)],
        "doc_id long, heading_idx int, text string",
    )
    out = assign_numbering_levels(df).collect()
    return {r.heading_idx: (r.family, r.num_level) for r in out}


def test_marker_families_and_compression(spark):
    got = _levels(spark, [
        "PART I General", "Chapter 2 Basics", "Article 3 Terms",
        "1.1 Dotted", "1. Arabic", "A. Alpha", "(a) alpha lower",
        "Untitled heading",
    ])
    assert got[0] == ("part", 1)
    assert got[1] == ("chapter", 2)
    assert got[2] == ("article", 3)
    assert got[4] == ("arabic", 4)      # arabic rank before dotted depth 2
    assert got[3] == ("dotted", 5)
    assert got[5] == ("alpha_u", 6)     # clamped at max_level=6
    assert got[7] == ("none", 0)


def test_ambiguous_roman_resolved_by_evidence(spark):
    # 'I.' alone with alpha evidence (B., C.) → alpha
    got = _levels(spark, ["I. First", "B. Second", "C. Third"])
    assert got[0][0] == "alpha_u"
    # 'I.' with Roman evidence (II.) → roman
    got = _levels(spark, ["I. First", "II. Second"])
    assert got[0][0] == "roman_u" and got[1][0] == "roman_u"
    # no evidence: 'I' defaults to roman, 'C' to alpha
    got = _levels(spark, ["I. Only", "Plain text"])
    assert got[0][0] == "roman_u"
    got = _levels(spark, ["C. Only"])
    assert got[0][0] == "alpha_u"


def test_multi_letter_words_are_not_markers(spark):
    got = _levels(spark, ["Summary. of things", "IV. Real roman"])
    assert got[0] == ("none", 0)
    assert got[1][0] == "roman_u"


def test_bookmark_join_claims_and_compresses(spark):
    from docling_spark.operators.heading_levels import bookmark_heading_levels

    headings = spark.createDataFrame(
        [(1, 0, "1. Introduction"), (1, 1, "1.1 Background material"),
         (1, 2, "Unrelated heading")],
        "doc_id long, heading_idx int, text string",
    )
    outline = spark.createDataFrame(
        [(1, 0, "Introduction", 3), (1, 1, "Background material", 7)],
        "doc_id long, bm_idx int, title string, bm_level int",
    )
    got = {r.heading_idx: r.level
           for r in bookmark_heading_levels(headings, outline).collect()}
    # raw depths {3, 7} compress to {1, 2}; unmatched heading absent
    assert got == {0: 1, 1: 2}


def test_bookmark_greedy_fallback(spark):
    """Sequential-greedy conflict resolution (heading_hierarchy_model.py:
    330-361): both bookmarks' best heading is H0; the earlier bookmark
    claims it and the later one falls back to its next-best unclaimed
    heading instead of being dropped."""
    from docling_spark.operators.heading_levels import bookmark_heading_levels

    headings = spark.createDataFrame(
        [(1, 0, "Results"), (1, 1, "Main Results and Discussion here")],
        "doc_id long, heading_idx int, text string",
    )
    outline = spark.createDataFrame(
        # bm 0: exact on H0 (1.0). bm 1: ALSO exact on H0 (1.0) and
        # containment on H1 (0.92) — loses H0 to bm 0 by order, must
        # fall back to H1
        [(1, 0, "Results", 0), (1, 1, "Results", 1)],
        "doc_id long, bm_idx int, title string, bm_level int",
    )
    got = {r.heading_idx: r.level
           for r in bookmark_heading_levels(headings, outline).collect()}
    assert got == {0: 1, 1: 2}


def test_bookmark_containment_match(spark):
    from docling_spark.operators.heading_levels import bookmark_heading_levels

    headings = spark.createDataFrame(
        [(1, 0, "2.3 Consolidated Financial Statements of the Group")],
        "doc_id long, heading_idx int, text string",
    )
    outline = spark.createDataFrame(
        [(1, 0, "Consolidated Financial Statements", 1)],
        "doc_id long, bm_idx int, title string, bm_level int",
    )
    got = bookmark_heading_levels(headings, outline).collect()
    assert len(got) == 1 and got[0].level == 1


HTML_SRC = pathlib.Path("/root/reference/tests/data/html/sources")

# in-repo documents: inline marks and a link, nested and ordered lists,
# a spanned table, code, a captioned picture with furniture around it,
# and body text before the first heading
ROUNDTRIP_HTML = (
    "<h1>Title</h1><p>alpha <b>beta</b> <i>gamma</i> "
    "<a href='http://x.org/a'>link</a></p>",
    "<h2>Sec</h2><ul><li>x<ul><li>y</li></ul></li><li>z</li></ul>"
    "<ol start='3'><li>a</li><li>b</li></ol>",
    "<table><tr><th>a</th><th>b</th><th>c</th></tr>"
    "<tr><td>1</td><td colspan='2'>2</td></tr></table>",
    "<pre><code class='language-python'>print(1)\nprint(2)</code></pre>"
    "<p>after</p>",
    "<header>site nav</header><h1>Doc</h1><figure><img src='x.png'>"
    "<figcaption>Fig 1</figcaption></figure><h3>Deep</h3><p>tail</p>"
    "<footer>f</footer>",
    "<title>T</title><p>before any heading</p><h1>H</h1><p>x &amp; y</p>",
)


def _assert_docling_json_roundtrip(html: str, name: str) -> None:
    from docling_spark.engine.htmlx import extract_html
    from docling_spark.engine.jsonx import extract_docling_json
    from docling_spark.engine.serialize import serialize_docling_json

    text, items = extract_html(html)
    text2, _items2, _m = extract_docling_json(serialize_docling_json(items))
    assert text2.strip() == text.strip(), name


def test_docling_json_roundtrip_engines():
    for i, html in enumerate(ROUNDTRIP_HTML):
        _assert_docling_json_roundtrip(html, f"ROUNDTRIP_HTML[{i}]")


@pytest.mark.requires_reference(HTML_SRC)
def test_docling_json_roundtrip_reference_html():
    for f in sorted(HTML_SRC.glob("*.html"))[:8]:
        _assert_docling_json_roundtrip(f.read_text(), f.name)


def test_bookmark_sequential_greedy_not_parallel_rounds(spark):
    """The reference greedy is SEQUENTIAL (heading_hierarchy_model.py:
    330-361): B0 takes H0; B1 (who also prefers H0) falls back to H1 at
    its turn; B2 gets nothing. Parallel claim rounds would instead give
    H1 to B2 and leave B1 unmatched."""
    from docling_spark.operators.heading_levels import bookmark_heading_levels

    headings = spark.createDataFrame(
        [(1, 0, "Alpha"), (1, 1, "Alpha Beta")],
        "doc_id long, heading_idx int, text string")
    outline = spark.createDataFrame(
        [(1, 0, "Alpha", 0),          # exact on H0 (1.0)
         (1, 1, "Alpha", 0),          # exact on H0 (1.0), contains H1 (.92)
         (1, 2, "Alpha Beta", 1)],    # exact on H1 (1.0)
        "doc_id long, bm_idx int, title string, bm_level int")
    got = {r["heading_idx"]: r["level"]
           for r in bookmark_heading_levels(headings, outline).collect()}
    # B0 -> H0, B1 -> H1 (falls back), B2 unmatched; both bm_level 0 ->
    # both headings level 1
    assert got == {0: 1, 1: 1}
