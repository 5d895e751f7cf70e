"""Pin the Markdown engine against the reference's own groundtruth corpus
(tests/data/md/{sources,groundtruth}, 10 files) — exact text equality, the
reference's verify_utils.py contract. Closes r1 VERDICT "What's missing" #1
(mdx was only validated via synthetic oracles before).

Covers: setext headings, indented code blocks, empty-block dropping,
entity (un)escaping, inline-piece joining, ordinal protection, pipe-entity
table cells, marker-change list splitting, blank-line list continuation,
HTML-block delegation (comments, raw lists, signature/stamp tags).
"""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.engine.mdx import extract_markdown

REF = pathlib.Path("/root/reference/tests/data/md")

NAMES = [
    "blocks", "duck", "ending_with_table", "escaped_characters",
    "inline_and_formatting", "mixed", "mixed_without_h1", "nested",
    "signature_stamp_01", "wiki",
]

pytestmark = pytest.mark.requires_reference(REF)


@pytest.mark.parametrize("name", NAMES)
def test_reference_groundtruth_md(name: str) -> None:
    src = (REF / "sources" / f"{name}.md").read_text()
    gt = (REF / "groundtruth" / f"{name}.md.md").read_text()
    text, items, metrics = extract_markdown(src)
    assert text.strip() == gt.strip()


def test_items_well_formed() -> None:
    src = (REF / "sources" / "wiki.md").read_text()
    _text, items, metrics = extract_markdown(src)
    assert items[0]["label"] == "unspecified"
    for it in items[1:]:
        assert 0 <= it["parent_idx"] < it["item_idx"]
    assert metrics["n_items"] == len(items) - 1


def test_pure_path_preserves_unicode() -> None:
    # the md path must NOT apply the unicode cleaning table (curly quotes
    # survive; groundtruth duck.md) — unlike the html path, which must
    text, _i, _m = extract_markdown("Let’s go — now…")
    assert text == "Let’s go — now…"


class TestMdxReviewFixes:
    """Parity fixes verified against the reference's marko-based walk —
    each case previously lost or mangled content."""

    def _t(self, payload):
        from docling_spark.engine.mdx import extract_markdown

        return extract_markdown(payload)[0]

    def test_quoted_list_kept(self):
        assert self._t("> - item one\n> - item two\n") \
            == "- item one\n- item two"

    def test_quoted_table_kept(self):
        assert "| c | d |" in self._t("> | a | b |\n> |---|---|\n> | c | d |\n")

    def test_fence_interrupts_paragraph(self):
        assert self._t("text\n```\ncode here\n```\n") \
            == "text\n\n```\ncode here\n```"

    def test_table_interrupts_paragraph(self):
        out = self._t("intro\n| a | b |\n|---|---|\n| c | d |\n")
        assert out.startswith("intro\n\n|")

    def test_four_backtick_fence_nests(self):
        out = self._t("````\n```\ninner\n```\n````\n")
        assert "inner" in out and "````" not in out

    def test_fence_with_trailing_text_does_not_close(self):
        out = self._t("```\ncode\n``` not a close\nmore\n```\n")
        assert "not a close" in out and "more" in out

    def test_intraword_star_emphasis(self):
        assert "*bar*" in self._t("foo*bar*baz\n")

    def test_image_alt_text_kept(self):
        out = self._t("![Diagram of the system](x.png)\n")
        assert "Diagram of the system" in out

    def test_lazy_continuation_joins_item(self):
        assert self._t("- item\ncontinued\n") == "- item continued"

    def test_spaced_thematic_break_not_literal(self):
        assert self._t("before\n\n- - -\n\nafter\n") == "before\n\nafter"

    def test_delegated_ordered_list_keeps_start(self):
        out = self._t("<div>x</div>\n\n3. three\n4. four\n")
        assert "3. three" in out and "4. four" in out
