"""Fast-tokenizer equivalence: the scanner path must produce
byte-identical extraction output to the stdlib html.parser path over
the reference corpus, the synthetic bench corpus, and fuzzed
html-shaped strings."""

from __future__ import annotations

import pathlib

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from docling_spark.engine import htmlx

REF_HTML = pathlib.Path("/root/reference/tests/data/html/sources")


def _tree_sig(node) -> object:
    if isinstance(node, str):
        return node
    return (node.tag, sorted(node.attrs.items(), key=str),
            [_tree_sig(c) for c in node.children])


def _fast_or_none(payload: str):
    b = htmlx._TreeBuilder()
    return b.root if htmlx._fast_feed(payload, b) else None


@pytest.mark.requires_reference(REF_HTML)
@pytest.mark.parametrize(
    "name", sorted(p.stem for p in REF_HTML.glob("*.html")))
def test_reference_corpus_tree_identical(name: str) -> None:
    payload = (REF_HTML / f"{name}.html").read_text(errors="replace")
    fast = _fast_or_none(payload)
    assert fast is not None, "corpus file must take the fast path"
    assert _tree_sig(fast) == _tree_sig(htmlx.parse_html_stdlib(payload))


def test_synthetic_corpus_identical() -> None:
    from docling_spark.sources.transcripts import make_turn

    n_checked = 0
    for c in range(400):
        for t in range(12):
            turn = make_turn(c, t)
            if turn["tool"] != "html":
                continue
            payload = turn["text"]
            b = htmlx._TreeBuilder()
            if not htmlx._fast_feed(payload, b):
                continue
            assert _tree_sig(b.root) == \
                _tree_sig(htmlx.parse_html_stdlib(payload))
            n_checked += 1
    assert n_checked > 100


_HTMLISH = st.text(
    alphabet=st.sampled_from(list(
        "abAB <>/=\"'&;!-?pdivtablespn#x0123桜é\n\t")),
    max_size=200,
)


@settings(max_examples=400, deadline=None)
@given(payload=_HTMLISH)
def test_fuzz_fast_path_matches_or_declines(payload: str) -> None:
    b = htmlx._TreeBuilder()
    if htmlx._fast_feed(payload, b):
        assert _tree_sig(b.root) == \
            _tree_sig(htmlx.parse_html_stdlib(payload))
