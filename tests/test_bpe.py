"""From-scratch tokenizer.json encoder (functions/bpe.py) — parity
against hand-computed BPE merges / WordPiece matches on checked-in
fixture files, plus the hybrid_chunks wiring: a supplied tokenizer
changes chunk boundaries exactly as its counts dictate, and every
emitted n_tokens equals the encoder's count of the contextualized
text (the invariant the reference's HybridChunker holds with its HF
tokenizer)."""

from __future__ import annotations

import pathlib

import pytest

from docling_spark.functions.bpe import (
    Tokenizer,
    _bytes_to_unicode,
    bert_pretokenize,
    gpt2_pretokenize,
)

FIX = pathlib.Path(__file__).parent / "fixtures"


@pytest.fixture(scope="module")
def bpe():
    return Tokenizer.from_file(str(FIX / "tokenizer_bpe.json"))


@pytest.fixture(scope="module")
def wp():
    return Tokenizer.from_file(str(FIX / "tokenizer_wordpiece.json"))


# ---------------------------------------------------------------- byte map

def test_bytes_to_unicode_published_table():
    m = _bytes_to_unicode()
    assert len(m) == 256 and len(set(m.values())) == 256
    assert m[ord("A")] == "A"          # printable ASCII maps to itself
    assert m[32] == "Ġ"           # space → Ġ
    assert m[10] == "Ċ"           # newline → Ċ


# ------------------------------------------------------------ pretokenizers

def test_gpt2_pretokenize_matches_regex_semantics():
    # each case hand-derived from the published GPT-2 pattern
    assert gpt2_pretokenize("hello world") == ["hello", " world"]
    assert gpt2_pretokenize("hello   world") == ["hello", "  ", " world"]
    assert gpt2_pretokenize("don't stop") == ["don", "'t", " stop"]
    assert gpt2_pretokenize("a1b") == ["a", "1", "b"]
    assert gpt2_pretokenize(" x!!") == [" x", "!!"]
    assert gpt2_pretokenize("x \ty") == ["x", " ", "\t", "y"]
    assert gpt2_pretokenize("tail  ") == ["tail", "  "]
    assert gpt2_pretokenize("a\nb") == ["a", "\n", "b"]


def test_bert_pretokenize_isolates_punctuation():
    assert bert_pretokenize("hello, world") == ["hello", ",", "world"]
    assert bert_pretokenize("a-b_c") == ["a", "-", "b", "_", "c"]
    assert bert_pretokenize("  spaced  out ") == ["spaced", "out"]


# ------------------------------------------------------- BPE hand parity

def test_bpe_hand_computed_merges(bpe):
    # "hello": h,e,l,l,o → (h e) → (l l) → (he ll) → (hell o)
    assert bpe.encode("hello") == [11]
    # " world": Ġ,w,o,r,l,d → (Ġ w) → (o r) → (Ġw or) → (Ġwor l) →
    # (Ġworl d)
    assert bpe.encode("hello world") == [11, 16]
    # no space → no Ġ merges apply past "hello": w,or,l,d stay split
    assert bpe.encode("helloworld") == [11, 4, 13, 2, 6]
    # contraction pretoken "'t" merges via ("' t"); " can" climbs the
    # (Ġ c)(Ġc a)(Ġca n) ladder
    assert bpe.encode("hello can't") == [11, 25, 26]


def test_bpe_added_token_splits_first(bpe):
    assert bpe.encode("a<|doc|>b") == [19, 27, 28]
    assert bpe.count("<|doc|><|doc|>") == 2


def test_bpe_unk_and_newline(bpe):
    # "\n" → Ċ (id 17): the separator costs one token in byte-level BPE
    assert bpe.encode("a\nb") == [19, 17, 28]
    # "z" has no vocab entry → unk id
    assert bpe.encode("z") == [29]


# -------------------------------------------------- WordPiece hand parity

def test_wordpiece_hand_computed(wp):
    assert wp.encode("Hello, World") == [1, 8, 2]       # lowercased
    assert wp.encode("worldly") == [2, 7]               # world + ##ly
    assert wp.encode("heading") == [3, 4]               # head + ##ing
    assert wp.encode("xyz") == [0]                      # whole-word UNK
    assert wp.count("a\nb") == 2                        # \n erased


# ------------------------------------------- unsupported configs rejected

_WP = {"model": {"type": "WordPiece", "vocab": {"[UNK]": 0}}}
_BPE = {"model": {"type": "BPE", "vocab": {"a": 0}, "merges": []}}


@pytest.mark.parametrize("spec, field, bad, name", [
    (_WP, "normalizer", {"type": "NFKC"}, "NFKC"),
    (_WP, "normalizer", {"type": "Sequence", "normalizers": [
        {"type": "Lowercase"}, {"type": "Replace"}]}, "Replace"),
    (_WP, "pre_tokenizer", {"type": "Whitespace"}, "Whitespace"),
    (_WP, "pre_tokenizer", {"type": "Sequence", "pretokenizers": [
        {"type": "BertPreTokenizer"}]}, "Sequence"),
    (_BPE, "normalizer", {"type": "Lowercase"}, "Lowercase"),
    (_BPE, "pre_tokenizer", {"type": "Metaspace"}, "Metaspace"),
])
def test_unsupported_config_raises_naming_the_type(spec, field, bad, name):
    with pytest.raises(ValueError, match=f"{field} type: {name}"):
        Tokenizer({**spec, field: bad})


@pytest.mark.parametrize("spec, field, ok", [
    (_WP, "normalizer", {"type": "Sequence", "normalizers": [
        {"type": "Lowercase"}, {"type": "StripAccents"}]}),
    (_WP, "normalizer", None),
    (_WP, "pre_tokenizer", None),
    (_BPE, "pre_tokenizer", None),
])
def test_supported_config_accepted(spec, field, ok):
    Tokenizer({**spec, field: ok})


def test_unsupported_model_type_raises():
    with pytest.raises(ValueError, match="Unigram"):
        Tokenizer({"model": {"type": "Unigram", "vocab": []}})


# -------------------------------------------- additivity (chunker relies)

@pytest.mark.parametrize("fixture", ["bpe", "wp"])
def test_count_additivity_over_words_and_sep(fixture, request):
    """hybrid_chunks accounts chunks incrementally: head block + sep +
    per-word costs. That is only exact if counting is additive across
    pretoken boundaries — pinned here for both model families."""
    tok = request.getfixturevalue(fixture)
    sep = tok.count("a\nb") - tok.count("a") - tok.count("b")
    for words in (["hello", "world"], ["worldly", "hello", "can't"]):
        text = " ".join(words)
        assert tok.count(text) == tok.count(words[0]) + sum(
            tok.count(" " + w) for w in words[1:])
        ctx = "heading\n" + text
        assert tok.count(ctx) == tok.count("heading") + sep \
            + tok.count(text)


# ------------------------------------------------- hybrid_chunks wiring

def _items(spark, rows):
    return spark.createDataFrame(
        rows,
        "doc_id long, item_idx int, label string, level int, "
        "text string, content_layer string")


def test_hybrid_chunks_bpe_boundaries(spark):
    """Costs from the fixture BPE: 'world' alone = 4 tokens (w,or,l,d),
    ' world' = 1 (Ġworld); heading block 'hello\\n' = 2. max_tokens=7 →
    avail 5: the 3-word text (costs 4+1+1=6) splits after two words —
    whitespace counting (3 words ≤ 5) would never split here."""
    from docling_spark.operators.chunker import hybrid_chunks

    items = _items(spark, [
        (1, 0, "section_header", 1, "hello", "body"),
        (1, 1, "text", None, "world world world", "body"),
    ])
    tok_path = str(FIX / "tokenizer_bpe.json")
    got = sorted(
        hybrid_chunks(items, max_tokens=7,
                      tokenizer_json=tok_path).collect(),
        key=lambda r: r.chunk_idx)
    assert [(r.chunk_text, r.n_tokens) for r in got] == [
        ("world world", 7), ("world", 6)]
    # the parity invariant: n_tokens == encoder count of contextualized
    tok = Tokenizer.from_file(tok_path)
    for r in got:
        assert r.n_tokens == tok.count(r.contextualized)
    # whitespace mode keeps the item whole — boundaries genuinely came
    # from the BPE counts
    ws = hybrid_chunks(items, max_tokens=7).collect()
    assert [r.chunk_text for r in ws] == ["world world world"]


def test_hybrid_chunks_wordpiece_merge_gate(spark):
    """WordPiece counts gate the peer merge: two 'worldly' items
    (2 tokens each) under 'heading' (2) merge at max_tokens=6 (2+2+2,
    sep free) but not at 5."""
    from docling_spark.operators.chunker import hybrid_chunks

    items = _items(spark, [
        (1, 0, "section_header", 1, "heading", "body"),
        (1, 1, "text", None, "worldly", "body"),
        (1, 2, "text", None, "worldly", "body"),
    ])
    tok_path = str(FIX / "tokenizer_wordpiece.json")
    merged = hybrid_chunks(items, max_tokens=6,
                           tokenizer_json=tok_path).collect()
    assert [r.chunk_text for r in merged] == ["worldly\nworldly"]
    assert merged[0].n_tokens == 6
    split = sorted(
        hybrid_chunks(items, max_tokens=5,
                      tokenizer_json=tok_path).collect(),
        key=lambda r: r.chunk_idx)
    assert [r.chunk_text for r in split] == ["worldly", "worldly"]
    tok = Tokenizer.from_file(tok_path)
    for r in split:
        assert r.n_tokens == tok.count(r.contextualized)


def test_hybrid_chunks_default_unchanged(spark):
    """No tokenizer → the legacy whitespace behavior, bit-for-bit (the
    oracle contract pins this mode)."""
    from docling_spark.operators.chunker import hybrid_chunks

    items = _items(spark, [
        (1, 0, "section_header", 1, "Head one", "body"),
        (1, 1, "text", None, "a b c", "body"),
        (1, 2, "text", None, "d e f", "body"),
        (1, 3, "text", None, "g h i", "body"),
    ])
    got = sorted(hybrid_chunks(items, max_tokens=10).collect(),
                 key=lambda r: r.chunk_idx)
    assert [(r.chunk_text, r.n_tokens) for r in got] == [
        ("a b c\nd e f", 8), ("g h i", 5)]


# ------------------------------------------------------- fuzz totality

from hypothesis import given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_bpe_total_on_arbitrary_text(text):
    """The byte-level encoder is TOTAL: any unicode text encodes with
    no exception, count == len(encode), and pretokenization is a
    partition of the input (concatenation restores it exactly)."""
    tok = Tokenizer.from_file(str(FIX / "tokenizer_bpe.json"))
    ids = tok.encode(text)
    assert tok.count(text) == len(ids)
    assert "".join(gpt2_pretokenize(text)) == text


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_wordpiece_total_on_arbitrary_text(text):
    tok = Tokenizer.from_file(str(FIX / "tokenizer_wordpiece.json"))
    assert tok.count(text) == len(tok.encode(text))
