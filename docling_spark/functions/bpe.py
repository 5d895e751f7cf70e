"""From-scratch ``tokenizer.json`` encoder — the public HuggingFace
*tokenizers* serialization format (vocab + merges for byte-level BPE,
vocab + ``##`` prefix for WordPiece), implemented with no model
artifacts and no third-party tokenizer libraries.

Why it exists: the reference's HybridChunker
(docling/chunking/__init__.py:7-13, re-exported from docling-core)
counts tokens with a downloaded HF tokenizer, so its chunk boundaries
depend on the exact BPE/WordPiece segmentation. Earlier rounds stood in
a whitespace tokenizer (documented divergence); this module closes the
gap: a user who supplies the same ``tokenizer.json`` file the reference
downloads gets the same token counts — and therefore the same chunk
boundaries — from :func:`docling_spark.operators.chunker.hybrid_chunks`,
within the subset below.

Supported model types (``model.type``):

- ``BPE`` — byte-level BPE in the GPT-2 lineage: the published
  byte-to-unicode table, the GPT-2 pretokenization pattern
  (``'s|'t|'re|'ve|'m|'ll|'d| ?\\p{L}+| ?\\p{N}+| ?[^\\s\\p{L}\\p{N}]+|``
  ``\\s+(?!\\S)|\\s+``) re-expressed as a deterministic scanner (the
  ``regex`` module's ``\\p{}`` classes aren't in stdlib ``re``), and the
  standard lowest-rank-first merge loop over ``model.merges``.
- ``WordPiece`` — BERT-style greedy longest-match with the
  ``continuing_subword_prefix`` (``##``), the BertNormalizer
  (lowercase / NFD strip-accents as configured) and the Bert
  pretokenizer (whitespace split + punctuation isolation, including
  BERT's ASCII-symbol ranges). Gap: the BertNormalizer's CJK isolation
  (``handle_chinese_chars``, a space around every CJK ideograph) and its
  control-character cleaning are not implemented, so counts differ from
  the HF library on text that has either.

Configs outside the subset raise ``ValueError`` naming the type: a
WordPiece ``normalizer`` must be ``BertNormalizer``, ``Lowercase`` or
``StripAccents`` (alone or in a ``Sequence``) and its ``pre_tokenizer``
``BertPreTokenizer``; a BPE spec has no ``normalizer`` and a
``ByteLevel`` ``pre_tokenizer``. Either field may be absent.

``added_tokens`` (specials like ``[CLS]`` or ``<|endoftext|>``) split
the input first, longest-first, and count as one token each. Counting
never adds special tokens — matching ``tokenizer.tokenize(text)``
semantics, which is what chunkers measure with.

Scale note: the encoder is a plain picklable object built from a dict;
ship it to executors as a Spark broadcast (a vocab is a few MB), build
once per worker, and call it inside Arrow-batched kernels — never
per-row Python over the driver.
"""

from __future__ import annotations

import json
import unicodedata
from functools import lru_cache

_INF = float("inf")


# ---------------------------------------------------------------------------
# byte-level BPE
# ---------------------------------------------------------------------------

@lru_cache(maxsize=1)
def _bytes_to_unicode() -> dict:
    """The published GPT-2 reversible byte→printable-unicode map: the
    three printable Latin-1 ranges map to themselves, every other byte
    to U+0100+n in first-free order."""
    bs = (list(range(ord("!"), ord("~") + 1))
          + list(range(ord("\xa1"), ord("\xac") + 1))
          + list(range(ord("\xae"), ord("\xff") + 1)))
    cs = bs[:]
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return dict(zip(bs, map(chr, cs)))


_CONTRACTIONS = ("'s", "'t", "'re", "'ve", "'m", "'ll", "'d")


def _char_class(ch: str) -> str:
    cat = unicodedata.category(ch)
    if cat.startswith("L"):
        return "L"
    if cat.startswith("N"):
        return "N"
    if ch.isspace():
        return "S"
    return "P"


def gpt2_pretokenize(text: str) -> list:
    """The GPT-2 pattern as a scanner. Semantics pinned by the parity
    tests: contractions match first at each position; a single space
    attaches to the following letter/number/punct run; a whitespace run
    before non-space yields its first n-1 chars as one token (the
    regex's ``\\s+(?!\\S)`` backtracking), trailing whitespace stays
    whole; runs never mix character classes."""
    out = []
    i, n = 0, len(text)
    while i < n:
        matched = False
        for c in _CONTRACTIONS:
            if text.startswith(c, i):
                out.append(c)
                i += len(c)
                matched = True
                break
        if matched:
            continue
        ch = text[i]
        if ch == " " and i + 1 < n and not text[i + 1].isspace():
            cls = _char_class(text[i + 1])
            j = i + 1
            while j < n and _char_class(text[j]) == cls:
                j += 1
            out.append(text[i:j])
            i = j
            continue
        cls = _char_class(ch)
        if cls == "S":
            j = i
            while j < n and text[j].isspace():
                j += 1
            if j < n and j - i > 1:
                out.append(text[i:j - 1])
                i = j - 1
            else:
                out.append(text[i:j])
                i = j
            continue
        j = i
        while j < n and _char_class(text[j]) == cls:
            j += 1
        out.append(text[i:j])
        i = j
    return out


def _get_pairs(word: tuple) -> set:
    return set(zip(word, word[1:]))


class _BPEModel:
    def __init__(self, vocab: dict, merges: list, unk: "str | None"):
        self.vocab = vocab
        self.unk_id = vocab.get(unk) if unk is not None else None
        self.ranks = {}
        for k, m in enumerate(merges):
            a, b = (m.split(" ", 1) if isinstance(m, str) else m)
            self.ranks[(a, b)] = k
        self.byte_map = _bytes_to_unicode()
        self._cache: dict = {}

    def _bpe(self, token: str) -> tuple:
        hit = self._cache.get(token)
        if hit is not None:
            return hit
        word = tuple(token)
        while len(word) > 1:
            pairs = _get_pairs(word)
            best = min(pairs, key=lambda p: self.ranks.get(p, _INF))
            if best not in self.ranks:
                break
            a, b = best
            merged = []
            i = 0
            while i < len(word):
                if i < len(word) - 1 and word[i] == a and word[i + 1] == b:
                    merged.append(a + b)
                    i += 2
                else:
                    merged.append(word[i])
                    i += 1
            word = tuple(merged)
        if len(self._cache) < 50000:  # bounded per-worker memo
            self._cache[token] = word
        return word

    def encode_word(self, pretoken: str) -> list:
        mapped = "".join(self.byte_map[b]
                         for b in pretoken.encode("utf-8"))
        ids = []
        for sym in self._bpe(mapped):
            tid = self.vocab.get(sym)
            if tid is None:
                tid = self.unk_id if self.unk_id is not None else -1
            ids.append(tid)
        return ids

    def encode(self, text: str) -> list:
        out = []
        for tok in gpt2_pretokenize(text):
            out.extend(self.encode_word(tok))
        return out


# ---------------------------------------------------------------------------
# WordPiece
# ---------------------------------------------------------------------------

def _is_bert_punctuation(ch: str) -> bool:
    cp = ord(ch)
    if (33 <= cp <= 47 or 58 <= cp <= 64
            or 91 <= cp <= 96 or 123 <= cp <= 126):
        return True
    return unicodedata.category(ch).startswith("P")


def bert_pretokenize(text: str) -> list:
    """Whitespace split, then isolate every punctuation character
    (BERT's ASCII symbol ranges count as punctuation too)."""
    out = []
    for word in text.split():
        run = []
        for ch in word:
            if _is_bert_punctuation(ch):
                if run:
                    out.append("".join(run))
                    run = []
                out.append(ch)
            else:
                run.append(ch)
        if run:
            out.append("".join(run))
    return out


class _WordPieceModel:
    def __init__(self, vocab: dict, unk: str, prefix: str,
                 max_chars: int, lowercase: bool, strip_accents: bool):
        self.vocab = vocab
        self.unk_id = vocab.get(unk, 0)
        self.prefix = prefix
        self.max_chars = max_chars
        self.lowercase = lowercase
        self.strip_accents = strip_accents

    def _normalize(self, text: str) -> str:
        if self.lowercase:
            text = text.lower()
        if self.strip_accents:
            text = "".join(ch for ch in unicodedata.normalize("NFD", text)
                           if unicodedata.category(ch) != "Mn")
        return text

    def encode_word(self, word: str) -> list:
        if len(word) > self.max_chars:
            return [self.unk_id]
        ids = []
        start = 0
        while start < len(word):
            end = len(word)
            cur = None
            while start < end:
                sub = word[start:end]
                if start > 0:
                    sub = self.prefix + sub
                if sub in self.vocab:
                    cur = self.vocab[sub]
                    break
                end -= 1
            if cur is None:
                return [self.unk_id]  # whole word becomes UNK
            ids.append(cur)
            start = end
        return ids

    def encode(self, text: str) -> list:
        out = []
        for tok in bert_pretokenize(self._normalize(text)):
            out.extend(self.encode_word(tok))
        return out


# ---------------------------------------------------------------------------
# public facade
# ---------------------------------------------------------------------------

# model type -> (normalizer types, pre_tokenizer types) this module implements
_SUPPORTED = {
    "BPE": (frozenset(), frozenset({"ByteLevel"})),
    "WordPiece": (frozenset({"BertNormalizer", "Lowercase", "StripAccents"}),
                  frozenset({"BertPreTokenizer"})),
}


def _components(spec: dict, field: str, accepted: frozenset,
                mtype: str) -> list:
    """The configs of ``spec[field]`` (a normalizer ``Sequence`` lists
    its members); raise on a type this module does not implement."""
    cfg = spec.get(field)
    if not cfg:
        return []
    items = (cfg.get("normalizers") or []
             if field == "normalizer" and cfg.get("type") == "Sequence"
             else [cfg])
    for item in items:
        t = (item or {}).get("type")
        if t not in accepted:
            raise ValueError(f"unsupported {mtype} {field} type: {t}")
    return items


class Tokenizer:
    """Encoder over a parsed ``tokenizer.json`` spec (dict). Picklable;
    safe to ship via Spark broadcast and reuse across Arrow batches."""

    def __init__(self, spec: dict):
        model = spec.get("model") or {}
        mtype = model.get("type") or ("BPE" if "merges" in model
                                      else "WordPiece")
        if mtype not in _SUPPORTED:
            raise ValueError(f"unsupported tokenizer model type: {mtype}")
        norm_ok, pre_ok = _SUPPORTED[mtype]
        norms = _components(spec, "normalizer", norm_ok, mtype)
        _components(spec, "pre_tokenizer", pre_ok, mtype)
        vocab = dict(model.get("vocab") or {})
        if mtype == "BPE":
            self.model = _BPEModel(vocab, model.get("merges") or [],
                                   model.get("unk_token"))
        else:
            lowercase = False
            strip_accents = False
            for nm in norms:
                t = nm.get("type")
                if t == "BertNormalizer":
                    lowercase = bool(nm.get("lowercase", True))
                    sa = nm.get("strip_accents")
                    strip_accents = lowercase if sa is None else bool(sa)
                elif t == "Lowercase":
                    lowercase = True
                elif t == "StripAccents":
                    strip_accents = True
            self.model = _WordPieceModel(
                vocab,
                unk=model.get("unk_token") or "[UNK]",
                prefix=model.get("continuing_subword_prefix") or "##",
                max_chars=int(model.get("max_input_chars_per_word")
                              or 100),
                lowercase=lowercase, strip_accents=strip_accents)
        # specials/added tokens split the raw text first, longest-first,
        # and encode as themselves (one token each)
        self.added = {t["content"]: t["id"]
                      for t in spec.get("added_tokens") or []
                      if t.get("content")}
        self._added_order = sorted(self.added, key=len, reverse=True)

    @classmethod
    def from_file(cls, path: str) -> "Tokenizer":
        with open(path, encoding="utf-8") as fh:
            return cls(json.load(fh))

    def _split_added(self, text: str) -> list:
        """[(segment, added_id|None)] with added tokens isolated."""
        if not self.added:
            return [(text, None)]
        segs = [(text, None)]
        for content in self._added_order:
            nxt = []
            for seg, tid in segs:
                if tid is not None:
                    nxt.append((seg, tid))
                    continue
                parts = seg.split(content)
                for k, part in enumerate(parts):
                    if part:
                        nxt.append((part, None))
                    if k < len(parts) - 1:
                        nxt.append((content, self.added[content]))
            segs = nxt
        return segs

    def encode(self, text: str) -> list:
        """Token ids, no special tokens added — ``tokenize()``
        semantics, the measurement chunkers use."""
        out = []
        for seg, tid in self._split_added(text):
            if tid is not None:
                out.append(tid)
            else:
                out.extend(self.model.encode(seg))
        return out

    def count(self, text: str) -> int:
        return len(self.encode(text))
