"""Web-scale corpus quality gates and URL hygiene — the two standard
pre-training sweeps this repo did not yet cover as first-class operators:

* **Gopher quality rules** (Rae et al. 2021, *Scaling Language Models:
  Methods, Analysis & Insights from Training Gopher*, Appendix A1.1) —
  the published per-document heuristic filter set used (with small
  variations) by MassiveText, RefinedWeb and FineWeb.  All seven signals
  are JVM Column expressions (splits / list_filter / regexp_count), so
  the whole gate fuses with the scan under whole-stage codegen — zero
  Python, zero shuffle, trivially scale-safe at 100 TB.

* **URL canonicalization + URL-level dedup** — the first dedup pass of
  every web pipeline (dedup by canonical URL before any content hash).
  The canonicalizer is a deterministic chain of string/regexp rewrites
  (lowercase scheme+host, default-port strip, tracking-param removal,
  sorted query, fragment strip, trailing-slash normalization) expressed
  in the SQL-portable subset so the DuckDB oracle reproduces it
  bit-for-bit; the dedup is one groupBy on the canonical string (short
  key, map-side partial agg — the cheapest possible shuffle).

Every function has an exact ANSI-SQL twin in ``__spark_entry__`` checked
by the driver's DuckDB oracle gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .textstats import avg_token_len, token_count, tokens

# -- Gopher rule constants (Rae et al. 2021, Table A1) ----------------------
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_AVG_WORD_LEN = 3.0
GOPHER_MAX_AVG_WORD_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1       # '#' or '...' per word
GOPHER_MAX_BULLET_FRAC = 0.90       # lines starting with a bullet
GOPHER_MAX_ELLIPSIS_FRAC = 0.30     # lines ending with an ellipsis
GOPHER_MIN_ALPHA_FRAC = 0.80        # words containing >=1 [a-z]
GOPHER_REQUIRED_STOPWORDS = (
    "the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORD_HITS = 2


def _lines(col) -> Column:
    return F.split(col, "\n")


def symbol_word_ratio(col) -> Column:
    """(# of '#' + # of '…'/'...') / words — Gopher's symbol-to-word
    ratio. ``regexp_count`` is JVM-side and has a direct DuckDB twin
    (``len(regexp_extract_all(...))``)."""
    n_sym = (F.regexp_count(col, F.lit("#"))
             + F.regexp_count(col, F.lit(r"\.\.\.|…")))
    n = token_count(col)
    return F.when(n > 0, n_sym.cast("double") / n).otherwise(F.lit(0.0))


def bullet_line_frac(col) -> Column:
    """Fraction of lines whose first non-space char is a bullet
    (• ‣ ▪ - *). Blank lines count in the denominator (a page of blank
    lines is not a page of bullets)."""
    ls = _lines(col)
    n_bullet = F.size(
        F.filter(ls, lambda l: F.trim(l).rlike(r"^[•‣▪*-]")))
    return F.round(n_bullet.cast("double") / F.size(ls), 6)


def ellipsis_line_frac(col) -> Column:
    """Fraction of lines ending with '…' or '...' (after right-trim)."""
    ls = _lines(col)
    n_ell = F.size(
        F.filter(ls, lambda l: F.trim(l).rlike(r"(\.\.\.|…)$")))
    return F.round(n_ell.cast("double") / F.size(ls), 6)


def alpha_word_frac(col) -> Column:
    """Fraction of whitespace words containing at least one ASCII
    letter."""
    n = token_count(col)
    n_alpha = F.size(F.filter(tokens(col), lambda t: t.rlike("[A-Za-z]")))
    return F.when(n > 0, n_alpha.cast("double") / n).otherwise(F.lit(0.0))


def required_stopword_hits(col) -> Column:
    """How many of Gopher's 8 required English stopwords appear as
    whole lowercase words. Counts DISTINCT stopwords present (the
    paper's 'contains at least 2 of the following'), not occurrences.
    NULL text has none: 0.

    One ``array_intersect`` over the document's tokens, tokenized once
    (a per-stopword ``array_contains`` lambda re-tokenized the document
    for every stopword)."""
    present = F.array_intersect(
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS]),
        tokens(F.lower(col)),
    )
    # size(NULL) is NULL (or -1 with ANSI off), not 0
    return F.size(F.coalesce(present, F.array().cast("array<string>")))


def gopher_quality(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document Gopher rule signals + the composite keep verdict.

    One narrow projection per document — no shuffle, no Python; at 100 TB
    this is a pure map stage fused with the parquet scan (only
    ``text_col`` and ``id_col`` are read — column pruning reaches the
    scan)."""
    c = F.col(text_col)
    n_words = token_count(c)
    sig = docs.select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(avg_token_len(c), 6).alias("mean_word_len"),
        F.round(symbol_word_ratio(c), 6).alias("symbol_word_ratio"),
        bullet_line_frac(c).alias("bullet_line_frac"),
        ellipsis_line_frac(c).alias("ellipsis_line_frac"),
        F.round(alpha_word_frac(c), 6).alias("alpha_word_frac"),
        required_stopword_hits(c).alias("stopword_hits"),
    )
    keep = (
        (F.col("n_words") >= GOPHER_MIN_WORDS)
        & (F.col("n_words") <= GOPHER_MAX_WORDS)
        & (F.col("mean_word_len") >= GOPHER_MIN_AVG_WORD_LEN)
        & (F.col("mean_word_len") <= GOPHER_MAX_AVG_WORD_LEN)
        & (F.col("symbol_word_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("bullet_line_frac") <= GOPHER_MAX_BULLET_FRAC)
        & (F.col("ellipsis_line_frac") <= GOPHER_MAX_ELLIPSIS_FRAC)
        & (F.col("alpha_word_frac") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("stopword_hits") >= GOPHER_MIN_STOPWORD_HITS)
    )
    return sig.withColumn("keep", keep)


# -- Unicode script profile -------------------------------------------------

# BMP ranges per script (the ranges cover the dominant blocks, not every
# historic extension — this is corpus triage, not a Unicode library).
# Shared constants so the Spark patterns and the SQL oracle build the
# SAME character classes from one source.
SCRIPT_RANGES = {
    "latin": "A-Za-z",
    "cyrillic": "Ѐ-ӿ",
    "greek": "Ͱ-Ͽ",
    "arabic": "؀-ۿ",
    "cjk": "一-鿿",
    "kana": "぀-ヿ",
    "hangul": "가-힯",
    "devanagari": "ऀ-ॿ",
}
# fixed argmax tie order (first wins) — deterministic dominant script
SCRIPT_ORDER = ("latin", "cyrillic", "greek", "arabic", "cjk", "kana",
                "hangul", "devanagari")


def script_counts(col) -> dict[str, Column]:
    """Per-script character counts as JVM regexp_count columns."""
    return {s: F.regexp_count(col, F.lit(f"[{r}]"))
            for s, r in SCRIPT_RANGES.items()}


def script_profile(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document Unicode script profile — the language-ID fallback
    every multilingual corpus pipeline runs before any model-based
    langid (script alone routes CJK/Arabic/Cyrillic correctly and is
    three orders of magnitude cheaper). Counts per script block, the
    dominant script (argmax with a fixed tie order, 'none' when no
    letter matches), and the dominant fraction of letter chars.

    Pure per-row regexp_count projection — fused with the scan, no
    shuffle, no Python."""
    c = F.col(text_col)
    counts = script_counts(c)
    sel = [F.col(id_col)] + [counts[s].alias(f"n_{s}") for s in SCRIPT_ORDER]
    prof = docs.select(*sel)
    ncols = [F.col(f"n_{s}") for s in SCRIPT_ORDER]
    total = sum(ncols[1:], ncols[0])
    best = F.greatest(*ncols)
    dom = F.lit("none")
    for s in reversed(SCRIPT_ORDER):  # earlier scripts win ties
        n = F.col(f"n_{s}")
        dom = F.when((n > 0) & (n == best), F.lit(s)).otherwise(dom)
    return prof.select(
        "*",
        dom.alias("dominant_script"),
        F.round(F.when(total > 0, best.cast("double") / total)
                .otherwise(F.lit(0.0)), 6).alias("dominant_frac"),
    )


# -- Flesch readability -----------------------------------------------------

def flesch_reading_ease(col) -> Column:
    """Flesch reading-ease score (Flesch 1948; the edu-quality filter
    signal): 206.835 − 1.015·(words/sentences) − 84.6·(syllables/words).
    Sentences = runs of [.!?] (min 1); syllables ≈ vowel-group count per
    the standard cheap approximation. Not clamped — callers bucket."""
    n_words = token_count(col).cast("double")
    n_sent = F.greatest(F.regexp_count(col, F.lit(r"[.!?]+")), F.lit(1)) \
        .cast("double")
    n_syl = F.regexp_count(F.lower(col), F.lit("[aeiouy]+")).cast("double")
    return F.when(
        n_words > 0,
        F.round(F.lit(206.835) - F.lit(1.015) * (n_words / n_sent)
                - F.lit(84.6) * (n_syl / n_words), 4),
    ).otherwise(F.lit(0.0))


# -- URL canonicalization ---------------------------------------------------

# tracking params stripped by every major web pipeline (utm family,
# facebook/google click ids, session ids). Anchored on the [?&] param
# delimiter (kept via $1) so 'ref=' can never match inside a PATH
# segment ('/shop/ref=sr_1/...') or a longer param name ('href=',
# 'jsessionid='); the delimiter residue ('?&', '&&', trailing) is
# swept by the cleanup rewrites that follow.
_TRACKING_PARAM_RE = (
    r"([?&])(utm_[a-z]+|fbclid|gclid|msclkid|ref|sessionid|phpsessid)"
    r"=[^&#]*")


def canonical_url(col) -> Column:
    """Deterministic URL canonical form, as a pure JVM rewrite chain:

    1. lowercase scheme and host (path/query case preserved),
    2. drop the fragment (``#...``),
    3. drop explicit default ports (``:80`` on http, ``:443`` on https),
    4. remove tracking query params (utm_*, fbclid, gclid, msclkid,
       ref, sessionid, phpsessid), collapsing leftover ``&&``/trailing
       ``?``/``&``,
    5. sort surviving query params bytewise (param order is not
       semantic),
    6. strip a trailing ``/`` from a non-root path.

    Each step is regexp/split/array_sort — the identical chain runs in
    DuckDB for the oracle. Not a full RFC 3986 resolver (no percent-
    decoding or dot-segment removal — those need byte-level state); this
    is the dedup-key normalization web pipelines actually apply.
    """
    # 1: lowercase "scheme://host" prefix only
    u = F.concat(
        F.lower(F.regexp_extract(col, r"^([a-zA-Z]+://[^/?#]*)", 1)),
        F.regexp_replace(col, r"^[a-zA-Z]+://[^/?#]*", ""),
    )
    # 2: fragment off
    u = F.regexp_replace(u, r"#.*$", "")
    # 3: default ports (consume-and-restore delimiter — no lookahead, so
    # the identical pattern runs under DuckDB's RE2 in the oracle)
    u = F.regexp_replace(u, r"^(http://[^/?#:]*):80(/|\?|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#:]*):443(/|\?|$)", r"$1$2")
    # 4: tracking params + separator cleanup
    u = F.regexp_replace(u, _TRACKING_PARAM_RE, r"$1")
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?&]+$", "")
    # 5: sort query params
    base = F.regexp_extract(u, r"^([^?]*)", 1)
    query = F.regexp_extract(u, r"\?(.*)$", 1)
    sorted_q = F.array_join(F.array_sort(F.split(query, "&")), "&")
    u = F.when(query == "", base).otherwise(F.concat(base, F.lit("?"), sorted_q))
    # 6: trailing slash on a non-root path (never touch "scheme://host/")
    return F.regexp_replace(u, r"^([a-z]+://[^/?#]+/.+?)/(\?|$)", r"$1$2")


def url_dedup(docs: DataFrame, url_col: str = "url",
              id_col: str = "doc_id") -> DataFrame:
    """URL-level dedup: group on the canonical URL, keep the smallest id
    as the canonical document, count duplicates. One groupBy on a short
    string key with map-side partial aggregation — at 100 TB this is the
    cheapest dedup pass and always runs before any content hashing."""
    return (
        docs.select(F.col(id_col),
                    canonical_url(F.col(url_col)).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.min(id_col).alias("canonical_id"),
             F.count("*").alias("n_dups"))
    )
