"""Text-analysis operators over a document corpus — the training-data
pipeline functions (language-ID, quality scoring, token counting, document
fingerprinting) expressed as JVM-side Column expressions wherever possible
(no Python in the hot path; whole-stage codegen keeps these fused with the
scan).

Every operator here has an exact ANSI-SQL twin in ``__spark_entry__`` so the
DuckDB oracle validates parity bit-for-bit. Formulas are therefore written
in the common subset (regexp splits, md5, simple arithmetic).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# small fixed stopword lists for the n-gram/stopword language heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "it", "that"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "zu"],
    "fr": ["le", "la", "et", "les", "des", "est", "un", "une"],
    "es": ["el", "la", "los", "las", "es", "un", "una", "que"],
}


def norm_text(col) -> Column:
    """Canonical text normalization shared by fingerprint/dedup: lowercase +
    whitespace collapse + trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col) -> Column:
    """Whitespace tokenization with empty tokens filtered (BPE-ish token
    counting uses the same splitter at both engines).

    The filter, not trim: F.trim strips ASCII spaces only, so text with a
    leading/trailing tab or newline split into a phantom '' token that
    inflated every token count downstream (doc_stats, funnel gates, BM25
    document length). The DuckDB twins apply the identical list_filter."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def bind(value, body) -> Column:
    """``body(v)`` for an array-valued ``body``, where ``v`` is ``value``
    evaluated once per row.

    Spark does no common-subexpression elimination inside or beneath an
    interpreted higher-order function, so an expression that ``body``
    reads m times would be evaluated m times. Here ``body`` reads a
    lambda variable bound to the one element of ``array(value)``, and
    ``flatten`` unwraps the one result, keeping ``body``'s type and
    nullability."""
    return F.flatten(F.transform(F.array(value), body))


def kgrams(toks, k: int) -> Column:
    """Every run of ``k`` consecutive tokens of the ``array<string>``
    ``toks``, space-joined, in document order: ``size(toks) - k + 1``
    grams, none when ``toks`` is shorter than ``k``, NULL for a NULL
    array.

    Built from ``arrays_zip`` of ``k`` shifted slices, so the lambda joins
    the fields of its own struct and never reads ``toks``. A per-gram
    ``slice(toks, i, k)`` would re-evaluate ``toks`` — when it is an
    expression such as ``split(norm_text(text))``, the whole document's
    tokenization — once per gram: O(n²) in document length. ``toks`` is
    :func:`bind`-ed, so the ``k`` slices and their length read it once."""
    def grams(t):
        n = F.greatest(F.size(t) - k + 1, F.lit(0))
        zipped = F.arrays_zip(*[F.slice(t, j + 1, n) for j in range(k)])
        return F.transform(
            zipped, lambda g: F.concat_ws(" ", *[g[str(j)] for j in range(k)]))
    return bind(toks, grams)


def token_count(col) -> Column:
    return F.when(F.trim(col) == "", F.lit(0)).otherwise(F.size(tokens(col)))


def avg_token_len(col) -> Column:
    """Mean token length: (chars excluding separators) / tokens."""
    n_tok = token_count(col)
    n_chars = F.length(F.regexp_replace(F.trim(col), r"\s+", ""))
    return F.when(n_tok > 0, n_chars.cast("double") / n_tok).otherwise(F.lit(0.0))


def stopword_hits(col, lang: str) -> Column:
    words = STOPWORDS[lang]
    arr = tokens(F.lower(col))
    return F.size(F.filter(arr, lambda t: t.isin(words)))


def stopword_ratio(col, lang: str = "en") -> Column:
    n = token_count(col)
    return F.when(n > 0, stopword_hits(col, lang).cast("double") / n).otherwise(F.lit(0.0))


def _quality_expr(n_tok: Column, sw_ratio: Column, atl: Column) -> Column:
    """THE composite-quality formula — one definition consumed by
    quality_score and doc_stats so the two can never drift (each used to
    carry its own copy)."""
    return F.round(
        (
            F.least(n_tok.cast("double") / F.lit(20.0), F.lit(1.0))
            + F.least(sw_ratio * 5.0, F.lit(1.0))
            + F.when((atl >= 2.0) & (atl <= 12.0), F.lit(1.0))
            .otherwise(F.lit(0.0))
        ) / F.lit(3.0),
        6,
    )


def quality_score(col) -> Column:
    """Composite quality in [0,1]: length band + stopword presence + token
    shape (the reference's rate_text_quality analog for corpus curation;
    formula kept in the SQL-expressible subset). NULL text scores NULL —
    Spark's least() skips NULLs, so the unguarded formula gave a NULL
    document full length-band credit (0.333), outscoring an empty one."""
    return F.when(
        col.isNotNull(),
        _quality_expr(token_count(col), stopword_ratio(col, "en"),
                      avg_token_len(col)),
    )


def _lang_argmax(hits: dict[str, Column]) -> Column:
    """argmax over per-language hit Columns, fixed tie order
    (en > de > fr > es), 'und' when no hits — shared by lang_id and
    doc_stats' precomputed-hits variant."""
    best = F.greatest(*hits.values())
    expr = F.lit("und")
    # reversed fixed order so earlier langs win ties via later when-overwrite
    for lang in ("es", "fr", "de", "en"):
        expr = F.when((hits[lang] > 0) & (hits[lang] == best),
                      F.lit(lang)).otherwise(expr)
    return expr


def lang_id(col) -> Column:
    """Stopword-vote language ID: argmax of per-language hit counts with a
    fixed tie order (en > de > fr > es), 'und' when no hits."""
    return _lang_argmax({lang: stopword_hits(col, lang)
                         for lang in STOPWORDS})


def fingerprint(col) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text
    (rolling-hash analog in the md5 family so DuckDB reproduces it)."""
    return F.md5(norm_text(col))


ROLLING_MOD = (1 << 31) - 1  # Mersenne prime keeps the fold in bigint range


def rolling_fingerprint(col) -> Column:
    """True polynomial rolling hash over normalized tokens:
    ``h = (h*31 + tok_int) mod (2^31-1)`` folded left-to-right with a
    JVM-side ``aggregate`` — order-sensitive (unlike the md5 set-style
    fingerprint), so shuffled token order changes the value. ``tok_int``
    is a 28-bit md5 prefix so the token→int map is engine-portable; the
    accumulator stays < 2^36, no overflow."""
    toks = F.split(norm_text(col), " ")
    tok_int = lambda t: F.conv(F.substring(F.md5(t), 1, 7), 16, 10).cast("long")  # noqa: E731
    return F.aggregate(
        toks,
        F.lit(0).cast("long"),
        lambda acc, t: F.pmod(acc * 31 + tok_int(t), F.lit(ROLLING_MOD)),
    )


def vocab_topk(docs: DataFrame, k: int = 20, text_col: str = "text") -> DataFrame:
    """Corpus vocabulary top-k: explode normalized tokens → one groupBy
    (map-side partial counts carry the shuffle) → distributed
    ``orderBy().limit(k)`` (TakeOrderedAndProject: each task keeps its own
    top-k heap, the driver merges k-sized heads — never a single-partition
    global sort of the whole vocabulary, which was the r1 scale-killer).
    The rank window then runs over k rows only. Ties break by token for
    determinism."""
    from pyspark.sql.window import Window

    toks = docs.select(
        F.explode(F.split(norm_text(F.col(text_col)), " ")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    top = counts.orderBy(F.desc("n"), F.asc("token")).limit(k)
    w = Window.orderBy(F.desc("n"), F.asc("token"))  # k rows only
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("rank", "token", "n")
    )


def score_to_grade(c: Column) -> Column:
    """Quality grade thresholds of the reference's ConfidenceReport
    (docling/datamodel/base_models.py:609-628): <0.5 poor, <0.8 fair,
    <0.9 good, ≥0.9 excellent."""
    # NULL passthrough first: every `c < x` is NULL-falsy, so without
    # the guard a missing score fell through to 'excellent'
    return (
        F.when(c.isNull(), F.lit(None).cast("string"))
        .when(c < 0.5, F.lit("poor"))
        .when(c < 0.8, F.lit("fair"))
        .when(c < 0.9, F.lit("good"))
        .otherwise(F.lit("excellent"))
    )


def doc_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document text statistics in two narrow projections.

    Staged deliberately: the shared intermediates (token splits, stopword
    hit counts) are aliased in a first Project and REFERENCED — not
    re-expanded — in the second. Catalyst's CollapseProject keeps the
    stages separate because the aliases are non-cheap and multiply
    referenced; the flat single-select form inlines every split/filter
    ~15x, ballooning generated code to the point that janino compilation
    takes tens of seconds per plan. Values are bit-identical to the flat
    form (same expressions, same rounding) and pinned by the doc_stats
    oracle.
    """
    c = F.col(text_col)
    hit_cols = {lang: stopword_hits(c, lang) for lang in STOPWORDS}
    stage1 = docs.select(
        "doc_id",
        token_count(c).alias("n_tokens"),
        F.length(F.regexp_replace(F.trim(c), r"\s+", "")).alias("n_nospace"),
        *[hit_cols[lang].alias(f"hits_{lang}") for lang in STOPWORDS],
        fingerprint(c).alias("fingerprint"),
    )
    n_tok = F.col("n_tokens")
    atl = F.when(n_tok > 0,
                 F.col("n_nospace").cast("double") / n_tok).otherwise(F.lit(0.0))
    sw_ratio = F.when(n_tok > 0,
                      F.col("hits_en").cast("double") / n_tok).otherwise(F.lit(0.0))
    stage2 = stage1.select(
        "doc_id", "n_tokens", "fingerprint",
        F.round(atl, 6).alias("avg_token_len"),
        F.round(sw_ratio, 6).alias("stopword_ratio"),
        _quality_expr(n_tok, sw_ratio, atl).alias("quality"),
        _lang_pred_from_hits().alias("lang_pred"),
    )
    return stage2.select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio",
        "quality", "lang_pred", "fingerprint",
    )


def _lang_pred_from_hits() -> Column:
    """argmax over precomputed hits_<lang> columns, fixed tie order
    (en > de > fr > es), 'und' when no hits — same semantics as lang_id."""
    return _lang_argmax({lang: F.col(f"hits_{lang}")
                         for lang in STOPWORDS})


def curation_funnel(docs: DataFrame, text_col: str = "text",
                    min_quality: float = 0.5, lang: str = "en",
                    min_tokens: int = 5, max_tokens: int = 100_000
                    ) -> DataFrame:
    """End-to-end corpus-curation verdict per document — the composed
    training-data funnel (quality gate → language gate → length gate →
    exact-dedup keep-first) in ONE distributed pass.

    Per-row stage taxonomy, checked in order:
    ``low_quality`` → ``non_<lang>`` (vs the requested ``lang``) →
    ``length`` → ``exact_dup`` (a same-fingerprint doc with smaller
    doc_id also survived the gates) → ``kept``.

    Scale shape: the gates are the doc_stats JVM projections (no
    shuffle); dedup is ONE hash shuffle on the md5 fingerprint with a
    running count of eligible rows per fingerprint window — never a
    self-join, never a global window. Skew is bounded by the largest
    duplicate family.
    """
    from pyspark.sql.window import Window

    s = doc_stats(docs, text_col=text_col)
    eligible = (
        (F.col("quality") >= min_quality)
        & (F.col("lang_pred") == lang)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    )
    w = (Window.partitionBy("fingerprint").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    s = s.withColumn("_elig", eligible.cast("int"))
    s = s.withColumn("_elig_rank", F.sum("_elig").over(w))
    stage = (
        F.when(F.col("quality") < min_quality, F.lit("low_quality"))
        .when(F.col("lang_pred") != lang, F.lit(f"non_{lang}"))
        .when(~F.col("n_tokens").between(min_tokens, max_tokens),
              F.lit("length"))
        .when(F.col("_elig_rank") > 1, F.lit("exact_dup"))
        .otherwise(F.lit("kept"))
    )
    return s.select("doc_id", stage.alias("stage"),
                    F.col("quality"), F.col("n_tokens"))


def tfidf_topk(docs: DataFrame, k: int = 3, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Per-document top-k TF-IDF terms (the classic keyword/salience
    signal a curation pipeline uses for topic tagging and near-dup
    triage).

    tf = in-document term count; idf = log10(N / df) with df = number of
    documents containing the term. Scale shape: token explode feeds two
    partial-agg groupBys (one keyed (doc, token) for tf, one keyed token
    for df — both map-side combined, shuffle keys short and uniform);
    the df table joins back on token (Catalyst broadcasts it when
    small); ranking is a window partitioned BY DOCUMENT — never a global
    window. Scores are rounded to 6 dp BEFORE ranking so the order is
    reproducible across engines; ties break on the token string.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    ).where(F.col("token") != "")
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    n = docs.agg(F.countDistinct(id_col).alias("n_docs"))
    scored = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col), "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round(
                F.col("tf")
                * F.log10(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def linear_quality_score(docs: DataFrame, dim: int = 256,
                         weights: list[float] | None = None,
                         text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Hashed linear (logistic-regression) quality-classifier INFERENCE —
    the fastText/DCLM-filter serving shape: token → feature bucket by
    hash, bucket → weight by array lookup, document score =
    sigmoid(mean weight). Everything is JVM column expressions: the
    model is a literal/broadcast ``array<double>`` probed with
    ``element_at`` inside a higher-order ``aggregate`` — the exact
    plumbing a trained weight vector drops into (pass ``weights``).

    Without a trained model the default weights are a deterministic
    pseudo-random vector derived from the bucket index (documented
    stand-in; the plumbing, hashing, and math are the real path).
    Returns (id, n_tokens, score, keep)."""
    if weights is None:
        weights = [((i * 2654435761) % 2001 - 1000) / 1000.0
                   for i in range(dim)]
    if len(weights) != dim:
        # a short vector crashes mid-job with INVALID_ARRAY_INDEX under
        # ANSI element_at; a long one silently ignores its tail — both
        # are config errors that must surface at plan-build time
        raise ValueError(
            f"weights has {len(weights)} entries but dim={dim}; "
            "pass dim=len(weights) for a trained vector")
    warr = F.array(*[F.lit(float(w)) for w in weights])
    toks = tokens(F.lower(F.col(text_col)))
    # bucket = first 8 md5 hex chars as int, mod dim (DuckDB-replicable)
    bucket = lambda t: F.conv(F.substring(F.md5(t), 1, 8), 16, 10) \
        .cast("long") % dim  # noqa: E731
    total = F.aggregate(
        toks, F.lit(0.0),
        lambda acc, t: acc + F.element_at(warr, (bucket(t) + 1).cast("int")),
    )
    n = F.size(toks)
    mean = F.when(n > 0, total / n).otherwise(F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-mean)), 6)
    return docs.select(
        F.col(id_col),
        n.cast("int").alias("n_tokens"),
        score.alias("score"),
        (score > 0.5).cast("int").alias("keep"),
    )


def bigram_lm(docs: DataFrame, k: int = 30, min_count: int = 2,
              text_col: str = "text",
              doc_col: str = "doc_id") -> DataFrame:
    """Corpus bigram LM count table — the n-gram artifact an LM-data
    pipeline builds for contamination screens and backoff filters
    (extends the unigram surprisal op with the conditional layer).

    Spark-first shape that survives 100 TB:
    - tokens explode with their in-document position (posexplode), so
      the bigram pairing is a ``lead`` window PARTITIONED BY document —
      never a self-join and never a global window;
    - unigram and bigram tallies are plain groupBys (map-side partial
      aggregation carries the shuffle);
    - the conditional probability joins the bigram table to the
      unigram table on the first token — a short-key equi-join whose
      build side is the (pruned) unigram table;
    - top-k is a distributed ``orderBy().limit(k)``
      (TakeOrderedAndProject), the same no-global-sort pattern as
      vocab_topk.
    """
    from pyspark.sql.window import Window

    toks = docs.select(
        F.col(doc_col).alias("doc"),
        F.posexplode(F.split(norm_text(F.col(text_col)), " "))
        .alias("pos", "token"),
    ).filter(F.col("token") != "")
    w = Window.partitionBy("doc").orderBy("pos")
    pairs = toks.select(
        "token", F.lead("token").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    uni = toks.groupBy("token").agg(F.count("*").alias("n1"))
    bi = (
        pairs.groupBy("token", "nxt").agg(F.count("*").alias("n2"))
        .filter(F.col("n2") >= min_count)
    )
    scored = bi.join(uni, "token").select(
        F.col("token").alias("w1"),
        F.col("nxt").alias("w2"),
        F.col("n2").cast("bigint").alias("pair_count"),
        F.round(F.col("n2") / F.col("n1"), 6).alias("cond_p"),
    )
    return scored.orderBy(F.desc("pair_count"), "w1", "w2").limit(k)


# CCNet/KenLM practice: the LM vocabulary is top-V by frequency with an
# OOV bucket — never the raw corpus type count, which grows without
# bound (typos, hashes, serial numbers make web-corpus vocab ~O(tokens))
DEFAULT_MAX_VOCAB = 1 << 18


def _bounded_unigrams(corpus_toks: DataFrame,
                      max_vocab: int) -> tuple:
    """(top, scalars) for the bounded-vocab corpus LM shared by
    :func:`line_perplexity` / :func:`ccnet_buckets`.

    ``top``: the top-``max_vocab`` (token, n_t) rows by (count desc,
    token asc) — deterministic, and O(V) at ANY corpus size, so the
    token join stays broadcastable where the raw unigram table would
    grow with the corpus. The sort+limit compiles to
    TakeOrderedAndProject (per-partition partial top-V, merged once) —
    no global sort.

    ``scalars``: one row (n_total, v_eff, n_unk, unk_mean, vocab_all,
    v_top) — the raw corpus type count and the retained one ride along
    for :func:`lm_vocab_overflow`. ``v_eff``
    counts the retained types plus one ``<unk>`` type when anything
    overflowed; ``n_unk`` is the dropped tokens' total count and
    ``unk_mean`` the mean count of a dropped TYPE — every OOV token
    scores as an average dropped type, cost
    -ln((unk_mean+1)/(n_total+v_eff)), so a long tail of singletons
    stays expensive (pooling the whole unk mass into each token's
    probability would make OOV cheaper than the head vocabulary).
    When the vocabulary fits (v_eff == vocab, unk never consulted)
    the formula reduces exactly to the unbounded LM, which is what
    the DuckDB oracles pin.
    """
    uni = corpus_toks.groupBy("token").agg(F.count("*").alias("n_t"))
    tot = uni.agg(F.coalesce(F.sum("n_t"), F.lit(0)).alias("n_total"),
                  F.count("*").alias("vocab_all"))
    # not persisted: the callers' frames read it lazily, so no caller
    # could release a cache; its three consumers (own totals, scalar
    # attach, token join) each re-run the token explode + unigram shuffle
    top = uni.orderBy(F.desc("n_t"), "token").limit(max_vocab)
    top_tot = top.agg(
        F.coalesce(F.sum("n_t"), F.lit(0)).alias("n_top"),
        F.count("*").alias("v_top"))
    scalars = tot.crossJoin(top_tot).select(
        "n_total",
        (F.col("v_top")
         + F.when(F.col("vocab_all") > F.col("v_top"), F.lit(1))
         .otherwise(F.lit(0))).alias("v_eff"),
        (F.col("n_total") - F.col("n_top")).alias("n_unk"),
        ((F.col("n_total") - F.col("n_top"))
         / F.greatest(F.col("vocab_all") - F.col("v_top"), F.lit(1)))
        .alias("unk_mean"),
        "vocab_all", "v_top",
    )
    return top, scalars


def lm_vocab_overflow(docs: DataFrame, text_col: str = "text",
                      max_vocab: int = DEFAULT_MAX_VOCAB) -> DataFrame:
    """Visibility companion to the bounded LM vocabulary: one row when
    the corpus type count exceeds ``max_vocab`` — (vocab_all,
    vocab_kept, dropped_types, unk_token_count); empty otherwise. Emit
    beside any bounded-vocab perplexity run so the OOV mass is a
    measured number, not a silent approximation."""
    toks = docs.select(
        F.explode(tokens(norm_text(F.col(text_col)))).alias("token"))
    _top, scalars = _bounded_unigrams(toks, max_vocab)
    return (
        scalars.filter(F.col("vocab_all") > F.col("v_top"))
        .select(
            F.col("vocab_all").cast("bigint").alias("vocab_all"),
            F.col("v_top").cast("bigint").alias("vocab_kept"),
            (F.col("vocab_all") - F.col("v_top")).cast("bigint")
            .alias("dropped_types"),
            F.col("n_unk").cast("bigint").alias("unk_token_count"),
        )
    )


def line_perplexity(docs: DataFrame, text_col: str = "text",
                    doc_col: str = "doc_id",
                    max_vocab: int = DEFAULT_MAX_VOCAB) -> DataFrame:
    """Per-LINE unigram perplexity under the corpus's own LM — the CCNet
    line-scoring primitive (CCNet buckets web documents by LM perplexity
    into head/middle/tail; Nemotron-CC and RedPajama-v2 carry the same
    signal). CCNet scores with a pretrained KenLM; no model artifacts
    exist in this sandbox, so the corpus unigram distribution stands in —
    the plumbing (line explode, token join, per-line aggregation) is the
    production shape either way, and a real LM slots in as a broadcast
    table behind the same join.

    Spark-first shape that survives 100 TB:
    - lines explode per document (posexplode on the newline split) — no
      global state;
    - the unigram table is one groupBy (map-side partial agg) bounded to
      the top-``max_vocab`` types (see :func:`_bounded_unigrams` — O(V)
      at any corpus size, so it broadcasts unconditionally) and joins
      back by token;
    - add-one smoothing over the effective vocabulary: cost(t) =
      -ln((n_t + 1) / (N + V_eff)), with an OOV token (beyond top-V)
      scoring as a mean dropped type — below the cutoff this reduces
      exactly to the unbounded corpus LM.

    Output: (doc_id, line_no, n_tokens, ppl) — ppl rounded to 6 dp,
    NULL for token-less lines (they carry no signal; filters drop them).
    """
    lines = docs.select(
        F.col(doc_col).alias("doc_id"),
        F.posexplode(F.split(F.coalesce(F.col(text_col), F.lit("")), "\n"))
        .alias("line_no", "line"),
    )
    # the module's ONE tokenizer (tokens(): whitespace split, phantom
    # empties filtered) — inlining a second splitter here is how the
    # Spark side and the 61 oracle twins drift
    ltoks = lines.select(
        "doc_id", "line_no",
        F.explode(tokens(norm_text(F.col("line")))).alias("token"),
    )
    corpus = docs.select(
        F.explode(tokens(norm_text(F.col(text_col)))).alias("token")
    )
    uni, totals = _bounded_unigrams(corpus, max_vocab)
    scored = (
        ltoks.join(F.broadcast(uni), "token", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "cost",
            -F.log((F.coalesce(F.col("n_t"), F.col("unk_mean")) + 1)
                   / (F.col("n_total") + F.col("v_eff"))),
        )
    )
    per_line = scored.groupBy("doc_id", "line_no").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.exp(F.avg("cost")), 6).alias("ppl"),
    )
    # token-less lines re-enter with NULL ppl (left join keeps totality)
    return (
        lines.select("doc_id", "line_no")
        .join(per_line, ["doc_id", "line_no"], "left")
        .select(
            "doc_id", "line_no",
            F.coalesce("n_tokens", F.lit(0)).cast("bigint")
            .alias("n_tokens"),
            "ppl",
        )
    )


def ccnet_buckets(docs: DataFrame, text_col: str = "text",
                  doc_col: str = "doc_id",
                  max_vocab: int = DEFAULT_MAX_VOCAB) -> DataFrame:
    """CCNet's head/middle/tail split: per-DOCUMENT perplexity under the
    corpus unigram LM, then tercile bucketing — head = lowest-perplexity
    third (most fluent), tail = highest. The cutoffs are exact corpus
    percentiles computed as a 2-value aggregate and broadcast back — one
    scan + a scalar attach, never a global ``ntile`` window (a
    no-partition window is the single-reducer shape the plan audit
    screens out; CCNet itself assigns against precomputed thresholds the
    same way).

    Output: (doc_id, ppl, bucket) with bucket in {'head','middle','tail'};
    documents with no tokens get NULL ppl and bucket 'tail' (CCNet drops
    them from head/middle too).
    """
    toks = docs.select(
        F.col(doc_col).alias("doc_id"),
        F.explode(tokens(norm_text(F.col(text_col)))).alias("token"),
    )
    uni, totals = _bounded_unigrams(
        toks.select("token"), max_vocab)
    per_doc = (
        toks.join(F.broadcast(uni), "token", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "cost",
            -F.log((F.coalesce(F.col("n_t"), F.col("unk_mean")) + 1)
                   / (F.col("n_total") + F.col("v_eff"))),
        )
        .groupBy("doc_id")
        .agg(F.round(F.exp(F.avg("cost")), 6).alias("ppl"))
    )
    cuts = per_doc.agg(
        F.percentile("ppl", F.lit(1.0 / 3)).alias("c1"),
        F.percentile("ppl", F.lit(2.0 / 3)).alias("c2"),
    )
    base = docs.select(F.col(doc_col).alias("doc_id")) \
        .join(per_doc, "doc_id", "left") \
        .crossJoin(F.broadcast(cuts))
    return base.select(
        "doc_id", "ppl",
        F.when(F.col("ppl").isNull(), F.lit("tail"))
        .when(F.col("ppl") <= F.col("c1"), F.lit("head"))
        .when(F.col("ppl") <= F.col("c2"), F.lit("middle"))
        .otherwise(F.lit("tail")).alias("bucket"),
    )


def bm25_scores(docs: DataFrame, query_terms: list[str],
                k1: float = 1.2, b: float = 0.75,
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Okapi BM25 relevance of every document to a fixed query-term set —
    the retrieval-side twin of ``tfidf_topk`` (corpus search / RAG-recall
    scoring over extracted text).

    score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    with the Lucene idf: ln(1 + (N − df + 0.5)/(df + 0.5)).

    Scale shape: the token explode is filtered to the query terms BEFORE
    any shuffle, so the (doc, term) groupBy carries only matching pairs;
    document frequency is a second partial agg over that tiny table and
    joins back broadcast; corpus size and average doc length are a
    one-row scalar attach. The full corpus is scanned exactly once for
    lengths + tokens; nothing pairwise anywhere.

    Output: (doc_id, n_hit_terms, score) for documents matching ≥1 term.
    Per-term partials are rounded to 8 dp before the sum and the sum to
    6 dp, so the result is engine-reproducible regardless of float
    summation order.
    """
    terms = [t.lower() for t in query_terms]
    # dl rides along with the exploded tokens (it is functionally
    # dependent on the doc id, so adding it to the groupBy key changes
    # nothing) — the corpus is scanned twice total: once here for
    # matching tokens + lengths, once for the (N, avgdl) scalar. The
    # previous shape scanned a third time for a lens table it then
    # re-joined.
    stats = docs.select(token_count(F.col(text_col)).alias("dl")).agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"))
    toks = docs.select(
        F.col(id_col),
        token_count(F.col(text_col)).alias("dl"),
        F.explode(tokens(norm_text(F.col(text_col)))).alias("tok"),
    ).where(F.col("tok").isin(terms))
    tf = toks.groupBy(id_col, "dl", "tok").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("tok").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .crossJoin(F.broadcast(stats))  # 1-row scalar attach
        .select(
            F.col(id_col),
            F.col("tok"),
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * (F.col("tf") * (k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (F.lit(1.0 - b)
                       + F.lit(b) * F.col("dl") / F.col("avgdl"))
                )
            ).alias("part_raw"),
        )
        .select(id_col, "tok", F.round("part_raw", 8).alias("part"))
    )
    # The 1e-9 nudge before the 6dp round: parts are exact multiples of
    # 1e-8, so document sums frequently land EXACTLY on a 6dp half
    # boundary (…x50), where two engines' double rounding can disagree
    # by 1 ulp of the sum (observed: 2/4900 docs at sf0.1 flipped
    # between Spark and DuckDB). Adding 1e-9 — far above the ~1e-15
    # accumulated float error, far below the 1e-8 part quantum — moves
    # every such sum decisively above its boundary, which is exactly
    # what ideal HALF_UP would do, and never crosses any other decision
    # point. Parts are non-negative, so the nudge is always upward-safe.
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_hit_terms"),
            F.round(F.sum("part") + F.lit(1e-9), 6).alias("score"),
        )
    )


def _lr_features(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """The dense feature row for the trainable quality classifier:
    x = [1 (bias), n_tokens/100, avg_token_len/10, en-stopword ratio],
    label y = (n_tokens + doc_id) % 2 — a deterministic, balanced synthetic
    target (the *math* is the contract; a real labeled set drops in via
    the same columns). All features are ratios of integer counts, so both
    engines compute bit-identical doubles."""
    n_tok = token_count(F.col(text_col))
    return docs.select(
        F.col(id_col),
        F.lit(1.0).alias("x0"),
        (n_tok.cast("double") / 100.0).alias("x1"),
        (avg_token_len(F.col(text_col)) / 10.0).alias("x2"),
        stopword_ratio(F.col(text_col)).alias("x3"),
        ((n_tok + F.col(id_col)) % 2).cast("double").alias("y"),
    )


def train_quality_lr(docs: DataFrame, iters: int = 3, lr: float = 0.5,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> tuple[DataFrame, list[float]]:
    """Full-batch logistic-regression TRAINING for a quality classifier —
    the learnable twin of ``linear_quality_score`` (which serves fixed
    weights). The distributed-ML shape: each iteration is one corpus scan
    ending in a single 4-value gradient aggregate (map-side partial sums,
    one tiny shuffle), the weight update is O(d) driver work, and the new
    weights re-enter the plan as literals — the classic
    broadcast-weights / aggregate-gradients loop, d bounded, never a
    per-row Python step.

    Engine-reproducible by construction: each row's gradient contribution
    (sigmoid(w.x) − y)·x_j is quantized to 1e-6 and summed as BIGINTS, so
    the gradient is order-independent and bit-identical across engines
    (the bm25 lesson, taken one step further: integer sums instead of a
    nudged float round). The only cross-engine float risk left is a
    ~1-ulp libm exp() divergence landing within 1e-10 of a quantization
    boundary — negligible.

    Returns (scored DataFrame (id, label, score, pred), final weights).
    """
    feats = _lr_features(docs, text_col, id_col).cache()
    n = feats.count()
    w = [0.0, 0.0, 0.0, 0.0]
    xs = ["x0", "x1", "x2", "x3"]
    if n == 0:
        # totality: an empty corpus trains nothing and scores nothing
        # (the gradient agg would return NULL sums -> TypeError)
        empty = feats.select(
            F.col(id_col), F.lit(0).alias("label"),
            F.lit(0.0).alias("score"), F.lit(0).alias("pred"))
        feats.unpersist()
        return empty, w
    for _ in range(iters):
        z = sum((F.lit(w[j]) * F.col(xs[j]) for j in range(4)), F.lit(0.0))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = feats.agg(*[
            F.sum(F.round((p - F.col("y")) * F.col(xs[j]) * 1e6, 0)
                  .cast("bigint")).alias(f"g{j}")
            for j in range(4)
        ]).collect()[0]
        w = [w[j] - lr * (row[f"g{j}"] / (n * 1e6)) for j in range(4)]
    z = sum((F.lit(w[j]) * F.col(xs[j]) for j in range(4)), F.lit(0.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)
    scored = feats.select(
        F.col(id_col),
        F.col("y").cast("int").alias("label"),
        score.alias("score"),
        (score > 0.5).cast("int").alias("pred"),
    )
    # materialize before releasing the cache: scored references feats,
    # and repeated training calls must not pin feature frames in
    # executor storage for the session lifetime
    scored = scored.localCheckpoint(eager=True)
    feats.unpersist()
    return scored, w
