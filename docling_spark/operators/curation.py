"""Corpus-curation operators a large-scale training-data pipeline needs
beyond dedup: benchmark decontamination, PII scrubbing, Gopher-style
repetition statistics, and deterministic stratified sampling.

All four are pure DataFrame plans (no Python in the hot path) written in
the Spark/DuckDB-common SQL subset so each has an exact oracle twin in
``__spark_entry__``:

- ``decontaminate``: the standard LLM eval-set hygiene pass (remove any
  training document sharing an n-gram with a benchmark document, cf. GPT-3
  appendix C / PaLM §8): explode distinct n-gram hashes on both sides,
  broadcast the (small) benchmark gram set, LEFT ANTI join. One shuffle on
  the training side, none proportional to n²; scales to 100 TB because the
  join key is a short hash and the benchmark side is broadcast.
- ``scrub_pii``: email/IPv4/phone masking with RE2/Java-common regexes via
  ``regexp_replace`` — whole-stage-codegen'd, zero shuffle.
- ``repetition_stats``: Rae et al. (Gopher) repetition heuristics —
  duplicate-line fraction via array_distinct (per-row, no shuffle) and
  top-2-gram character fraction via an explode + partial-agg groupBy
  (map-side combine keeps the shuffle proportional to distinct grams).
- ``stratified_sample``: deterministic per-stratum hash-mod sampling
  (md5-derived uniform in [0,10000)) — reproducible across engines and
  cluster sizes, unlike ``sampleBy``'s RNG.
- ``paragraph_dedup``: CCNet-style paragraph-level dedup (global
  first-occurrence by normalized paragraph hash, doc reassembly in order).
- ``unigram_logprob``: CCNet-style LM quality signal reduced to the
  corpus-unigram model (mean token surprisal).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from docling_spark.operators.textstats import (
    kgrams,
    norm_text,
    token_count,
    tokens,
)

# Regexes in the Java/RE2 common subset (no lookaround, no backrefs) so the
# DuckDB oracle applies byte-identical semantics.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
PHONE_RE = r"\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\b"


def ngram_hashes(df: DataFrame, n: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """(id, gram_hash) — one row per DISTINCT word n-gram of the document.

    Tokenized with the shared whitespace splitter, lowercased, md5-hashed
    so the join key shuffled at scale is 32 bytes regardless of n."""
    toks = tokens(F.lower(F.col(text_col)))
    grams = F.when(
        F.size(toks) >= n, F.transform(kgrams(toks, n), F.md5),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(grams)).alias("gram_hash"),
    )


def decontaminate(docs: DataFrame, benchmark: DataFrame, n: int = 8,
                  text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Drop every training document sharing at least one word ``n``-gram
    with any benchmark document.

    Plan: benchmark grams are deduped and broadcast (eval sets are tiny
    next to a 100 TB corpus); training grams LEFT SEMI against them finds
    contaminated ids; the corpus LEFT ANTI joins those ids away. Two
    equi-joins, no cartesian anywhere."""
    bench_grams = (
        ngram_hashes(benchmark, n, id_col=id_col, text_col=text_col)
        .select("gram_hash").distinct()
    )
    contaminated = (
        ngram_hashes(docs, n, id_col=id_col, text_col=text_col)
        .join(F.broadcast(bench_grams), "gram_hash", "left_semi")
        .select(F.col("id").alias(id_col)).distinct()
    )
    return docs.join(contaminated, id_col, "left_anti")


def scrub_pii(col) -> Column:
    """Mask emails, IPv4 addresses, and NNN-NNN-NNNN phone numbers.

    Email first: an address like ``a@10.0.0.1`` must mask as one EMAIL,
    not leak an IP fragment."""
    out = F.regexp_replace(col, EMAIL_RE, "<EMAIL>")
    out = F.regexp_replace(out, IPV4_RE, "<IP>")
    return F.regexp_replace(out, PHONE_RE, "<PHONE>")


def _lines(col) -> Column:
    return F.filter(
        F.transform(F.split(col, r"\n"), lambda s: F.trim(s)),
        lambda s: s != "",
    )


def dup_line_fraction(col) -> Column:
    """Gopher duplicate-line filter: fraction of (non-empty, trimmed) lines
    that are repeats of an earlier line — 1 - distinct/total. Pure
    per-row column math, no shuffle."""
    ls = _lines(col)
    n = F.size(ls)
    return F.when(n > 0,
                  F.round(1.0 - F.size(F.array_distinct(ls)) / n.cast("double"), 6)
                  ).otherwise(F.lit(0.0))


def top_bigram_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per document: the most frequent word 2-gram, its count, and the
    Gopher ``top_2gram_char_frac`` (characters covered by its occurrences
    over non-space characters). explode → partial-agg groupBy(doc, gram)
    → max-by window-free reduction via a second groupBy: both shuffles key
    on (doc, gram)/(doc), skew-bounded by per-doc gram counts."""
    base = docs.select(
        F.col(id_col),
        F.explode(kgrams(tokens(F.lower(F.col(text_col))), 2)).alias("gram"),
        F.length(F.regexp_replace(F.trim(F.lower(F.col(text_col))),
                                  r"\s+", "")).alias("n_chars"),
    )
    counted = base.groupBy(id_col, "gram", "n_chars").agg(
        F.count("*").alias("cnt"))
    # deterministic argmax, oracle-matchable: rows at the per-doc max
    # count, lexicographically smallest gram among ties
    mx = counted.groupBy(id_col).agg(F.max("cnt").alias("max_cnt"))
    winners = (
        counted.join(mx, id_col)
        .where(F.col("cnt") == F.col("max_cnt"))
        .groupBy(id_col, "n_chars", "max_cnt")
        .agg(F.min("gram").alias("top_gram"))
    )
    gram_chars = F.length(F.regexp_replace(F.col("top_gram"), r"\s+", ""))
    scored = winners.select(
        F.col(id_col),
        F.col("top_gram"),
        F.col("max_cnt").cast("long").alias("top_count"),
        F.when(F.col("n_chars") > 0,
               F.round(F.least(
                   F.lit(1.0),
                   F.col("max_cnt") * gram_chars
                   / F.col("n_chars").cast("double")), 6)
         ).otherwise(F.lit(0.0)).alias("top_2gram_char_frac"),
    )
    # totality: a doc with < 2 tokens has no bigrams and would vanish
    # through the explode — keep an accounting row (the cleaned corpus
    # never silently loses documents, same contract as paragraph_dedup
    # and dup_span_removal)
    return (
        docs.select(id_col).join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("top_gram"), F.lit("")).alias("top_gram"),
            F.coalesce(F.col("top_count"), F.lit(0).cast("long"))
            .alias("top_count"),
            F.coalesce(F.col("top_2gram_char_frac"), F.lit(0.0))
            .alias("top_2gram_char_frac"),
        )
    )


def strat_key(col, salt: str = "") -> Column:
    """Deterministic uniform int in [0, 10000) from the row key: first 8
    md5 hex digits mod 10000 — identical formula on the DuckDB side.

    8 digits (32 bits), not 4: 65536 % 10000 != 0 made the low 5536
    residues 7/65536 likely vs 6/65536, over-sampling every fraction
    ≤ 0.55 by ~6.8% relative; with 2^32 the residual bias is ~2e-6.

    ``salt`` decorrelates independent uses of the key: sampling, shard
    assignment, and skew-salting must not share one hash, or composing
    the operators skews it (stratified_sample keeps key < threshold;
    sharding those survivors by the SAME hash mod m leaves high shards
    permanently empty)."""
    keyed = (F.concat(F.lit(salt + ":"), col.cast("string"))
             if salt else col.cast("string"))
    return (
        F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10)
        .cast("long") % 10000
    )


def stratified_sample(docs: DataFrame, strata_col: str,
                      fractions: dict[str, float],
                      key_col: str = "doc_id",
                      default: float = 0.0,
                      salt: str = "",
                      resolution: int = 10_000) -> DataFrame:
    """Keep each stratum at its configured rate, deterministically: a row
    survives iff hash(key) mod resolution < rate*resolution. No RNG, no
    driver state, reproducible across engines/cluster sizes; the filter
    fuses into the scan (no shuffle).

    ``salt`` decorrelates composed passes (see :func:`strat_key` — two
    unsalted samples share one hash, so the second pass is a nested
    prefix of the first, not an independent sample). ``resolution``
    bounds the smallest expressible fraction at ``0.5/resolution``;
    fractions below that (e.g. a mixture_plan keep_fraction of 3e-5 for
    a hugely overrepresented source) MUST raise rather than silently
    round to keep-nothing — pass ``resolution=10**8`` for such plans
    (the key then uses 15 md5 hex digits, 60 bits, so residue bias stays
    negligible)."""

    def _thr(frac: float) -> int:
        t = int(round(frac * resolution))
        if t == 0 and frac > 0:
            raise ValueError(
                f"fraction {frac} is below the sampling resolution "
                f"1/{resolution}; pass a larger resolution= (e.g. 10**8)")
        return t

    rate = None
    for value, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == value
        thr = F.lit(_thr(frac))
        rate = F.when(cond, thr) if rate is None else rate.when(cond, thr)
    rate = (rate.otherwise(F.lit(_thr(default)))
            if rate is not None else F.lit(_thr(default)))
    if resolution == 10_000:
        key = strat_key(F.col(key_col), salt)
    else:
        keyed = (F.concat(F.lit(salt + ":"), F.col(key_col).cast("string"))
                 if salt else F.col(key_col).cast("string"))
        key = (F.conv(F.substring(F.md5(keyed), 1, 15), 16, 10)
               .cast("long") % resolution)
    return docs.where(key < rate)


def paragraph_dedup(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """CCNet-style paragraph-level dedup: split each document into
    paragraphs (blank-line boundaries), drop every paragraph whose
    normalized hash already occurred in an earlier (doc, position), and
    reassemble the survivors in original order.

    First-occurrence is decided by a window over the paragraph hash
    ordered by (doc id, paragraph index) — deterministic under any
    partitioning. One shuffle keyed on the paragraph hash (short md5,
    uniform — no skew), one keyed on the doc id for reassembly; both are
    partial-agg friendly. Returns (id, clean_text, n_paras, n_kept) for
    EVERY input document — empty/whitespace-only docs come back as
    ('', 0, 0) instead of silently vanishing from the output."""
    paras = docs.select(
        F.col(id_col),
        F.posexplode(
            F.filter(
                F.transform(F.split(F.col(text_col), r"\n\s*\n"),
                            lambda p: F.trim(p)),
                lambda p: p != "",
            )
        ).alias("para_idx", "para"),
    )
    w = Window.partitionBy(
        F.md5(norm_text(F.col("para")))
    ).orderBy(F.col(id_col), F.col("para_idx"))
    ranked = paras.withColumn("rk", F.row_number().over(w))
    agg = (
        ranked.groupBy(id_col).agg(
            F.concat_ws(
                "\n\n",
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("rk") == 1,
                               F.struct(F.col("para_idx"), F.col("para"))))),
                    lambda s: s.getField("para"),
                ),
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_paras"),
            F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
            .cast("long").alias("n_kept"),
        )
    )
    # totality: paragraph-less docs (posexplode of an empty array emits
    # nothing) still get an accounting row
    base = docs.select(F.col(id_col)).distinct()
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_paras", F.lit(0)).cast("long").alias("n_paras"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def unigram_logprob(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """CCNet-style LM quality signal, reduced to the unigram model the
    corpus itself defines: score(doc) = mean over tokens of
    -log10 P(token), P from corpus-wide counts. Low surprisal ≈ natural
    text; high ≈ garbage/rare-token soup.

    Two aggregations, both partial-agg friendly: corpus token counts
    (shuffle keyed on token), then a token→count equi-join and per-doc
    mean. The count table is Catalyst's choice to broadcast when small."""
    toks = docs.select(
        F.col(id_col),
        F.explode(tokens(F.lower(F.col(text_col)))).alias("token"),
    ).where(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    scored = (
        toks.join(counts, "token")
        .crossJoin(F.broadcast(total))
        .select(
            F.col(id_col),
            (-F.log10(F.col("n") / F.col("total"))).alias("surprisal"),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.round(F.avg("surprisal"), 6).alias("mean_surprisal"),
        F.count("*").cast("long").alias("n_tokens"),
    )
    # totality: a token-less (empty/whitespace) document has no explode
    # rows and would vanish — keep an accounting row with NULL surprisal
    # and 0 tokens so a downstream join never silently loses documents
    # (same contract as top_bigram_stats / paragraph_dedup)
    return (
        docs.select(id_col).join(agg, id_col, "left")
        .select(
            id_col,
            F.col("mean_surprisal"),
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("long"))
            .alias("n_tokens"),
        )
    )


def pack_sequences(docs: DataFrame, budget_tokens: int = 2048,
                   shard_mod: int = 64, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Training-sequence packing: assign documents to fixed-token-budget
    sequences (the batch-assembly step before tokenized examples hit the
    trainer).

    Exact greedy first-fit needs a sequential scan over the corpus — a
    driver loop or a single-partition window, both 100 TB killers. The
    distributed form shards the corpus deterministically (md5-derived
    hash-mod on the doc id, same formula as ``strat_key``) and packs
    within each shard by cumulative-token bucketing in doc-id order:
    ``seq_idx = floor(cum_tokens_before / budget)``. Sequences fill to
    the budget and may overflow by at most one document (training
    pipelines truncate or split the straddler downstream). Shard count
    bounds window-partition size at corpus_size/shard_mod — pick
    shard_mod ≈ executors×4 at scale.

    One shuffle (window partition on the uniform shard key). Returns
    (shard, seq_idx, n_docs, total_tokens, first_doc, last_doc).
    """
    # direct 60-bit md5 key mod shard_mod — NOT strat_key % shard_mod:
    # chaining mod 10000 then mod m is non-uniform whenever
    # 10000 % m != 0 (the default m=64 put 157/10000 of keys on shards
    # 0-15 vs 156 elsewhere); 2^60 is divisible by every power-of-two m
    # and the residual bias for other m is ~m/2^60
    shard_key = (
        F.conv(F.substring(
            F.md5(F.concat(F.lit("shard:"), F.col(id_col).cast("string"))),
            1, 15), 16, 10).cast("long") % shard_mod)
    staged = docs.select(
        F.col(id_col),
        shard_key.alias("shard"),
        token_count(F.col(text_col)).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy(id_col)
    cum = staged.withColumn("cum_after", F.sum("n_tokens").over(w))
    binned = cum.withColumn(
        "seq_idx",
        F.floor((F.col("cum_after") - F.col("n_tokens"))
                / F.lit(float(budget_tokens))).cast("long"),
    )
    return binned.groupBy("shard", "seq_idx").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        F.min(id_col).alias("first_doc"),
        F.max(id_col).alias("last_doc"),
    )


def domain_cap(docs: DataFrame, cap: int = 10, salt_mod: int = 16,
               source_col: str = "source", id_col: str = "doc_id") -> DataFrame:
    """RefinedWeb-style per-source frequency cap: keep at most ``cap``
    documents per source (the smallest doc ids — deterministic, no RNG).

    The naive plan — one rank window partitioned by source — hotspots on
    any source holding a large fraction of the corpus (at web scale one
    domain can be billions of pages). This is the classic distributed
    top-k instead: (1) salt each source into ``salt_mod`` sub-partitions
    (md5-derived, oracle-replicable) and rank within (source, salt) —
    every window partition is bounded by the largest source / salt_mod;
    (2) survivors (≤ salt_mod·cap rows per source) go through the exact
    per-source rank. Two shuffles, both skew-bounded; semantics identical
    to the single global rank because each salt keeps a superset of the
    global smallest ``cap``.

    Returns kept rows: (doc_id, source, domain_rank).
    """
    salted = docs.select(
        F.col(id_col), F.col(source_col),
        (strat_key(F.col(id_col), "salt") % salt_mod).alias("_salt"),
    )
    w1 = Window.partitionBy(source_col, "_salt").orderBy(id_col)
    stage1 = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .where(F.col("_r1") <= cap)
    )
    w2 = Window.partitionBy(source_col).orderBy(id_col)
    return (
        stage1.withColumn("domain_rank",
                          F.row_number().over(w2).cast("long"))
        .where(F.col("domain_rank") <= cap)
        .select(id_col, source_col, "domain_rank")
    )


def dup_span_removal(docs: DataFrame, k: int = 8,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Exact duplicated-substring removal (the "Deduplicating Training
    Data Makes Language Models Better" ExactSubstr operator, re-expressed
    relationally): any k-token window whose normalized text occurs in
    MORE THAN ONE document is removed from every document except the one
    with the smallest id; overlapping removed windows merge into spans,
    and each document is reassembled from its surviving tokens.

    Plan shape (scale notes): one shuffle keyed on the k-gram digest
    (md5, uniform — no skew; at 100 TB swap the 16-hex-char digest for
    xxhash64, same plan), a semi-join of windows onto duplicated digests,
    a per-(doc) sort-window to merge overlaps (partitioned by doc — no
    global window), and a groupBy(doc) reassembly. Token positions are
    carried as ints; the token stream itself never re-shuffles — only
    (doc, pos) pairs do.

    Returns (id, clean_text, n_tokens, n_removed)."""
    toks = docs.select(
        F.col(id_col),
        F.filter(tokens(F.col(text_col)),
                 lambda t: t != "").alias("toks"),
    ).withColumn("n_tokens", F.size("toks"))
    # k-gram digests per window start (empty when the doc is shorter)
    grams = toks.select(
        id_col, "n_tokens", "toks",
        F.posexplode(
            F.when(
                F.col("n_tokens") >= k,
                F.transform(
                    F.sequence(F.lit(1), F.col("n_tokens") - k + 1),
                    lambda i: F.substring(
                        F.md5(F.lower(
                            F.concat_ws(" ", F.slice("toks", i, k)))),
                        1, 16),
                ),
            ).otherwise(F.array()),
        ).alias("pos0", "digest"),
        # posexplode yields the 0-based array index; window starts are
        # 1-based token positions
    ).select(id_col, (F.col("pos0") + 1).alias("pos"), "digest")
    # digests seen in >1 document, with the canonical (min id) keeper
    dup = (
        grams.groupBy("digest")
        .agg(F.countDistinct(id_col).alias("nd"),
             F.min(id_col).alias("keeper"))
        .filter(F.col("nd") > 1)
    )
    removed = (
        grams.join(dup, "digest")  # AQE picks broadcast when dup is small
        .filter(F.col(id_col) != F.col("keeper"))
        .select(id_col, F.col("pos").alias("s"),
                (F.col("pos") + k - 1).alias("e"))
    )
    # merge overlapping [s, e] spans per doc: new span when s exceeds the
    # running max of previous ends
    w = Window.partitionBy(id_col).orderBy("s")
    spans = (
        removed.withColumn(
            "prev_max_e",
            F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        )
        .withColumn(
            "new_span",
            F.when(F.col("prev_max_e").isNull()
                   | (F.col("s") > F.col("prev_max_e")), 1).otherwise(0),
        )
        .withColumn("span_id", F.sum("new_span").over(
            w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(id_col, "span_id")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    # covered token positions → anti-join survivors → reassemble in order
    covered = spans.select(
        id_col, F.explode(F.sequence("s", "e")).alias("pos"))
    stream = toks.select(
        id_col, "n_tokens",
        F.posexplode(
            F.transform(F.col("toks"),
                        lambda t, i: F.struct((i + 1).alias("pos"),
                                              t.alias("tok")))
        ).alias("_", "pt"),
    ).select(id_col, "n_tokens", F.col("pt.pos").alias("pos"),
             F.col("pt.tok").alias("tok"))
    kept = stream.join(covered, [id_col, "pos"], "left_anti")
    agg = (
        kept.groupBy(id_col, "n_tokens")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda st: st["tok"],
                ),
            ).alias("clean_text"),
            F.count("*").alias("n_kept"),
        )
        .select(
            id_col, "clean_text",
            F.col("n_tokens").cast("int").alias("n_tokens"),
            (F.col("n_tokens") - F.col("n_kept")).cast("int")
            .alias("n_removed"),
        )
    )
    # totality: a fully-duplicated (or empty) document has no surviving
    # tokens and would vanish from the groupBy — keep its accounting row
    # ('', n_tokens, n_removed=n_tokens) so the cleaned corpus never
    # silently loses documents
    base = toks.select(id_col, F.col("n_tokens").cast("int")
                       .alias("all_tokens"))
    return base.join(agg, id_col, "left").select(
        id_col,
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        F.coalesce("n_tokens", F.col("all_tokens")).alias("n_tokens"),
        F.coalesce("n_removed", F.col("all_tokens")).alias("n_removed"),
    )


def dsir_weights(source: DataFrame, target: DataFrame, dim: int = 1024,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """DSIR (Data Selection via Importance Resampling, Xie et al. 2023):
    per-document log importance weight log p_target(x) − log p_source(x)
    under hashed-unigram bag-of-words LMs, plus a deterministic keep flag
    at log_weight > 0 (importance ratio > 1, i.e. more target-like than
    source-like — the reproducible analog of the paper's
    weight-proportional Gumbel resampling; callers holding an RNG can
    sample from the returned weights instead).

    Plan shape: one token explode per corpus feeding a dim-sized
    (bucket → count) aggregate — two tiny tables that BROADCAST into the
    per-document scoring join; no global window or single-partition
    stage anywhere (a top-fraction variant would need a corpus-wide
    rank — deliberately not shipped). Laplace (+1) smoothing keeps
    unseen buckets finite.

    Returns (id, n_tokens, log_weight, keep)."""
    def buckets(df: DataFrame):
        toks = F.filter(
            tokens(F.lower(F.col(text_col))),
            lambda t: t != "")
        return df.select(
            F.col(id_col),
            F.explode(toks).alias("tok"),
        ).select(
            id_col,
            (F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10)
             .cast("long") % dim).alias("bucket"),
        )

    def lm(bucketed: DataFrame, name: str):
        # totals stay IN the lazy plan (1-row agg over the dim-sized
        # counts table, broadcast-crossed back in) — an eager
        # bucketed.count() here ran the full tokenize+explode lineage as
        # an extra job per corpus at plan-BUILD time, three corpus
        # passes where one plan suffices (the unigram_logprob shape)
        counts = bucketed.groupBy("bucket").agg(F.count("*").alias("c"))
        total = counts.agg(F.sum("c").cast("long").alias(f"_tot_{name}"))
        lp = counts.crossJoin(F.broadcast(total)).select(
            "bucket",
            F.log((F.col("c") + 1.0)
                  / (F.col(f"_tot_{name}") + dim)).alias(name),
        )
        unseen = total.select(
            F.log(F.lit(1.0) / (F.col(f"_tot_{name}") + dim))
            .alias(f"unseen_{name}"))
        return lp, unseen

    src_b = buckets(source)
    tgt_b = buckets(target)
    p_s, u_s = lm(src_b, "lp_s")
    p_t, u_t = lm(tgt_b, "lp_t")
    return (
        src_b.join(F.broadcast(p_t), "bucket", "left")
        .join(F.broadcast(p_s), "bucket", "left")
        .crossJoin(F.broadcast(u_t))
        .crossJoin(F.broadcast(u_s))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("int").alias("n_tokens"),
            F.round(
                F.sum(F.coalesce(F.col("lp_t"), F.col("unseen_lp_t"))
                      - F.coalesce(F.col("lp_s"), F.col("unseen_lp_s"))),
                6,
            ).alias("log_weight"),
        )
        .select(
            id_col, "n_tokens", "log_weight",
            (F.col("log_weight") > 0).cast("int").alias("keep"),
        )
    )


def dsir_weights_total(source: DataFrame, target: DataFrame,
                       dim: int = 1024, text_col: str = "text",
                       id_col: str = "doc_id") -> DataFrame:
    """:func:`dsir_weights` with the totality contract of the other
    curation operators: token-less source documents (which have no bucket
    rows and vanish from the grouped weights) come back with n_tokens=0,
    log_weight=0.0 and keep=0 instead of silently disappearing from a
    downstream join."""
    w = dsir_weights(source, target, dim, text_col, id_col)
    return (
        source.select(id_col).join(w, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0).cast("int"))
            .alias("n_tokens"),
            F.coalesce(F.col("log_weight"), F.lit(0.0)).alias("log_weight"),
            F.coalesce(F.col("keep"), F.lit(0).cast("int")).alias("keep"),
        )
    )


def mixture_plan(docs: DataFrame, targets: dict[str, float],
                 text_col: str = "text",
                 source_col: str = "source") -> DataFrame:
    """Per-source sampling plan realizing a target token mixture (the
    Pile / DoReMi data-mixing step: "the training corpus should be w_s
    web, w_s' code, ..." given unequal availability).

    Given available whitespace-token counts T_s per source and target
    shares w_s (normalized over ``targets``' keys), the largest corpus
    achievable WITHOUT oversampling any source is N = min_s(T_s / w_s);
    source s then keeps ``keep_fraction = w_s·N / T_s`` of its tokens
    (equality for the binding source, < 1 for the rest). Applying the
    plan is :func:`stratified_sample` with these fractions.

    Plan shape at 100 TB: one partial-agg groupBy(source) over the corpus
    (sum of a per-row token count), a broadcast join against the literal
    target table, and a one-row global min attached back as a scalar —
    the only data-sized cost is the single corpus scan.

    Output: (source, tokens_avail, target_share, keep_fraction,
    tokens_planned), one row per targeted source.
    """
    spark = docs.sparkSession
    total_w = float(sum(targets.values()))
    if not targets or total_w <= 0:
        raise ValueError(
            "mixture_plan targets must carry positive total weight "
            f"(got {targets!r})")
    tgt = spark.createDataFrame(
        [(s, float(w) / total_w) for s, w in sorted(targets.items())],
        f"{source_col} string, target_share double",
    )
    tok = (
        docs.join(F.broadcast(tgt.select(source_col)), source_col, "left_semi")
        .groupBy(source_col)
        .agg(F.sum(token_count(F.col(text_col))).alias("tokens_avail"))
    )
    # LEFT join from the target table: a targeted source absent from the
    # corpus (or typo'd) must appear with tokens_avail=0 AND drive nmax
    # to 0 — silently excluding it would report a plan that violates the
    # requested mixture while claiming one row per targeted source
    per_src = tgt.join(tok, source_col, "left").withColumn(
        "tokens_avail", F.coalesce("tokens_avail", F.lit(0)))
    nmax = per_src.agg(
        F.min(F.col("tokens_avail") / F.col("target_share")).alias("nmax"))
    planned = F.col("target_share") * F.col("nmax")
    return (
        per_src.crossJoin(F.broadcast(nmax))  # one-row scalar attach
        .select(
            F.col(source_col).alias("source"),
            F.col("tokens_avail").cast("long").alias("tokens_avail"),
            F.round("target_share", 6).alias("target_share"),
            # a zero-token source keeps "all of nothing" (1.0), matching
            # temperature_mixture's least()-null behavior, instead of a
            # NULL that breaks downstream stratified_sample fractions
            F.when(F.col("tokens_avail") == 0, F.lit(1.0)).otherwise(
                F.round(planned / F.col("tokens_avail"), 6)
            ).alias("keep_fraction"),
            # nudge before floor: the binding source lands share*nmax
            # on an exact integer where fp noise flips floor between
            # engines. The absolute 1e-6 covers small products; the
            # relative 2^-48 (≈16 ulp of slack) survives double rounding
            # at any magnitude and stays below the next integer through
            # ~2.8e14; past that the least() clamp — the actual
            # "never oversample any source" guarantee — caps the
            # binding source at tokens_avail exactly
            F.least(
                F.floor(planned * (1.0 + 2.0 ** -48) + F.lit(1e-6)),
                F.col("tokens_avail"),
            ).cast("long").alias("tokens_planned"),
        )
    )


def c4_kept_lines(text_col: Column) -> Column:
    """C4 line-level cleaning (Raffel et al. 2020 §2.2, the c4.en recipe):
    keep a line only if it (a) ends in a terminal punctuation mark
    (``. ! ? "``), (b) has at least 3 words, and (c) does not contain the
    word "javascript" (boilerplate cookie/JS banners). Pure per-row JVM
    array work — splits on newline, filters with a higher-order lambda,
    zero shuffle. Returns the kept-lines array (trimmed)."""
    lines = F.transform(F.split(text_col, "\n"), lambda l: F.trim(l))
    return F.filter(
        lines,
        lambda t: t.rlike('[.!?"]$')
        & (F.size(F.split(t, r"\s+")) >= 3)
        & ~F.lower(t).contains("javascript"),
    )


def c4_page_keep(text_col: Column, clean_col: Column,
                 min_sentences: int = 5) -> Column:
    """C4 page-level filters: drop pages containing a curly bracket
    (leaked code/templates), the phrase "lorem ipsum", or fewer than
    ``min_sentences`` sentences after line cleaning (sentences counted as
    terminal-punctuation marks in the kept text). Per-row, zero shuffle."""
    low = F.lower(text_col)
    n_sent = F.regexp_count(clean_col, F.lit(r"[.!?]"))
    return (
        ~low.contains("{")
        & ~low.contains("}")
        & ~low.contains("lorem ipsum")
        & (n_sent >= min_sentences)
    )


def temperature_mixture(docs: DataFrame, alpha: float = 0.3,
                        text_col: str = "text",
                        source_col: str = "source") -> DataFrame:
    """Temperature-based source mixing (the mC4/XLM-R multilingual
    sampling rule): target share p_s ∝ T_s^alpha with alpha < 1
    upweighting low-resource sources — the implicit-targets twin of
    :func:`mixture_plan` (which takes explicit shares).

    Same scale shape: one corpus scan into a partial-agg
    groupBy(source), a one-row Z = Σ T_s^alpha normalizer and a one-row
    max-feasible-corpus min, each attached back as broadcast scalars.
    keep_fraction = p_s·N / T_s with N = min_s(T_s / p_s), so no source
    oversamples; applying the plan is :func:`stratified_sample`.

    Output: (source, tokens_avail, target_share, keep_fraction,
    tokens_planned), one row per source.
    """
    tok = docs.groupBy(source_col).agg(
        F.sum(token_count(F.col(text_col))).alias("tokens_avail"))
    z = tok.agg(F.sum(F.pow(F.col("tokens_avail").cast("double"), alpha))
                .alias("z"))
    per = tok.crossJoin(F.broadcast(z)).select(
        source_col, "tokens_avail",
        (F.pow(F.col("tokens_avail").cast("double"), alpha) / F.col("z"))
        .alias("share"),
    )
    nmax = per.agg(F.min(F.col("tokens_avail") / F.col("share")).alias("nmax"))
    return (
        per.crossJoin(F.broadcast(nmax))
        .select(
            F.col(source_col).alias("source"),
            F.col("tokens_avail").cast("long").alias("tokens_avail"),
            F.round("share", 6).alias("target_share"),
            F.round(F.least(
                F.col("share") * F.col("nmax") / F.col("tokens_avail"),
                F.lit(1.0)), 6).alias("keep_fraction"),
            # nudge + clamp, same rationale as mixture_plan: 2^-48
            # relative slack beats libm pow noise at every magnitude
            # without crossing the next integer through ~2.8e14, and the
            # least() clamp enforces no-oversampling outright
            F.least(
                F.floor(F.col("share") * F.col("nmax") * (1.0 + 2.0 ** -48)
                        + F.lit(1e-6)),
                F.col("tokens_avail").cast("bigint"),
            ).cast("long").alias("tokens_planned"),
        )
    )
