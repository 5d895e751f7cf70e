"""Deduplication operators for training-data curation at corpus scale.

Spark-first designs with their 100 TB rationale:

- **exact_dedup** — hash-groupBy on a fingerprint; one shuffle on a short
  key, AQE handles skew. Never a pairwise comparison.
- **shingles / minhash** — k-grams come from zipped shifted slices of
  the token array, linear in document length; shingling EXPLODES then
  aggregates map-side; the minhash signature is K independent mins
  computed in one groupBy (partial aggregation makes the shuffle carry
  only K longs per doc, not the shingle stream).
- **LSH banding** — candidates group by band bucket: the only pairwise
  work happens inside a capped bucket (:func:`cap_buckets`,
  :func:`_bucket_pairs` — one exchange on the bucket key, no self-join),
  and :func:`bucket_overflow` counts what every family's cap drops.
  Scales as sum(bucket²) instead of n².
- **simhash** — token hashes built JVM-side per row, the bit vote one
  row-local numpy pass behind a scalar Arrow UDF (no shuffle); Hamming-
  near pairs come from the same bucket pair step, keyed on simhash
  chunks.
- **embedding near-dup** — cosine over an LSH/bucketed candidate set at
  scale (see similarity.py); the sf-size oracle variant is the n² join.

Hash family: md5 (hex) so the DuckDB oracle reproduces every signature
bit-for-bit — ``conv(substr(md5(x),1,15),16,10)`` yields the same 60-bit
integer in Spark and DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from docling_spark.operators.textstats import bind, kgrams, norm_text


def hash60(col) -> "F.Column":
    """60-bit integer hash from md5 hex — identical in Spark and DuckDB."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def _bloom_positions(fp: "F.Column", m_bits: int, k: int) -> list:
    """k deterministic bit positions for a fingerprint — md5 hash family
    seeded per probe, so Spark and any oracle derive identical bits."""
    return [
        F.pmod(hash60(F.concat(F.lit(f"bloom:{i}:"), fp)), F.lit(m_bits))
        for i in range(k)
    ]


def bloom_build(docs: DataFrame, m_bits: int = 1 << 16, k: int = 4,
                text_col: str = "text") -> DataFrame:
    """Corpus Bloom filter as a (word_idx, bits) bitmap table — the
    Dolma-style probabilistic dedup index: O(m) bits total regardless of
    corpus size, so a 100 TB corpus's membership structure fits in
    executor memory as a broadcast (m = 2^32 bits is 512 MB; the sf
    default 2^16 keeps oracles cheap).

    Spark-first: each document's normalized-text fingerprint sets k
    md5-derived bit positions; positions group into 32-bit words and a
    single groupBy(word_idx).agg(bit_or(mask)) builds the bitmap — one
    shuffle of (int, long) pairs with map-side partial OR, no driver
    state. Unset words are absent (sparse).
    """
    fp = F.md5(norm_text(F.col(text_col)))
    pos = docs.select(
        F.explode(F.array(*_bloom_positions(fp, m_bits, k))).alias("pos")
    )
    # 32-bit words: bit 63 of a 64-bit word would need 1<<63, which
    # overflows signed arithmetic in ANSI engines (DuckDB raises); 32-bit
    # masks stay comfortably positive in a long on both sides
    return (
        pos.select(
            (F.col("pos") / 32).cast("int").alias("word_idx"),
            # expr form: the DataFrame shiftleft() only takes a literal
            # bit count; the SQL function accepts a column
            F.expr("shiftleft(1L, int(pmod(pos, 32)))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_check(batch: DataFrame, bloom: DataFrame,
                m_bits: int = 1 << 16, k: int = 4,
                text_col: str = "text") -> DataFrame:
    """Membership probe against a :func:`bloom_build` bitmap: a document
    is ``maybe_dup`` iff ALL k of its bits are set (false positives at
    the classic (1-e^{-kn/m})^k rate, never false negatives — exactly
    the asymmetry incremental ingestion wants: 'definitely new' is
    trustworthy, 'maybe dup' goes to the exact dedup path).

    The probe is an equi-join of the batch's k (word_idx, mask) probes
    against the (≤ m/32)-row bitmap — broadcast by construction.
    """
    fp = F.md5(norm_text(F.col(text_col)))
    probes = batch.select(
        "doc_id",
        F.posexplode(F.array(*_bloom_positions(fp, m_bits, k)))
        .alias("probe_i", "pos"),
    ).select(
        "doc_id", "probe_i",
        (F.col("pos") / 32).cast("int").alias("word_idx"),
        F.expr("shiftleft(1L, int(pmod(pos, 32)))").alias("mask"),
    )
    hit = F.when(
        F.col("bits").isNotNull()
        & (F.col("bits").bitwiseAND(F.col("mask")) == F.col("mask")),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        probes.join(F.broadcast(bloom), "word_idx", "left")
        .select("doc_id", hit.alias("hit"))
        .groupBy("doc_id")
        .agg((F.sum("hit") == F.lit(k)).alias("maybe_dup"))
    )


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep the smallest doc_id per normalized-text fingerprint.
    One shuffle on the 32-char fingerprint; map-side partial min."""
    return (
        docs.select(F.col("doc_id"), F.md5(norm_text(F.col(text_col))).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dupes"))
    )


def _shingle_array(text_col, k: int) -> "F.Column":
    """Distinct k-token shingle hashes of one text column — the SINGLE
    definition shared by the batch explode path (:func:`shingles`) and the
    streaming per-row path (:func:`minhash_signature_array`), so the two
    engines' signatures can never drift (the bit-identical parity contract
    is pinned by tests, but one definition makes drift impossible).

    Linear in document length: the k-grams come from
    ``textstats.kgrams`` (shifted slices zipped once), so the document is
    tokenized a fixed number of times, not once per shingle. A text of
    fewer than ``k`` tokens hashes whole, as one shingle."""
    toks = F.split(norm_text(text_col), " ")
    sh = F.when(
        F.size(toks) >= k, F.transform(kgrams(toks, k), hash60),
    ).otherwise(F.array(hash60(F.concat_ws(" ", toks))))
    return F.array_distinct(sh)


def shingles(docs: DataFrame, text_col: str = "text", k: int = 3) -> DataFrame:
    """Distinct k-token shingles per document, 60-bit-hashed:
    (doc_id, shingle long).

    Built with JVM-side array ops (transform over the token k-grams) —
    no Python worker in the path. Shingles leave this operator as hashed
    longs, not strings: every downstream consumer (minhash agg, shingle
    equi-join, per-doc set intersect) then shuffles/compares 8-byte ints
    instead of ~20-byte strings, and the seeded minhash family needs ONE
    md5 per shingle instead of one per hash function. At 60 bits a corpus
    needs ~10^9 distinct shingles before a collision is even likely
    (birthday bound), and a collision only nudges a Jaccard estimate.
    """
    return docs.select(
        "doc_id",
        F.explode(_shingle_array(F.col(text_col), k)).alias("shingle"),
    )


# Seeded minhash family over the 60-bit shingle hash: universal-hash mixing
# mh_j = (A_j * (h mod 2^30) + B_j) mod P. P is the Mersenne prime 2^31-1;
# A_j odd multiples of the Knuth constant mod P. Products stay < 2^61, so
# the arithmetic is exact in a 64-bit long on BOTH engines (Spark long,
# DuckDB bigint) — the DuckDB oracle reproduces every signature bit-for-bit.
MH_P = 2_147_483_647
MH_H_MOD = 1 << 30


def mh_consts(num_hashes: int) -> list[tuple[int, int]]:
    return [
        ((2 * j + 1) * 2_654_435_761 % MH_P, (j * 1_013_904_223 + 12_345) % MH_P)
        for j in range(num_hashes)
    ]


def minhash_signatures(
    sh: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """(doc_id, mh_0..mh_{K-1}): min over shingles of the seeded hash
    family above. One groupBy; partial aggregation keeps the shuffle at
    K longs per doc. The K hashes are arithmetic mixes of the single
    60-bit shingle hash — no per-function md5."""
    h30 = F.pmod(F.col("shingle"), F.lit(MH_H_MOD))
    aggs = [
        F.min(F.pmod(F.lit(a) * h30 + F.lit(b), F.lit(MH_P))).alias(f"mh_{j}")
        for j, (a, b) in enumerate(mh_consts(num_hashes))
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def band_structs(num_hashes: int, band_size: int, hash_at) -> "F.Column":
    """The LSH band array expression — ONE definition of the
    (band_id, bucket) key (md5 of the comma-joined band hashes) shared by
    the batch index (:func:`band_signatures`) and the streaming twin
    (streaming/stateful.near_dedup_stream), so bucket keys can never
    silently stop matching a persisted index. ``hash_at(j)`` returns the
    Column holding the j-th signature hash."""
    if num_hashes % band_size != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by band_size "
            f"({band_size}) — trailing hashes would be paid for in the "
            "signatures but silently never banded, lowering recall")
    n_bands = num_hashes // band_size
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            hash_at(b * band_size + i).cast("string")
                            for i in range(band_size)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )


def band_signatures(
    sigs: DataFrame, num_hashes: int = 8, band_size: int = 2
) -> DataFrame:
    """(doc_id, band_id, bucket): the LSH band rows of a signature table —
    rows of ``band_size`` consecutive hashes md5'd into a bucket key.
    This IS the persistable LSH index shape: band it once when a corpus
    is ingested, store it, and every later batch joins against it."""
    bands = band_structs(num_hashes, band_size,
                         lambda j: F.col(f"mh_{j}"))
    return sigs.select("doc_id", F.explode(bands).alias("bd")).select(
        "doc_id", F.col("bd.band_id").alias("band_id"), F.col("bd.bucket").alias("bucket")
    )


def minhash_signature_array(
    text_col, num_hashes: int = 8, k: int = 3
) -> "F.Column":
    """Row-local minhash signature as one ``array<long>`` column — the
    shuffle-free twin of :func:`shingles` + :func:`minhash_signatures`
    (same hash family, bit-identical values, asserted by test).

    Why it exists: Structured Streaming cannot run the explode+groupBy
    signature aggregation upstream of a stateful operator (a streaming agg
    before ``applyInPandasWithState`` is rejected / needs its own state).
    Computing the signature per ROW with JVM higher-order functions
    (transform + array_min over the shingle array) keeps the streaming
    plan a pure projection. Batch keeps the explode form, whose partial
    aggregation is friendlier when one doc is huge.

    The shingle array is linear in document length (:func:`_shingle_array`)
    and built once per row: the K ``array_min(transform(sh, …))``, one per
    hash function, read it through ``textstats.bind``.
    """
    def sign(sh):
        return F.array(
            *[
                F.array_min(
                    F.transform(
                        sh,
                        lambda s: F.pmod(
                            F.lit(a) * F.pmod(s, F.lit(MH_H_MOD)) + F.lit(b),
                            F.lit(MH_P),
                        ),
                    )
                )
                for (a, b) in mh_consts(num_hashes)
            ]
        )
    return bind(_shingle_array(text_col, k), sign)


def cap_buckets(
    banded: DataFrame, max_bucket: int | None,
    keys: tuple[str, ...] = ("band_id", "bucket"), id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic per-bucket representative cap, shared by every LSH
    family (minhash bands, simhash chunks, embedding sign-LSH): keep the
    ``max_bucket`` smallest ``id_col`` values of each ``keys`` bucket,
    drop the rest. ``None`` leaves ``banded`` uncapped (sf-size oracles).

    Why: every pair step is m² in the bucket population. A
    template/boilerplate-heavy corpus at 100 TB lands millions of
    near-identical docs in one bucket → m² pairs in one reducer — and
    for embeddings, m identical vectors collide in EVERY band no matter
    how many planes are used. Capping bounds every bucket's pair count at
    max_bucket² regardless of corpus shape — the batch analog of the
    streaming path's 64-signature state bound (streaming/stateful.py).
    Run :func:`exact_dedup` FIRST so byte-identical texts (the usual
    mega-bucket cause) are already gone; what the cap then drops is
    near-dup recall among 65th-and-later members of a still-hot bucket,
    which :func:`bucket_overflow` (behind :func:`lsh_bucket_overflow`,
    :func:`simhash_chunk_overflow` and
    ``similarity.embedding_bucket_overflow``) surfaces rather than hides.

    A ``row_number`` window filtered to ``<= max_bucket``: Spark adds a
    map-side ``WindowGroupLimit`` before the exchange, so a hot bucket is
    cut before it is shuffled, and the window's hash partitioning on
    ``keys`` is the one the grouped pair step that follows needs, so the
    cap adds no shuffle of its own.
    """
    from pyspark.sql import Window

    if max_bucket is None:
        return banded
    w = Window.partitionBy(*keys).orderBy(id_col)
    return (
        banded.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_bucket)
        .drop("_rn")
    )


def _bucket_pairs(
    banded: DataFrame, keys: tuple[str, ...], id_col: str,
    max_bucket: int | None, carry: tuple[str, ...] = (),
) -> DataFrame:
    """``(doc_a, doc_b, *{c}_a, *{c}_b)``: every ``doc_a < doc_b`` pair of
    ``id_col`` values sharing a ``keys`` bucket of ``banded`` after the
    :func:`cap_buckets` cap, with each side's ``carry`` columns. Not
    distinct: a pair sharing several buckets comes once per bucket.

    The one pair step of the minhash and simhash families: the capped
    rows group by ``keys`` into one id-sorted array per bucket, reusing
    the cap window's hash partitioning (one exchange, no self-join), and
    each bucket of two or more emits its ``i < j`` pairs with one
    ``flatten(transform(sequence …, slice …))``. The strict ``<`` on ids
    means a null id never pairs and a duplicated id never pairs with
    itself. Bucket keys are never null here (md5 hex, masked long), so
    grouping sees the same buckets an equi-join on ``keys`` would.
    """
    m = F.col("_m")
    n = F.size(m)
    pairs = F.flatten(F.transform(
        F.sequence(F.lit(1), n - 1),
        lambda i: F.transform(
            F.slice(m, i + 1, n - i),
            lambda b: F.struct(F.element_at(m, i).alias("a"), b.alias("b")),
        ),
    ))
    return (
        cap_buckets(banded, max_bucket, keys, id_col)
        .groupBy(*keys)
        .agg(F.array_sort(F.collect_list(F.struct(id_col, *carry)))
             .alias("_m"))
        .filter(n >= 2)
        .select(F.inline(pairs))
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
              for s in ("a", "b") for c in carry],
        )
    )


def bucket_overflow(banded: DataFrame, keys: tuple[str, ...],
                    max_bucket: int) -> DataFrame:
    """Visibility companion to :func:`cap_buckets` for every LSH family:
    one row per ``keys`` bucket of ``banded`` whose population exceeds
    ``max_bucket`` — (*keys, n_docs, n_dropped). Emit/monitor this beside
    any capped run so dropped near-dup recall is a measured number, not a
    silent loss. One groupBy with a partial count; no id is shuffled."""
    return (
        banded.groupBy(*keys)
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket)
        .withColumn("n_dropped", F.col("n_docs") - F.lit(max_bucket))
    )


def lsh_bucket_overflow(
    sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int = 64,
) -> DataFrame:
    """:func:`bucket_overflow` of the minhash bands: one row per (band_id,
    bucket) whose population exceeds ``max_bucket`` — (band_id, bucket,
    n_docs, n_dropped)."""
    return bucket_overflow(band_signatures(sigs, num_hashes, band_size),
                           ("band_id", "bucket"), max_bucket)


def lsh_candidate_pairs(
    sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Band the signature (rows of ``band_size`` hashes → md5 bucket key)
    and emit the distinct candidate pairs (a < b) that share a bucket.

    At scale this is the whole point: the grouping key is (band_id,
    bucket), so only docs agreeing on a band ever meet in the shuffle.
    ``max_bucket`` (default 64, matching the streaming twin's state bound)
    caps each bucket at its smallest-doc_id representatives before the
    grouped pair step (:func:`_bucket_pairs`) so one hot bucket can never
    cost m² — see :func:`cap_buckets`; pass ``None`` only for sf-size
    oracles. Pair :func:`lsh_bucket_overflow` to observe what a cap
    dropped.
    """
    return _bucket_pairs(band_signatures(sigs, num_hashes, band_size),
                         ("band_id", "bucket"), "doc_id",
                         max_bucket).distinct()


def minhash_jaccard_estimate(
    sigs: DataFrame, candidates: DataFrame, num_hashes: int = 8
) -> DataFrame:
    """Signature-agreement Jaccard estimator: est = (#matching mins)/K for
    each candidate pair — two doc_id equi-joins against the signature
    table, no shingle data touched. The cheap screen before exact
    ``jaccard_pairs`` at corpus scale."""
    cols = [f"mh_{j}" for j in range(num_hashes)]
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    *[F.col(c).alias(f"a_{c}") for c in cols])
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    *[F.col(c).alias(f"b_{c}") for c in cols])
    matches = sum(
        F.when(F.col(f"a_{c}") == F.col(f"b_{c}"), 1).otherwise(0)
        for c in cols
    )
    return (
        candidates.join(a, "doc_a").join(b, "doc_b")
        .select(
            "doc_a", "doc_b",
            F.round(matches / F.lit(float(num_hashes)), 6).alias("jaccard_est"),
        )
    )


def incremental_dedup(
    batch_sigs: DataFrame,
    index_sigs: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    threshold: float = 0.5,
    max_bucket: int | None = 64,
) -> DataFrame:
    """Verdict for every document of a NEW batch against a persisted
    corpus signature index — without touching corpus text.

    The production shape for continuous ingestion at 100 TB: the index is
    K longs per corpus document (the minhash signature table, written once
    when each earlier batch was accepted — ~64 bytes/doc, petabyte corpus →
    a few TB of index, partitionable like any table). The incoming batch
    alone is shingled and minhashed; the corpus is NEVER re-scanned.

    Plan shape: candidates come from a (band_id, bucket) hash equi-join of
    batch bands against index bands — only docs agreeing on a band ever
    meet in a shuffle — and the verdict screen is pure signature agreement
    (``#matching mins / K >= threshold``), so no shingle set is ever
    reassembled for a corpus doc. Batch-internal duplicates reuse the same
    batch banding through the grouped pair step of
    :func:`lsh_candidate_pairs` (the batch is the small side; at 100 TB
    scale the index side dwarfs it, and both steps stay keyed).

    Verdict per batch doc (single-hop, deterministic):

    - ``dup_corpus`` — some index candidate passes the screen;
      ``dup_of`` = smallest such corpus doc_id;
    - ``dup_batch`` — else, a passing batch-internal candidate with a
      smaller doc_id exists that is itself not dup_corpus;
      ``dup_of`` = smallest such;
    - ``new`` — else; ``dup_of`` = own doc_id (these rows are the index
      delta: their signatures join the index for the next batch).

    Single-hop keeps the op one fixed DAG (no iteration); full transitive
    clustering stays :func:`connected_components`' job.
    """
    cols = [f"mh_{j}" for j in range(num_hashes)]

    def _est(a_pref: str, b_pref: str):
        matches = sum(
            F.when(F.col(f"{a_pref}{c}") == F.col(f"{b_pref}{c}"), 1).otherwise(0)
            for c in cols
        )
        return matches / F.lit(float(num_hashes))

    bands_b = band_signatures(batch_sigs, num_hashes, band_size)
    # hot-bucket bound: capping the INDEX side alone bounds the candidate
    # join fanout at ≤ max_bucket per batch band row — the m² risk. The
    # batch side must stay UNCAPPED here: dropping a batch doc's band rows
    # removes it from candidacy entirely, and a false 'new' verdict
    # pollutes the index permanently (its signatures join the index per
    # the contract above). A capped index bucket can still cost verdict
    # recall for docs whose dups hide past the cap — that loss is visible
    # via lsh_bucket_overflow, and is recall-bounded, not correctness-
    # compounding like a polluted index.
    bands_i = cap_buckets(band_signatures(index_sigs, num_hashes, band_size),
                          max_bucket)

    # batch × index candidates → signature-agreement screen → best corpus hit
    cand_ci = (
        bands_b.alias("b")
        .join(
            bands_i.alias("i"),
            (F.col("b.band_id") == F.col("i.band_id"))
            & (F.col("b.bucket") == F.col("i.bucket")),
        )
        .select(F.col("b.doc_id").alias("bdoc"), F.col("i.doc_id").alias("cdoc"))
        .distinct()
    )
    sig_b = batch_sigs.select(
        F.col("doc_id").alias("bdoc"), *[F.col(c).alias(f"b_{c}") for c in cols]
    )
    sig_i = index_sigs.select(
        F.col("doc_id").alias("cdoc"), *[F.col(c).alias(f"i_{c}") for c in cols]
    )
    corpus_hit = (
        cand_ci.join(sig_b, "bdoc")
        .join(sig_i, "cdoc")
        .filter(_est("b_", "i_") >= threshold)
        .groupBy("bdoc")
        .agg(F.min("cdoc").alias("corpus_dup_of"))
    )

    # batch-internal passing pairs (a < b), a not itself dup_corpus
    pass_bb = (
        _bucket_pairs(bands_b, ("band_id", "bucket"), "doc_id", max_bucket)
        .distinct()
        .join(sig_b.withColumnRenamed("bdoc", "doc_a")
              .select("doc_a", *[F.col(f"b_{c}").alias(f"a_{c}") for c in cols]),
              "doc_a")
        .join(sig_b.withColumnRenamed("bdoc", "doc_b"), "doc_b")
        .filter(_est("a_", "b_") >= threshold)
        .select("doc_a", "doc_b")
    )
    batch_hit = (
        pass_bb.join(
            corpus_hit.select(F.col("bdoc").alias("doc_a")), "doc_a", "left_anti"
        )
        .groupBy(F.col("doc_b").alias("bdoc"))
        .agg(F.min("doc_a").alias("batch_dup_of"))
    )

    out = (
        batch_sigs.select(F.col("doc_id"))
        .join(corpus_hit, batch_sigs.doc_id == corpus_hit.bdoc, "left")
        .drop("bdoc")
        .join(batch_hit, batch_sigs.doc_id == batch_hit.bdoc, "left")
        .drop("bdoc")
    )
    return out.select(
        "doc_id",
        F.when(F.col("corpus_dup_of").isNotNull(), F.lit("dup_corpus"))
        .when(F.col("batch_dup_of").isNotNull(), F.lit("dup_batch"))
        .otherwise(F.lit("new"))
        .alias("verdict"),
        F.coalesce(F.col("corpus_dup_of"), F.col("batch_dup_of"), F.col("doc_id"))
        .alias("dup_of"),
    )


def jaccard_pairs(
    sh: DataFrame, threshold: float = 0.5, candidates: DataFrame | None = None
) -> DataFrame:
    """Exact n-gram Jaccard over shingle sets: |A∩B| / (|A|+|B|-|A∩B|).

    With ``candidates`` given (LSH output), ALL work is confined to the
    candidate set: shingle streams are semi-joined down to candidate docs,
    per-doc shingle sets are assembled once (one groupBy), and the
    intersection is ``array_intersect`` per candidate pair — two doc_id
    equi-joins, zero pair enumeration. Cost is O(|candidates|·set_size),
    independent of how popular any single shingle is; this is what survives
    a corpus where "of the and" appears in every document.

    Without ``candidates`` the shingle equi-join enumerates all co-shingled
    pairs (oracle-friendly at sf sizes; the join is still on the shingle
    key, never a cross join — but a hot shingle shared by m docs costs
    m², so at scale always pass the LSH candidates).
    """
    if candidates is not None:
        in_play = (
            candidates.select(F.col("doc_a").alias("doc_id"))
            .unionByName(candidates.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sets = (
            sh.join(in_play, "doc_id", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("shset"))
        )
        return (
            candidates
            .join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("shset").alias("set_a")), "doc_a")
            .join(sets.select(F.col("doc_id").alias("doc_b"),
                              F.col("shset").alias("set_b")), "doc_b")
            .withColumn("inter", F.size(F.array_intersect("set_a", "set_b")))
            .withColumn(
                "_j",
                F.col("inter").cast("double")
                / (F.size("set_a") + F.size("set_b") - F.col("inter")),
            )
            # threshold on the UNROUNDED value (matching the oracle);
            # round only for output — rounding first admitted pairs up to
            # 5e-7 below threshold
            .filter(F.col("_j") >= threshold)
            .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
        )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("sz", "sz_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("sz", "sz_b"), "doc_b")
        .withColumn(
            "_j",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("_j") >= threshold)  # unrounded, see candidate path
        .select("doc_a", "doc_b", F.round("_j", 6).alias("jaccard"))
    )
    return out


def _release_local_checkpoint(df: DataFrame | None) -> None:
    """Free the cached blocks behind a localCheckpoint'd DataFrame.

    Neither ``df.unpersist()`` (cache-manager entries only) nor Python GC
    (ContextCleaner's periodic GC defaults to 30 min) releases them, so an
    iterative loop would pin one full table per round until the job ends.
    The checkpointed RDD hangs off the plan's LogicalRDD node; reaching it
    through py4j is internal API, hence the broad guard — on any mismatch
    we degrade to the old leak-until-GC behavior rather than fail."""
    if df is None:
        return
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def connected_components(
    pairs: DataFrame, max_iter: int = 20, strict: bool = True
) -> DataFrame:
    """Duplicate clusters = connected components over the near-dup pair
    graph (the distributed form of the reference's UnionFind grouping,
    layout_postprocessor.py:16-47) via min-label propagation PLUS pointer
    jumping: each round every node takes the min label in its
    neighborhood, then chases ``label(label)`` — the doubling step that
    makes convergence O(log diameter) instead of O(diameter), so a
    duplicate chain of 2^20 hops converges inside the default 20 rounds
    (r1 converged only chains ≤ max_iter and exited silently wrong
    beyond that).

    Iterations are whole-DataFrame joins (no driver-side graph). Each
    round materializes via localCheckpoint to cut the growing lineage —
    the standard Spark pattern for iterative algorithms.

    Input: (doc_a, doc_b) pairs. Output: (doc_id, component) for every
    node appearing in a pair, component = min doc_id of its cluster.
    Raises RuntimeError if the fixpoint is not reached in ``max_iter``
    rounds (``strict=False`` downgrades to a stderr warning).
    """
    nodes = (
        pairs.select(F.col("doc_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_b").alias("node")))
        .distinct()
    )
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = nodes.select("node", F.col("node").alias("label"))
    nodes_labels0 = labels  # round-0 table is not checkpointed
    changed = 1
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nlabel"))
        )
        prop = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label")))
                .alias("label"),
            )
        )
        # pointer jumping: label ← min(label, label(label)). label(label)
        # is never > label (a component-min candidate labels itself), so
        # this only accelerates; it is what turns linear chains into
        # O(log d) rounds.
        lut = prop.select(F.col("node").alias("lnode"),
                          F.col("label").alias("llabel"))
        new_labels = (
            prop.join(lut, prop.label == lut.lnode, "left")
            .select(
                "node",
                F.least(F.col("label"),
                        F.coalesce(F.col("llabel"), F.col("label")))
                .alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        # new_labels is materialized (eager checkpoint) and `changed` has
        # consumed the old table — release the previous round's blocks
        # now, or the loop pins one full label table per round
        if labels is not nodes_labels0:
            _release_local_checkpoint(labels)
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        msg = (f"connected_components did not converge in {max_iter} rounds; "
               "labels may split one component into several")
        if strict:
            raise RuntimeError(msg)
        import sys

        print(f"WARNING: {msg}", file=sys.stderr)
    out = labels.select(F.col("node").alias("doc_id"),
                        F.col("label").alias("component"))
    # edges are no longer needed once labels have converged; the returned
    # frame reads only the final label checkpoint
    _release_local_checkpoint(edges)
    return out


def simhash(docs: DataFrame, text_col: str = "text", bits: int = 60) -> DataFrame:
    """Per-document simhash: majority vote of token-hash bits, one
    signature per input row — (doc_id, simhash long).

    Tokens and their ``hash60`` stay JVM-side as one ``array<long>`` per
    row (``transform(array_distinct(split(norm_text)), hash60)``, the
    expression the DuckDB oracle mirrors); the vote is one scalar Arrow
    UDF over that array (``functions.sketch.simhash_vote``): bit ``b`` is
    set iff ``2·ones_b > n`` over the row's ``n`` distinct tokens. No
    shuffle and no aggregate, so the plan costs the same to build for
    any ``bits``. A row is signed on its own: a ``doc_id`` that appears
    on two input rows gets two signatures, not one merged vote.

    Default widened 32 → 60 in round 4 (the full hash60 width): wider
    signatures give :func:`simhash_near_pairs` 15-bit chunks instead of
    8-bit ones — 32768 distinct buckets per chunk instead of 256 — so
    random chunk collisions stop dominating pair volume on large corpora.
    ``bits`` beyond 60 would vote on constant-zero hash bits (every doc
    agrees), silently degenerating the chunks that cover them.
    """
    if not 1 <= bits <= 60:
        raise ValueError("bits must be in [1, 60] (hash60 yields 60 bits)")
    import pyarrow as pa
    from pyspark.sql.functions import arrow_udf

    from docling_spark.functions.sketch import simhash_vote

    def _vote(hashes):
        return simhash_vote(hashes, bits)

    # real (non-string) hints: `from __future__ import annotations` would
    # otherwise stringify them and break arrow_udf's type inference
    _vote.__annotations__ = {"hashes": pa.Array, "return": pa.Array}
    # coalesce: a NULL text must still yield a signature (NULL signs like
    # the empty document, the same totality exact_dedup and shingles
    # give it)
    hashes = F.transform(
        F.array_distinct(
            F.split(F.coalesce(norm_text(F.col(text_col)), F.lit("")), " ")),
        hash60,
    )
    return docs.select(
        "doc_id", arrow_udf(_vote, "long")(hashes).alias("simhash"))


def _simhash_banded(sim: DataFrame, bits: int, chunks: int) -> DataFrame:
    """One row per (doc, chunk_id, chunk-value) — the pigeonhole banding
    shared by the pair step and its overflow companion."""
    if chunks > bits:
        # chunk_bits would be 0 -> every chunk masks to 0 -> the
        # "bucketed" pair step silently degenerates to a full n² cross
        raise ValueError("chunks must be <= bits")
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    return sim.select(
        "doc_id", "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_id"),
                    F.shiftright(F.col("simhash"), c * chunk_bits)
                    .bitwiseAND(F.lit(mask)).alias("chunk"),
                )
                for c in range(chunks)
            ])
        ).alias("bd"),
    ).select("doc_id", "simhash", "bd.chunk_id", "bd.chunk")


def simhash_chunk_overflow(sim: DataFrame, bits: int = 60, chunks: int = 4,
                           max_bucket: int = 64) -> DataFrame:
    """:func:`bucket_overflow` of the simhash chunks: one row per
    (chunk_id, chunk) whose population exceeds ``max_bucket`` —
    (chunk_id, chunk, n_docs, n_dropped)."""
    return bucket_overflow(_simhash_banded(sim, bits, chunks),
                           ("chunk_id", "chunk"), max_bucket)


def simhash_near_pairs(sim: DataFrame, max_hamming: int = 3,
                       bits: int = 60, chunks: int = 4,
                       max_bucket: int | None = 64) -> DataFrame:
    """Hamming-near pairs via bit_count(xor), pre-bucketed on simhash
    chunks (pigeonhole: < ``chunks`` differing bits → at least one chunk
    equal), keeping it out of n² land. Requires ``max_hamming < chunks``
    for exactness.

    The default signature is the full 60-bit hash60 width, so each of the
    4 chunks spans 15 bits (32768 buckets; random collisions do not scale
    as m²/256 the way a 32/4 split would). Candidates come from the
    grouped pair step (:func:`_bucket_pairs`) carrying each side's
    simhash; ``max_bucket`` (default 64, matching :func:`cap_buckets`)
    keeps each (chunk_id, chunk) at its smallest-doc_id representatives
    first, so a near-dup-heavy bucket — the population pigeonholing
    cannot spread — can never cost m² pairs. Pass ``None`` only for
    sf-size oracles; pair with :func:`simhash_chunk_overflow` to observe
    what a cap dropped.
    """
    if max_hamming >= chunks:
        raise ValueError("pigeonhole exactness needs max_hamming < chunks")
    return (
        _bucket_pairs(_simhash_banded(sim, bits, chunks),
                      ("chunk_id", "chunk"), "doc_id", max_bucket,
                      ("simhash",))
        .select("doc_a", "doc_b",
                F.bit_count(
                    F.col("simhash_a").bitwiseXOR(F.col("simhash_b"))
                ).alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def keep_canonical(docs: DataFrame, components: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """Final verdict of the dedup pipeline: every document mapped to its
    duplicate-cluster canonical (the smallest doc id in its connected
    component; singletons are their own canonical).

    One left equi-join of the corpus against the (much smaller)
    component table — broadcast when it fits, hash otherwise. Returns
    (doc_id, canonical_id, is_canonical int).
    """
    out = docs.select(F.col(id_col)).join(
        components.select(F.col(id_col), F.col("component")),
        id_col, "left",
    )
    canonical = F.coalesce(F.col("component"), F.col(id_col))
    return out.select(
        F.col(id_col),
        canonical.alias("canonical_id"),
        (F.col(id_col) == canonical).cast("int").alias("is_canonical"),
    )


def edit_distance_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_dist: int | None = None,
) -> DataFrame:
    """Candidate-confined Levenshtein refinement: exact character-level
    edit distance over an LSH/SimHash candidate set — the standard second
    stage when shingle Jaccard is too coarse (catches small in-place edits
    that shift every shingle).

    Never call without ``candidates``: Levenshtein is O(len²) per pair and
    pair-enumeration is O(n²) — the candidate gate is what keeps this
    linear in corpus size. Two doc-id equi-joins attach the normalized
    texts (whitespace-collapsed lowercase, the exact_dedup fingerprint
    normalization); ``F.levenshtein`` runs JVM-side per pair.

    Output: (doc_a, doc_b, edit_dist, edit_sim) where edit_sim =
    1 - dist / max(len_a, len_b) — 1.0 for identical, 0.0 for disjoint.
    """
    # the ONE canonical normalization (textstats.norm_text) — the same
    # expression exact_dedup fingerprints with, imported rather than
    # re-inlined so the two can never drift
    texts = docs.select(F.col(id_col), norm_text(F.col(text_col)).alias("__txt"))
    # threshold-bounded kernel when a cap is given: F.levenshtein's
    # third argument (Spark 3.5+) banded-early-exits the O(len^2) DP to
    # O(len*max_dist) and returns -1 above the cap
    lev = (F.levenshtein("__txt_a", "__txt_b", max_dist)
           if max_dist is not None else
           F.levenshtein("__txt_a", "__txt_b"))
    out = (
        candidates
        .join(texts.select(F.col(id_col).alias("doc_a"),
                           F.col("__txt").alias("__txt_a")), "doc_a")
        .join(texts.select(F.col(id_col).alias("doc_b"),
                           F.col("__txt").alias("__txt_b")), "doc_b")
        .withColumn("edit_dist", lev)
        .withColumn(
            "edit_sim",
            F.round(
                1.0
                - F.col("edit_dist")
                / F.greatest(F.length("__txt_a"), F.length("__txt_b"), F.lit(1)),
                6,
            ),
        )
    )
    if max_dist is not None:
        # thresholded levenshtein reports -1 above the cap
        out = out.filter((F.col("edit_dist") >= 0)
                         & (F.col("edit_dist") <= max_dist))
    return out.select("doc_a", "doc_b", "edit_dist", "edit_sim")
