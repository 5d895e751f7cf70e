"""Similarity search over embedding columns (array<float>).

- **brute-force cosine top-k** — the correctness baseline: one narrow
  projection computing the score with JVM-side higher-order functions
  (zip_with + aggregate — no Python), then a top-k. At sf sizes this is
  also the oracle path (DuckDB list_cosine_similarity).
- **cosine near-dup pairs** — all pairs above a threshold; at sf sizes an
  n² block join, at scale gated behind LSH candidates.
- **sign-LSH buckets (scale path)** — random-hyperplane signs derived from
  the md5 hash family (deterministic, no RNG state): each vector gets a
  ``n_planes``-bit bucket; ANN probes only its bucket. Recall is validated
  against brute force in tests.
- **per-bucket pair scoring** — the LSH pair families
  (:func:`cosine_pairs_lsh`, :func:`ann_bucket_pairs`) cap each bucket
  with ``dedup.cap_buckets`` and hand every capped bucket to Python once,
  as one Arrow table of its ids and vectors, which scores all of its
  pairs in numpy (:func:`_bucket_cosine_pairs`). One exchange on the
  bucket key, no join, and no vector crosses the Arrow boundary more than
  once per (vector, bucket).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot_py(a, b) -> float:
    """Driver-side dot product shared by the tiny codebook/plane rankings
    (one definition so guards like the zero-norm fallback can't drift
    between call sites)."""
    return sum(x * y for x, y in zip(a, b))


def _norm_py(a) -> float:
    return sum(x * x for x in a) ** 0.5


def cosine(a, b):
    # try_divide: a zero-norm embedding (padding / missing vector) must
    # yield NULL — a plain division aborts the whole job under Spark 4's
    # default ANSI mode with DIVIDE_BY_ZERO. NULL scores then drop out of
    # threshold filters and rank last, matching cosine_fast's NA path.
    return F.try_divide(_dot(a, b), _norm(a) * _norm(b))


def cosine_fast(a, b):
    """Arrow-batched numpy cosine for PAIR-scoring hot paths.

    Catalyst higher-order functions (aggregate/zip_with) run interpreted —
    ~10x slower per evaluation than this vectorized kernel once the pair
    count is large. Results agree with ``cosine`` to double-precision
    rounding (both are 64-bit dot/norm; callers round to 6 decimals before
    comparison, as the oracles do). A row scores iff both vectors are
    non-null and of equal length — the JVM ``zip_with`` rule, decided per
    row and never by what else shares the Arrow batch."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    from docling_spark.functions.cosine import cosine_rows

    def _cos(x, y):
        # null → null, like the JVM `cosine` expression this replaces —
        # one null embedding must not np.stack-crash the whole task.
        # Nullable Float64 (not float64/NaN): Spark orders NaN ABOVE
        # every number, so a NaN score would win desc rankings; a true
        # null drops out of filters and sorts last.
        out = pd.Series(pd.NA, index=x.index, dtype="Float64")
        idx = np.flatnonzero((x.notna() & y.notna()).to_numpy())
        xs, ys = x.to_numpy()[idx], y.to_numpy()[idx]
        lx = np.fromiter(map(len, xs), dtype=np.int64, count=len(xs))
        ly = np.fromiter(map(len, ys), dtype=np.int64, count=len(ys))
        # ragged rows stay NULL; rows are stacked one length at a time
        for n in np.unique(lx[lx == ly]):
            sel = np.flatnonzero((lx == n) & (ly == n))
            out.iloc[idx[sel]] = cosine_rows(np.stack(xs[sel]),
                                             np.stack(ys[sel]))
        return out

    # real (non-string) hints: `from __future__ import annotations` would
    # otherwise stringify them and break pandas_udf signature inference
    _cos.__annotations__ = {"x": pd.Series, "y": pd.Series, "return": pd.Series}
    return pandas_udf(_cos, DoubleType())(a, b)


def topk_cosine(
    emb: DataFrame, query_vec: list[float], k: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k by cosine against a constant query vector.
    Scores rounded to 6 decimals; ties broken by id for determinism."""
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = emb.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def cosine_pairs(
    emb: DataFrame, threshold: float = 0.95,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """All (a<b) pairs with cosine ≥ threshold. The sf-size oracle variant
    (n² block-nested join). Scale path: restrict with lsh_buckets first."""
    a = emb.select(F.col(id_col).alias("id_a"),
                   F.col(vec_col).cast("array<double>").alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"),
                   F.col(vec_col).cast("array<double>").alias("vb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", F.round(cosine_fast(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def banded_lsh_buckets(
    emb: DataFrame, n_bands: int = 6, planes_per_band: int = 3, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """OR-amplified sign-LSH: one row per (vector, band), each band hashing
    the vector with its own ``planes_per_band`` hyperplanes (plane id =
    band*planes_per_band + i). Two vectors are candidates if they collide
    in ANY band — the classic banding trick that trades a small constant
    row blow-up (×n_bands) for recall that approaches 1 as cosine → 1.
    All dot products are JVM-side against broadcast literal planes."""
    v = F.col(vec_col).cast("array<double>")
    band_buckets = []
    for band in range(n_bands):
        bucket = sum(
            (
                F.when(
                    _dot(v, F.array(*[
                        F.lit(x)
                        for x in _plane(dim, band * planes_per_band + i)
                    ])) > 0,
                    F.lit(1),
                ).otherwise(F.lit(0))
                * F.lit(2 ** i)
            ).cast("long")
            for i in range(planes_per_band)
        )
        band_buckets.append(bucket)
    return emb.select(
        F.col(id_col), F.col(vec_col),
        F.posexplode(F.array(*band_buckets)).alias("band", "bucket"),
    )


def embedding_bucket_overflow(
    emb: DataFrame, n_bands: int = 6, planes_per_band: int = 3,
    dim: int = 64, max_bucket: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """``dedup.bucket_overflow`` of the banded sign-LSH path: one row per
    (band, bucket) whose population exceeds ``max_bucket`` — (band,
    bucket, n_vecs, n_dropped)."""
    from docling_spark.operators.dedup import bucket_overflow

    return bucket_overflow(
        banded_lsh_buckets(emb, n_bands, planes_per_band, dim,
                           vec_col, id_col),
        ("band", "bucket"), max_bucket,
    ).withColumnRenamed("n_docs", "n_vecs")


def _bucket_cosine_pairs(
    banded: DataFrame, keys: tuple[str, ...], threshold: float,
    max_bucket: int | None, vec_col: str, id_col: str,
) -> DataFrame:
    """``(*keys, id_a, id_b, cos)``: every ``id_a < id_b`` pair sharing a
    ``keys`` bucket of ``banded`` whose cosine, rounded to 6 decimals, is
    at least ``threshold``.

    The bucket pair primitive of the embedding LSH families. Each bucket
    is first cut to its ``max_bucket`` smallest ids by the JVM window cap
    (``dedup.cap_buckets``; ``None`` only for sf-size oracles), then
    ``groupBy(keys).applyInArrow`` hands each capped bucket to Python
    once: its ids and vectors, not two vectors per candidate pair. The
    kernel (``functions.cosine.score_bucket``) scores every pair with the
    arithmetic of :func:`cosine_fast`, so scores are bit-identical to it,
    and drops only pairs that cannot pass the filter (``cos < threshold -
    1e-6``, or no score). Spark then applies the exact ``round(cos, 6) >=
    threshold``. The cap's window and the grouping share one exchange on
    the bucket key; there is no join.

    A pair scores iff both vectors are non-null and of equal length (the
    JVM ``zip_with`` rule); a null, ragged or zero-norm vector still takes
    its cap slot. A null id takes a cap slot and pairs with nothing, and
    a duplicated id never pairs with itself.
    """
    from pyspark.sql.types import DoubleType, StructField, StructType

    from docling_spark.functions.cosine import score_bucket
    from docling_spark.operators.dedup import cap_buckets

    rows = cap_buckets(
        banded.select(*keys, id_col,
                      F.col(vec_col).cast("array<double>").alias("_v")),
        max_bucket, keys, id_col)
    fields = {f.name: f for f in rows.schema.fields}
    id_type = fields[id_col].dataType
    schema = StructType(
        [fields[k] for k in keys]
        + [StructField("id_a", id_type), StructField("id_b", id_type),
           StructField("cos", DoubleType())])
    floor = threshold - 1e-6

    def _score(table):
        return score_bucket(table, keys, id_col, floor)

    return (
        rows.groupBy(*keys).applyInArrow(_score, schema)
        .withColumn("cos", F.round("cos", 6))
        .filter(F.col("cos") >= threshold)
    )


def cosine_pairs_lsh(
    emb: DataFrame, threshold: float = 0.45,
    n_bands: int = 6, planes_per_band: int = 3, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
    max_bucket: int | None = 64,
) -> DataFrame:
    """Embedding near-dup pairs, LSH-gated — the 100 TB shape of
    ``cosine_pairs``. Vectors are banded (:func:`banded_lsh_buckets`) and
    every (band, bucket) is scored in one pass by
    :func:`_bucket_cosine_pairs`: cost ~ sum over buckets of bucket²,
    never n², and each vector crosses into Python once per band rather
    than once per candidate pair. A pair that collides in several bands
    is scored in each; one ``dropDuplicates`` on the scored survivors
    keeps it once. The exact n² variant stays as the small-scale test
    oracle
    (tests/test_round2_fixes.py::test_cosine_pairs_lsh_subset_and_recall).

    ``max_bucket`` (default 64, matching dedup.lsh_candidate_pairs and the
    streaming state bound) caps each (band, bucket) at its smallest-id
    representatives BEFORE scoring so a hot bucket — m identical
    embeddings colliding in every band — can never cost m² pairs; pass
    ``None`` only for sf-size oracles. Pair with
    :func:`embedding_bucket_overflow` to observe what a cap dropped.

    At corpus scale also raise ``planes_per_band`` (16-20) to shrink
    buckets; recall for a pair at cosine c is 1-(1-(1-acos(c)/pi)^p)^b,
    ≈0.9996 at c=0.95 with the defaults here."""
    b = banded_lsh_buckets(emb, n_bands, planes_per_band, dim, vec_col, id_col)
    return (
        _bucket_cosine_pairs(b, ("band", "bucket"), threshold, max_bucket,
                             vec_col, id_col)
        .select("id_a", "id_b", "cos")
        .dropDuplicates(["id_a", "id_b"])
    )


def _plane(dim: int, plane_id: int) -> list[float]:
    """Deterministic pseudo-random hyperplane from the md5 hash family."""
    import hashlib

    out = []
    for i in range(dim):
        h = hashlib.md5(f"plane:{plane_id}:{i}".encode()).digest()
        v = int.from_bytes(h[:8], "big") / 2**63 - 1.0  # ~U(-1,1)
        out.append(v)
    return out


def lsh_buckets(
    emb: DataFrame, n_planes: int = 8, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Sign-LSH bucket id per vector: bit b = sign(v · plane_b).
    JVM-side dot products against broadcast constant planes."""
    v = F.col(vec_col).cast("array<double>")
    bucket = sum(
        (
            F.when(
                _dot(v, F.array(*[F.lit(x) for x in _plane(dim, b)])) > 0,
                F.lit(1),
            ).otherwise(F.lit(0))
            * F.lit(2 ** b)
        ).cast("long")
        for b in range(n_planes)
    )
    return emb.select(F.col(id_col), F.col(vec_col), bucket.alias("bucket"))


def ann_bucket_pairs(
    emb: DataFrame, threshold: float = 0.2,
    n_planes: int = 8, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
    max_bucket: int | None = 64,
) -> DataFrame:
    """Same-bucket candidate pairs under single-table sign-LSH
    (:func:`lsh_buckets`), scored per bucket by
    :func:`_bucket_cosine_pairs`.

    ``max_bucket`` caps each bucket at its smallest-id representatives
    before scoring (see ``dedup.cap_buckets`` — with n_planes planes there
    are only 2^n_planes distinct buckets, so without the cap pair volume
    is ~m²/2^n_planes at ANY corpus size, and m² for a near-dup-heavy
    bucket). Pass ``None`` only for sf-size oracles.

    Output: (id_a, id_b, bucket, cos) for a < b with cos ≥ threshold.
    """
    b = lsh_buckets(emb, n_planes, dim, vec_col, id_col)
    return _bucket_cosine_pairs(
        b, ("bucket",), threshold, max_bucket, vec_col, id_col,
    ).select("id_a", "id_b", F.col("bucket").cast("long").alias("bucket"),
             "cos")


def ivf_assign(
    emb: DataFrame, n_centroids: int = 8,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """IVF coarse quantization with deterministic centroids: the first
    ``n_centroids`` vectors (by id) act as the codebook — no RNG, no
    iterative k-means, so the assignment is reproducible across engines
    and runs (a trained codebook slots in behind the same signature).

    Each vector joins the broadcast codebook and keeps its best centroid
    by cosine (ties by centroid id). At corpus scale the output is
    partitioned by ``centroid_id`` — probes read one partition per probed
    list instead of the full table.
    """
    cents = emb.filter(F.col(id_col) < n_centroids).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    return assign_codebook(emb, cents, vec_col, id_col)


def assign_codebook(
    emb: DataFrame, cents: DataFrame,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """(id, centroid_id, cos): best centroid per vector under an arbitrary
    ``(centroid_id, cvec)`` codebook — broadcast scalar attach (the
    codebook is k rows, fixed) + per-vector rank window. Cosines are
    rounded to 6 dp BEFORE ranking so the argmin is reproducible across
    engines."""
    from pyspark.sql.window import Window

    scored = (
        emb.select(F.col(id_col),
                   F.col(vec_col).cast("array<double>").alias("v"))
        .crossJoin(F.broadcast(cents))
        .withColumn("cos", F.round(cosine(F.col("v"), F.col("cvec")), 6))
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("cos"), F.asc("centroid_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(id_col, "centroid_id", "cos")
    )


def kmeans_codebook(
    emb: DataFrame, k: int = 4, iters: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Deterministic Lloyd's k-means: trains the IVF codebook that
    ``ivf_assign``/``ivf_topk`` consume (their round-1 codebook was the
    untrained id-prefix; this closes that gap).

    Init: the first ``k`` vectors by id (no RNG — reproducible across
    engines, runs, and cluster sizes). Each iteration: (1) assign every
    vector to its best centroid by 6-dp-rounded cosine via a broadcast of
    the k-row codebook, (2) recompute each centroid as the per-dimension
    mean of its members (posexplode → partial-agg groupBy(centroid, dim):
    the shuffle carries k·D partial sums per map task, never the vectors),
    each mean rounded to 6 dp so the next iteration's assignment is
    engine-reproducible. A cluster that loses all members keeps its
    previous centroid. Driver never holds more than the plan; the codebook
    stays k·D floats.

    Output: (centroid_id, n_members, cvec) under the final codebook.
    """
    cents = emb.filter(F.col(id_col) < k).select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).cast("array<double>").alias("cvec"),
    )
    dims = emb.select(
        F.col(id_col),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("pos", "val"),
    )
    for _ in range(iters):
        asg = assign_codebook(emb, cents, vec_col, id_col)
        means = (
            dims.join(asg.select(id_col, "centroid_id"), id_col)
            .groupBy("centroid_id", "pos")
            .agg(F.round(F.avg("val"), 6).alias("mval"))
        )
        newc = means.groupBy("centroid_id").agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "mval"))),
                lambda s: s["mval"],
            ).alias("cvec")
        )
        cents = (
            cents.select("centroid_id", F.col("cvec").alias("old"))
            .join(newc, "centroid_id", "left")
            .select("centroid_id",
                    F.coalesce("cvec", "old").alias("cvec"))
        )
    sizes = (
        assign_codebook(emb, cents, vec_col, id_col)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_members"))
    )
    return cents.join(sizes, "centroid_id", "left").select(
        "centroid_id",
        F.coalesce("n_members", F.lit(0)).alias("n_members"),
        "cvec",
    )


def ivf_topk(
    emb: DataFrame, query_vec: list[float], k: int = 10,
    n_centroids: int = 8, n_probe: int = 2,
    vec_col: str = "embedding", id_col: str = "vec_id",
    codebook: DataFrame | None = None,
) -> DataFrame:
    """IVF probe: score only vectors assigned to the query's ``n_probe``
    nearest centroids. Driver-side work is one tiny codebook collect.

    ``codebook`` (a (centroid_id, cvec) frame, e.g. ``kmeans_codebook``
    output) replaces the deterministic id-prefix codebook — the full
    train → index → serve loop."""
    cents_df = (
        codebook.select("centroid_id", F.col("cvec").cast("array<double>")
                        .alias("cvec"))
        if codebook is not None
        else emb.filter(F.col(id_col) < n_centroids)
        .select(F.col(id_col).alias("centroid_id"),
                F.col(vec_col).cast("array<double>").alias("cvec"))
    )
    cents = cents_df.collect()
    qn = _norm_py(query_vec)
    # probe ranking rounds to 6 dp before sorting (ties -> centroid_id),
    # the same engine-reproducibility contract every distributed ranking
    # in this module follows — full-precision sorting could probe a
    # different centroid than an oracle implementing the documented rule
    ranked = sorted(
        cents,
        key=lambda r: (-round(_dot_py(query_vec, r["cvec"])
                              / ((qn * _norm_py(r["cvec"])) or 1.0), 6),
                       r["centroid_id"]),
    )
    probe_ids = [r["centroid_id"] for r in ranked[:n_probe]]
    # both arms reduce to assigning against cents_df (ivf_assign would
    # derive exactly this frame when codebook is None)
    assigned = assign_codebook(emb, cents_df, vec_col, id_col)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        emb.join(assigned.filter(F.col("centroid_id").isin(probe_ids))
                 .select(id_col), id_col, "left_semi")
        .select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6)
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def ann_topk_batch(
    emb: DataFrame, queries: DataFrame, k: int = 3,
    n_planes: int = 8, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
    q_vec_col: str = "embedding", q_id_col: str = "query_id",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Distributed batch ANN serving: a whole DataFrame of queries at
    once, each scored only against corpus vectors whose LSH bucket lies
    within ``multiprobe_hamming`` bits of the query's bucket, top-k kept
    per query.

    Scale shape: the Hamming ball is expanded on the QUERY side — each
    query explodes into its probe buckets — so the corpus join stays a
    hash EQUI-join on the bucket id (a ``bit_count(a^b) <= h`` join
    predicate would degenerate to a nested-loop pair enumeration). The
    corpus shuffles once on bucket; per-query candidate counts are
    bounded by bucket occupancy; the per-query top-k is a window over
    those candidates only, never a global sort. Supports
    ``multiprobe_hamming`` in {0, 1} (ball sizes 1 and n_planes+1).

    Output: ``(query_id, rank, vec_id, score)``, rank 1..k by cosine
    descending, ties broken by ``vec_id``.
    """
    if multiprobe_hamming not in (0, 1):
        raise ValueError("multiprobe_hamming must be 0 or 1")
    from pyspark.sql.window import Window

    corpus = lsh_buckets(emb, n_planes, dim, vec_col, id_col).select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("_cv"),
        F.col("bucket"),
    )
    qb = lsh_buckets(queries, n_planes, dim, q_vec_col, q_id_col)
    probes = [F.col("bucket")]
    if multiprobe_hamming == 1:
        probes += [
            F.col("bucket").bitwiseXOR(F.lit(1 << b))
            for b in range(n_planes)
        ]
    qprobe = qb.select(
        F.col(q_id_col),
        F.col(q_vec_col).cast("array<double>").alias("_qv"),
        F.explode(F.array(*probes)).alias("bucket"),
    )
    scored = (
        corpus.join(qprobe, "bucket")
        .withColumn("score", F.round(cosine_fast(F.col("_qv"),
                                                 F.col("_cv")), 6))
        # a null/zero-norm corpus vector scores NULL — drop it rather
        # than let it consume a rank slot (phantom null-score results
        # when a bucket holds fewer than k real candidates)
        .filter(F.col("score").isNotNull())
    )
    w = Window.partitionBy(q_id_col).orderBy(
        F.desc("score"), F.asc(id_col))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(q_id_col, "rank", id_col, "score")
    )


def ann_topk_lsh(
    emb: DataFrame, query_vec: list[float], k: int = 10,
    n_planes: int = 8, dim: int = 64,
    vec_col: str = "embedding", id_col: str = "vec_id",
    multiprobe_hamming: int = 1,
) -> DataFrame:
    """Approximate top-k: score only vectors whose LSH bucket is within
    ``multiprobe_hamming`` bits of the query's bucket. At corpus scale the
    bucket column is the partition key — the probe touches a handful of
    partitions instead of the full table."""
    # query bucket computed driver-side with the same planes
    qbits = 0
    for b in range(n_planes):
        if _dot_py(query_vec, _plane(dim, b)) > 0:
            qbits |= 1 << b
    buckets = lsh_buckets(emb, n_planes, dim, vec_col, id_col)
    probe = buckets.filter(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(qbits))) <= multiprobe_hamming
    )
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    scored = probe.select(
        F.col(id_col),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q), 6).alias("score"),
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def _pq_slices(
    df: DataFrame, m: int, dsub: int,
    id_col: str, vec_col: str, out_id: str,
) -> DataFrame:
    """(out_id, sub, sv): the vector split into m contiguous dsub-dim
    subvectors — one inline'd array build, no shuffle."""
    arr = F.array(*[
        F.struct(
            F.lit(s).cast("int").alias("sub"),
            F.slice(F.col(vec_col).cast("array<double>"),
                    1 + dsub * s, dsub).alias("sv"),
        )
        for s in range(m)
    ])
    return df.select(F.col(id_col).alias(out_id), F.inline(arr))


def _sq_l2(a, b):
    """Squared L2 between two double arrays — zip_with + left-fold, all
    JVM-side; multiplication (not pow) so DuckDB reproduces it exactly."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    emb: DataFrame, m: int = 8, dim: int = 64, k: int = 16,
    vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Product-quantization encoding (Jégou et al. 2011): split each
    vector into ``m`` subvectors; per subspace, assign the nearest of
    ``k`` centroids by squared L2. Storage drops from dim×4 bytes to m
    byte-sized codes per vector — the standard billion-vector ANN
    compression.

    Deterministic codebook: the sub-slices of the first ``k`` vectors by
    id (a trained per-subspace k-means slots in behind the same shape —
    see ``kmeans_codebook``). The codebook is m×k rows, broadcast; the
    argmin is a per-(vector, subspace) rank window over k rows with
    distances rounded to 6 dp BEFORE ranking (engine-reproducible), ties
    to the smallest code. No shuffle proportional to k; corpus side
    shuffles once for the rank window.

    Output: (id, subspace, code, dist2).
    """
    from pyspark.sql.window import Window

    if dim % m:
        # silent truncation would exclude the trailing dim %% m
        # dimensions from every code and every ADC distance (same guard
        # as band_signatures)
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    sl = _pq_slices(emb, m, dsub, id_col, vec_col, id_col)
    cb = _pq_slices(
        emb.filter(F.col(id_col) < k), m, dsub, id_col, vec_col, "code"
    ).withColumnRenamed("sv", "cv")
    d = (
        sl.join(F.broadcast(cb), "sub")
        .withColumn("dist2", F.round(_sq_l2(F.col("sv"), F.col("cv")), 6))
    )
    # nulls LAST: a null/short embedding in the codebook prefix yields
    # NULL dist2 for its code, and Spark's default NULLS FIRST would make
    # that null entry win row_number()==1 for EVERY vector — corrupting
    # the whole index
    w = Window.partitionBy(id_col, "sub").orderBy(
        F.col("dist2").asc_nulls_last(), "code")
    return (
        d.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        # a NULL winning distance means the vector itself was null/short
        # (every candidate distance null) — an unencodable vector gets NO
        # codes rather than a meaningless (code, NULL) row
        .filter(F.col("dist2").isNotNull())
        .select(id_col, F.col("sub").alias("subspace"),
                F.col("code").cast("int").alias("code"), "dist2")
    )


def pq_adc_topk(
    emb: DataFrame, query_id: int = 0, m: int = 8, dim: int = 64,
    k: int = 16, topk: int = 10,
    vec_col: str = "embedding", id_col: str = "vec_id",
    codes: DataFrame | None = None,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    exact, the corpus is its codes. A lookup table of m×k query-to-centroid
    squared distances is built once (tiny, broadcast); each corpus vector's
    approximate distance is the SUM of m table lookups — no per-pair
    vector math at query time, which is the entire point of PQ serving.

    Ends in ``orderBy().limit(topk)`` — a distributed TakeOrdered, never a
    single-partition global rank window.

    ``codes``: optionally pass the precomputed ``pq_encode`` output —
    the serving pattern (codes are built once per corpus, reused per
    query); omitted, they are computed inline (one corpus scan per
    call, fine for tests/oracles, wrong for a query loop).
    """
    if dim % m:
        raise ValueError(f"dim={dim} not divisible by m={m}")
    dsub = dim // m
    cb = _pq_slices(
        emb.filter(F.col(id_col) < k), m, dsub, id_col, vec_col, "code"
    ).withColumnRenamed("sv", "cv")
    qsl = _pq_slices(
        emb.filter(F.col(id_col) == query_id), m, dsub, id_col, vec_col, "qid"
    ).withColumnRenamed("sv", "qv").drop("qid")
    lut = (
        cb.join(F.broadcast(qsl), "sub")
        .select("sub", "code",
                F.round(_sq_l2(F.col("qv"), F.col("cv")), 6).alias("qd"))
    )
    if codes is None:
        codes = pq_encode(emb, m=m, dim=dim, k=k,
                          vec_col=vec_col, id_col=id_col)
    return (
        codes.join(F.broadcast(lut),
                   (codes["subspace"] == lut["sub"])
                   & (codes["code"] == lut["code"]))
        .groupBy(id_col)
        .agg(F.round(F.sum("qd"), 6).alias("adc_dist"),
             F.count("qd").alias("_n_qd"))
        # a vector whose LUT rows are incomplete (null qd from a
        # degenerate codebook entry) would otherwise sum FEWER than m
        # subspace terms — biased low — or rank a NULL distance first
        # under the default NULLS FIRST ordering
        .filter(F.col("_n_qd") == m)
        .select(id_col, "adc_dist")
        .orderBy(F.col("adc_dist").asc_nulls_last(), id_col)
        .limit(topk)
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (scalar, symmetric per-vector)
# ---------------------------------------------------------------------------

def quantize_embeddings(
    emb: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q_i = round(v_i *
    127 / max|v|)``, carrying the scale alongside — the standard 4x
    memory/shuffle/IO reduction for embedding tables feeding ANN at
    corpus scale (FAISS's scalar quantizer family; a 100 TB float32
    embedding column becomes 25 TB plus one float per vector).

    All JVM Column expressions (aggregate for max|v|, transform for the
    rounding) — whole-stage codegen, no Python, no shuffle. max|v| is
    bound in a select of its own, once per vector: inside the rounding
    lambda it would be re-aggregated for every element, O(dim²). Zero
    vectors keep scale 0 and all-zero codes (dequantize restores the
    zero vector exactly).

    Output: (id, scale double, qvec array<int> in [-127, 127]).
    """
    v = F.col(vec_col).cast("array<double>")
    amax = F.col("_amax")
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x * F.lit(127.0) / amax)
                    .cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return emb.select(
        F.col(id_col), F.col(vec_col),
        F.aggregate(v, F.lit(0.0), lambda acc, x: F.greatest(acc, F.abs(x)))
        .alias("_amax"),
    ).select(
        F.col(id_col),
        F.round(scale, 9).alias("scale"),
        q.alias("qvec"),
    )


def dequantize_embeddings(
    q: DataFrame, id_col: str = "vec_id",
) -> DataFrame:
    """Inverse of :func:`quantize_embeddings`: ``v_i ≈ q_i * scale``.
    Output: (id, embedding array<double>)."""
    return q.select(
        F.col(id_col),
        F.transform(F.col("qvec"),
                    lambda x: x.cast("double") * F.col("scale"))
        .alias("embedding"),
    )


def quantized_knn(
    q: DataFrame, query_qvec: list, topk: int = 10,
    id_col: str = "vec_id",
) -> DataFrame:
    """Brute-force top-k by cosine over the QUANTIZED table — the
    working-set win: the scan reads int8 codes (4x less IO than
    float32), and cosine is scale-invariant, so per-vector scales
    cancel and the scoring runs directly on the codes. Distributed
    top-k via orderBy().limit() (TakeOrderedAndProject).

    Output: (id, cos) for the ``topk`` nearest to ``query_qvec``
    (an int8 code list from the same quantizer), ties broken by id.
    """
    qv = F.array(*[F.lit(int(x)).cast("double") for x in query_qvec])
    codes = F.transform(F.col("qvec"), lambda x: x.cast("double"))
    cos = F.when(
        (_norm(codes) > 0) & (_norm(qv) > 0),
        _dot(codes, qv) / (_norm(codes) * _norm(qv)),
    )
    return (
        q.select(F.col(id_col), F.round(cos, 6).alias("cos"))
        .filter(F.col("cos").isNotNull())
        .orderBy(F.desc("cos"), id_col)
        .limit(topk)
    )
