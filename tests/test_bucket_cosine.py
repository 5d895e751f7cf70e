"""The per-bucket cosine kernel behind the embedding LSH pair families
(``similarity._bucket_cosine_pairs``): its edge cases, its equality with
the join-based plan it replaced, and the join-free plan shape."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from tests.planutils import formatted_plan
from tests.test_round4_fixes import _mega_emb

_BANDED = "bucket long, id int, v array<double>"


def _pairs(df):
    return sorted((r.id_a, r.id_b, r.cos) for r in df.collect())


def test_cosine_fast_scores_each_row_on_its_own(spark):
    """The score of a row must not depend on the other rows of its Arrow
    batch: two equal 2-long vectors score 1.0 even when every other row
    of the batch is 3-long (the JVM ``cosine`` gives 1.0 too)."""
    from docling_spark.operators.similarity import cosine_fast

    df = spark.createDataFrame(
        [([1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),
         ([0.0, 1.0, 0.0], [0.0, 1.0, 0.0]),
         ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>").coalesce(1)
    got = [r.s for r in
           df.select(cosine_fast(F.col("a"), F.col("b")).alias("s")).collect()]
    assert got == [1.0, 1.0, 1.0]


def test_null_and_zero_vectors_take_a_cap_slot_but_pair_with_nothing(spark):
    from docling_spark.operators.similarity import _bucket_cosine_pairs

    banded = spark.createDataFrame(
        [(7, 1, None), (7, 2, [0.0, 0.0]), (7, 3, [1.0, 0.0]),
         (7, 4, [2.0, 0.0]), (7, 5, [1.0, 0.0])], _BANDED)
    # the cap keeps ids 1-4: the null (1) and zero-norm (2) vectors use
    # two of the four slots, so id 5 never reaches the kernel
    out = _bucket_cosine_pairs(banded, ("bucket",), 0.5, 4, "v", "id")
    assert [tuple(r) for r in out.collect()] == [(7, 3, 4, 1.0)]
    # uncapped, id 5 pairs with 3 and 4; 1 and 2 still pair with nothing
    out = _bucket_cosine_pairs(banded, ("bucket",), 0.5, None, "v", "id")
    assert _pairs(out) == [(3, 4, 1.0), (3, 5, 1.0), (4, 5, 1.0)]


def test_duplicated_id_and_ragged_vectors(spark):
    from docling_spark.operators.similarity import _bucket_cosine_pairs

    banded = spark.createDataFrame(
        [(8, 6, [1.0, 0.0]), (8, 6, [1.0, 0.0]), (8, 9, [1.0, 1.0]),
         (8, 10, [1.0, 0.0, 0.0]), (8, 11, [1.0, 0.0, 0.0]),
         (8, None, [1.0, 0.0])], _BANDED)
    out = _pairs(_bucket_cosine_pairs(banded, ("bucket",), 0.5, None,
                                      "v", "id"))
    # id 6 twice: two (6, 9) rows, never (6, 6); the 3-long vectors pair
    # only with each other; a null id pairs with nothing
    assert out == [(6, 9, 0.707107), (6, 9, 0.707107), (10, 11, 1.0)]


def test_id_type_and_empty_input_keep_the_output_schema(spark):
    from docling_spark.operators.similarity import _bucket_cosine_pairs

    banded = spark.createDataFrame(
        [(1, 3, [1.0, 2.0]), (1, 4, [1.0, 2.0])], _BANDED)
    out = _bucket_cosine_pairs(banded, ("bucket",), 0.9, 64, "v", "id")
    assert out.schema["id_a"].dataType == IntegerType()
    rows = out.collect()
    assert rows == [(1, 3, 4, 1.0)] and type(rows[0].id_a) is int

    empty = _bucket_cosine_pairs(spark.createDataFrame([], _BANDED),
                                 ("bucket",), 0.9, 64, "v", "id")
    assert empty.collect() == []
    assert empty.schema.simpleString() == (
        "struct<bucket:bigint,id_a:int,id_b:int,cos:double>")


def _parent_cosine_pairs_lsh(emb, threshold, max_bucket):
    """The join-based plan ``cosine_pairs_lsh`` used before the per-bucket
    kernel, built from public pieces: banding → window cap → id
    self-join → distinct → vector join-back → ``cosine_fast``."""
    from docling_spark.operators.dedup import cap_buckets
    from docling_spark.operators.similarity import (
        banded_lsh_buckets,
        cosine_fast,
    )

    b = cap_buckets(banded_lsh_buckets(emb), max_bucket,
                    ("band", "bucket"), "vec_id")
    a = b.select(F.col("vec_id").alias("id_a"), "band", "bucket")
    c = b.select(F.col("vec_id").alias("id_b"),
                 F.col("band").alias("band_b"),
                 F.col("bucket").alias("bucket_b"))
    pairs = (
        a.join(c, (F.col("band") == F.col("band_b"))
               & (F.col("bucket") == F.col("bucket_b"))
               & (F.col("id_a") < F.col("id_b")))
        .select("id_a", "id_b").dropDuplicates(["id_a", "id_b"])
    )
    v = emb.select(F.col("vec_id"),
                   F.col("embedding").cast("array<double>").alias("_v"))
    return (
        pairs.join(v.select(F.col("vec_id").alias("id_a"),
                            F.col("_v").alias("va")), "id_a")
        .join(v.select(F.col("vec_id").alias("id_b"),
                       F.col("_v").alias("vb")), "id_b")
        .withColumn("cos", F.round(cosine_fast(F.col("va"), F.col("vb")), 6))
        .filter(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def test_cosine_pairs_lsh_equals_the_join_plan_on_an_overflowing_bucket(spark):
    from docling_spark.operators.similarity import (
        cosine_pairs_lsh,
        embedding_bucket_overflow,
    )

    rng = np.random.default_rng(5)
    noise = spark.createDataFrame(
        [(2000 + i, [float(x) for x in rng.standard_normal(64)])
         for i in range(300)]
        + [(3000, None), (3001, [0.0] * 64)],
        "vec_id long, embedding array<float>")
    emb = _mega_emb(spark, 90).unionByName(noise)
    assert embedding_bucket_overflow(emb).count() > 0
    new = cosine_pairs_lsh(emb, threshold=0.1)
    old = _parent_cosine_pairs_lsh(emb, 0.1, 64)
    got = [r.asDict() for r in new.orderBy("id_a", "id_b").collect()]
    want = [r.asDict() for r in old.orderBy("id_a", "id_b").collect()]
    assert len(got) > 1000
    assert got == want


def test_lsh_pair_plans_have_no_join(spark):
    from docling_spark.operators.similarity import (
        ann_bucket_pairs,
        cosine_pairs_lsh,
    )

    emb = _mega_emb(spark, 10)
    for df in (cosine_pairs_lsh(emb), ann_bucket_pairs(emb)):
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        for join in ("SortMergeJoin", "BroadcastHashJoin",
                     "ShuffledHashJoin"):
            assert join not in plan, join
        # the cap's window and the per-bucket scoring share one exchange
        assert "WindowGroupLimit" in formatted_plan(spark, df)


# -- sign-LSH bucket parity --------------------------------------------------

_EMB = "vec_id long, embedding array<double>"


def _jvm_bucket(v, plane_ids, dim):
    """The sign bucket as the JVM expression it once was, kept here as the
    reference: bit ``i`` is ``aggregate(zip_with(v, plane, *), 0.0, +) >
    0`` against the literal plane, so a null dot (null vector, null
    element, other length) gives 0 and a NaN dot gives 1."""
    from docling_spark.operators.similarity import _plane

    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                           F.lit(0.0), lambda acc, x: acc + x)

    return sum(
        (F.when(dot(v, F.array(*[F.lit(x) for x in _plane(dim, p)])) > 0,
                F.lit(1)).otherwise(F.lit(0))
         * F.lit(2 ** i)).cast("long")
        for i, p in enumerate(plane_ids))


def _near_plane_vectors(rng, dim, plane_ids):
    """Vectors with the component along a plane projected out, so their
    dot with that plane lands within rounding of 0 and its sign depends
    on the order the products are summed in."""
    from docling_spark.operators.similarity import _plane

    out = []
    for p in plane_ids:
        w = np.array(_plane(dim, p))
        for _ in range(8):
            v = rng.standard_normal(dim)
            out.append(v - (v @ w) / (w @ w) * w)
    return out


def _edge_rows(dim):
    vec = [0.25 * (i % 7) - 0.8 for i in range(dim)]
    with_null, with_nan = list(vec), list(vec)
    with_null[5] = None
    with_nan[9] = float("nan")
    pos_inf, neg_inf = list(vec), list(vec)
    pos_inf[0] = float("inf")
    neg_inf[3] = float("-inf")
    return [None, [], vec[:-1], vec + [0.5], with_null, with_nan,
            pos_inf, neg_inf, [0.0] * dim, [-0.0] * dim, [1e-310] * dim,
            [1e-310 * (1 if i % 3 else -1) for i in range(dim)]]


def _parity_frames(spark, dim=64):
    rng = np.random.default_rng(17)
    random_rows = [list(map(float, rng.standard_normal(dim)))
                   for _ in range(500)]
    random_rows += [list(map(float, v))
                    for v in _near_plane_vectors(rng, dim, range(18))]
    edges = _edge_rows(dim)
    return [spark.createDataFrame(list(enumerate(rows)), _EMB)
            for rows in (random_rows, edges)]


def test_banded_lsh_buckets_equal_the_jvm_dot_products(spark):
    from docling_spark.operators.similarity import banded_lsh_buckets

    n_bands, ppb, dim = 6, 3, 64
    for emb in _parity_frames(spark, dim):
        v = F.col("embedding").cast("array<double>")
        want = emb.select("vec_id", F.posexplode(F.array(*[
            _jvm_bucket(v, range(b * ppb, (b + 1) * ppb), dim)
            for b in range(n_bands)])).alias("band", "bucket"))
        got = banded_lsh_buckets(emb, n_bands, ppb, dim)
        got_rows = sorted(tuple(r) for r in
                          got.select("vec_id", "band", "bucket").collect())
        want_rows = sorted(tuple(r) for r in want.collect())
        assert len(got_rows) == emb.count() * n_bands
        assert got_rows == want_rows
        assert len({r[2] for r in got_rows}) > 1


def test_lsh_buckets_equal_the_jvm_dot_products(spark):
    from docling_spark.operators.similarity import lsh_buckets

    n_planes, dim = 8, 64
    for emb in _parity_frames(spark, dim):
        v = F.col("embedding").cast("array<double>")
        want = emb.select("vec_id",
                          _jvm_bucket(v, range(n_planes), dim).alias("b"))
        got = lsh_buckets(emb, n_planes, dim)
        assert got.schema["bucket"].dataType.simpleString() == "bigint"
        assert (sorted(tuple(r) for r in
                       got.select("vec_id", "bucket").collect())
                == sorted(tuple(r) for r in want.collect()))


def test_edge_vectors_follow_the_jvm_null_and_nan_rules(spark):
    """Null, empty, ragged and null-element vectors get bucket 0 in every
    band; a NaN element sets every bit (Spark orders NaN above 0)."""
    from docling_spark.operators.similarity import banded_lsh_buckets

    emb = spark.createDataFrame(list(enumerate(_edge_rows(64))), _EMB)
    got = {}
    for r in banded_lsh_buckets(emb).collect():
        got.setdefault(r.vec_id, []).append(r.bucket)
    for i in (0, 1, 2, 3, 4, 8, 9):
        assert got[i] == [0] * 6, i
    assert got[5] == [7] * 6


def test_bucket_plans_call_one_arrow_udf_and_no_jvm_dot(spark):
    from docling_spark.operators.similarity import (
        banded_lsh_buckets,
        lsh_buckets,
    )

    emb = _mega_emb(spark, 4)
    for df in (banded_lsh_buckets(emb), lsh_buckets(emb)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert plan.count("ArrowEvalPython") == 1
        assert "zip_with" not in plan and "aggregate" not in plan


def test_ann_topk_lsh_probes_the_bucket_lsh_buckets_gives_the_query(spark):
    """The query's bucket follows the corpus rule: a NaN element sets every
    bit, a ragged or null-element query gets bucket 0."""
    from docling_spark.operators.similarity import ann_topk_lsh, lsh_buckets

    rng = np.random.default_rng(23)
    normal = [float(x) for x in rng.standard_normal(64)]
    nan = list(normal)
    nan[7] = float("nan")
    short = normal[:63]
    null_elem = list(normal)
    null_elem[2] = None
    queries = [normal, nan, short, null_elem]
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(64)])
         for i in range(300)]
        + [(1000 + i, q) for i, q in enumerate(queries)], _EMB)
    buckets = {r.vec_id: r.bucket
               for r in lsh_buckets(corpus).collect()}
    for i, q in enumerate(queries):
        (want,) = [r.bucket for r in lsh_buckets(
            spark.createDataFrame([(0, q)], _EMB)).collect()]
        probed = {r.vec_id for r in ann_topk_lsh(
            corpus, q, k=1000, multiprobe_hamming=0).collect()}
        assert 1000 + i in probed
        assert probed == {v for v, b in buckets.items() if b == want}
    assert buckets[1001] == 255 and buckets[1002] == buckets[1003] == 0
