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
