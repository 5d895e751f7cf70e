"""The grouped bucket pair step behind the minhash and simhash families
(``dedup._bucket_pairs``): its equality with the bucket self-join it
replaced, its join-free plan, and the one band divisibility check."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.planutils import formatted_plan

_JOINS = ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin")


def _self_join_pairs(banded, max_bucket, carry=()):
    """The bucket self-join the grouped pair step replaced, built inline:
    the same cap, then an equi-join on the bucket key with ``a < b``."""
    from docling_spark.operators.dedup import cap_buckets

    capped = cap_buckets(banded, max_bucket)
    a, b = capped.alias("a"), capped.alias("b")
    return (
        a.join(b, (F.col("a.band_id") == F.col("b.band_id"))
               & (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
                *[F.col(f"{s}.{c}").alias(f"{c}_{s}")
                  for s in ("a", "b") for c in carry])
        .distinct()
    )


def _banded(spark):
    """An overflowing bucket (70 members, the same ids in two bands), a
    one-member bucket, a bucket holding a null id, and a bucket holding a
    duplicated id — id ranges disjoint so each bucket's pairs are its
    own."""
    rows = [(b, "hot", i, i * 7) for b in (0, 1) for i in range(70)]
    rows += [(0, "one", 500, 1)]
    rows += [(1, "nul", None, 2), (1, "nul", 600, 3), (1, "nul", 601, 4)]
    rows += [(2, "dup", 700, 5), (2, "dup", 700, 6), (2, "dup", 701, 7)]
    return spark.createDataFrame(
        rows, "band_id int, bucket string, doc_id long, sig long")


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("max_bucket", [None, 64, 1])
@pytest.mark.parametrize("carry", [(), ("sig",)])
def test_bucket_pairs_equal_the_self_join(spark, max_bucket, carry):
    from docling_spark.operators.dedup import _bucket_pairs

    banded = _banded(spark)
    got = _bucket_pairs(banded, ("band_id", "bucket"), "doc_id",
                        max_bucket, carry).distinct()
    want = _self_join_pairs(banded, max_bucket, carry)
    assert got.columns == want.columns
    assert _rows(got) == _rows(want)
    if max_bucket is None:
        # hot C(70,2) + nul (600, 601) + dup (700, 701) ×2 rows
        assert got.select("doc_a", "doc_b").distinct().count() \
            == 70 * 69 // 2 + 1 + 1
    elif max_bucket == 1:
        assert got.count() == 0


def test_minhash_and_simhash_pair_plans_have_no_join(spark):
    from docling_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        shingles,
        simhash,
        simhash_near_pairs,
    )

    docs = spark.createDataFrame(
        [(i, f"shared boiler plate text {i % 3} and tail {i % 5}")
         for i in range(40)], "doc_id long, text string")
    sigs = minhash_signatures(shingles(docs))
    for df in (lsh_candidate_pairs(sigs),
               simhash_near_pairs(simhash(docs))):
        assert df.count() > 0
        plan = df._jdf.queryExecution().executedPlan().toString()
        for join in _JOINS:
            assert join not in plan, join
        # the cap is still cut map-side, before the bucket exchange
        assert "WindowGroupLimit" in formatted_plan(spark, df)


def test_band_divisibility_checked_by_both_entry_points(spark):
    from docling_spark.operators.dedup import band_signatures
    from docling_spark.streaming.stateful import near_dedup_stream

    sigs = spark.createDataFrame(
        [(1, *range(8))],
        "doc_id long, " + ", ".join(f"mh_{j} long" for j in range(8)))
    with pytest.raises(ValueError, match="divisible by band_size"):
        band_signatures(sigs, num_hashes=8, band_size=3)
    # a batch frame: the check fires before the stateful operator is built
    docs = spark.createDataFrame([(1, "some text")], "doc_id long, text string")
    with pytest.raises(ValueError, match="divisible by band_size"):
        near_dedup_stream(docs, num_hashes=8, band_size=3)
