"""Round-5 hardening: the bounded CCNet LM vocabulary (top-V + pooled
unk mass, CCNet/KenLM practice) behind line_perplexity / ccnet_buckets,
with the overflow-visibility report — planted fat-vocab corpora prove
the cutoff actually binds and the unbounded behavior is recovered
exactly below it."""

from __future__ import annotations

import math

from docling_spark.operators.textstats import (
    ccnet_buckets,
    line_perplexity,
    lm_vocab_overflow,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_bounded_vocab_pools_oov_mass(spark):
    """V=2 on a 4-type corpus: 'aa' (x4) and 'bb' (x3) stay in-vocab;
    'cc' (x2) and 'dd' (x1) drop, and every OOV token scores as the
    MEAN dropped type (3 unk tokens / 2 dropped types = 1.5) —
    hand-computed against the documented formula with v_eff = 2 kept
    types + 1 unk."""
    docs = _docs(spark, [
        (1, "aa aa aa aa bb bb"),
        (2, "bb cc cc dd"),
    ])
    got = {(r.doc_id, r.line_no): r.ppl
           for r in line_perplexity(docs, max_vocab=2).collect()}
    n_total, v_eff, unk_mean = 10, 3, 1.5
    c_aa = -math.log((4 + 1) / (n_total + v_eff))
    c_bb = -math.log((3 + 1) / (n_total + v_eff))
    c_unk = -math.log((unk_mean + 1) / (n_total + v_eff))
    want1 = round(math.exp((4 * c_aa + 2 * c_bb) / 6), 6)
    want2 = round(math.exp((c_bb + 2 * c_unk + c_unk) / 4), 6)
    assert got[(1, 0)] == want1
    assert got[(2, 0)] == want2


def test_bounded_vocab_reduces_to_unbounded_below_cutoff(spark):
    """When the corpus vocabulary fits in V, the bounded LM IS the
    unbounded LM — v_eff equals the type count and the unk branch is
    never consulted (the oracle contract pins this regime)."""
    docs = _docs(spark, [
        (1, "x y z x\nq r"),
        (2, "y y z"),
    ])
    wide = {(r.doc_id, r.line_no): r.ppl
            for r in line_perplexity(docs, max_vocab=1 << 18).collect()}
    tight = {(r.doc_id, r.line_no): r.ppl
             for r in line_perplexity(docs, max_vocab=6).collect()}
    assert wide == tight

    b_wide = sorted((r.doc_id, r.bucket)
                    for r in ccnet_buckets(docs).collect())
    b_tight = sorted((r.doc_id, r.bucket)
                     for r in ccnet_buckets(docs,
                                            max_vocab=6).collect())
    assert b_wide == b_tight


def test_ccnet_buckets_stable_under_fat_vocab(spark):
    """A planted fat vocab (every token unique except a shared fluent
    core) with V=4: the unigram table the join broadcasts is O(V), the
    job completes, and the fluent doc still lands in a lower-perplexity
    bucket than the all-OOV doc."""
    core = "the of and to " * 5
    rows = [(1, core), (2, " ".join(f"tok{i}" for i in range(200)))]
    got = {r.doc_id: r for r in
           ccnet_buckets(_docs(spark, rows), max_vocab=4).collect()}
    assert got[1].ppl < got[2].ppl
    assert got[1].bucket == "head" and got[2].bucket == "tail"


def test_lm_vocab_overflow_report(spark):
    """The visibility row: exact type/token accounting when the cutoff
    binds, empty when it doesn't."""
    docs = _docs(spark, [(1, "aa aa aa aa bb bb"), (2, "bb cc cc dd")])
    row, = lm_vocab_overflow(docs, max_vocab=2).collect()
    assert (row.vocab_all, row.vocab_kept, row.dropped_types,
            row.unk_token_count) == (4, 2, 2, 3)
    assert lm_vocab_overflow(docs, max_vocab=16).count() == 0


def test_bounded_lm_leaves_no_cached_blocks(spark):
    """The three bounded-LM queries cache nothing: a caller that never
    unpersists anything still ends with the persistent-RDD count it
    started with."""
    sc = spark.sparkContext
    docs = _docs(spark, [(1, "aa aa bb\ncc"), (2, "bb cc dd")])
    before = sc._jsc.getPersistentRDDs().size()
    line_perplexity(docs, max_vocab=2).collect()
    ccnet_buckets(docs, max_vocab=2).collect()
    lm_vocab_overflow(docs, max_vocab=2).collect()
    assert sc._jsc.getPersistentRDDs().size() == before


# ---------------------------------------------- int8 embedding quantization

def test_quantize_roundtrip_error_bounded(spark):
    """Symmetric int8: dequantized values within scale/2 of the
    original everywhere (half-step rounding bound), zero vectors exact,
    codes within [-127, 127]."""
    from docling_spark.operators.similarity import (
        dequantize_embeddings, quantize_embeddings,
    )

    rows = [(0, [0.5, -1.0, 0.25, 0.0]),
            (1, [0.0, 0.0, 0.0, 0.0]),
            (2, [3.0, 2.0, -3.0, 1.0])]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    q = {r.vec_id: r for r in quantize_embeddings(emb).collect()}
    assert q[1].scale == 0.0 and q[1].qvec == [0, 0, 0, 0]
    assert all(-127 <= c <= 127 for r in q.values() for c in r.qvec)
    assert q[2].qvec == [127, 85, -127, 42]  # round(v*127/3)
    d = {r.vec_id: r.embedding
         for r in dequantize_embeddings(quantize_embeddings(emb))
         .collect()}
    for vid, orig in rows:
        scale = q[vid].scale
        for a, b in zip(orig, d[vid]):
            # + 1e-7: the emitted scale is rounded to 9 dp, shifting
            # each reconstructed value by up to 127 * 5e-10
            assert abs(a - b) <= scale / 2 + 1e-7
    assert d[1] == [0.0, 0.0, 0.0, 0.0]


def test_quantized_knn_agrees_with_float_ranking(spark):
    """Cosine is scale-invariant, so ranking over int8 codes agrees
    with the float ranking up to quantization noise — exact here by
    construction (axis-aligned vectors)."""
    from docling_spark.operators.similarity import (
        quantize_embeddings, quantized_knn,
    )

    rows = [(0, [1.0, 0.0]), (1, [0.9, 0.1]), (2, [0.0, 1.0]),
            (3, [0.7, 0.7])]
    emb = spark.createDataFrame(rows,
                                "vec_id long, embedding array<double>")
    q = quantize_embeddings(emb)
    qv = q.filter("vec_id = 0").collect()[0].qvec
    got = quantized_knn(q.filter("vec_id != 0"), qv, topk=2).collect()
    assert [r.vec_id for r in got] == [1, 3]
