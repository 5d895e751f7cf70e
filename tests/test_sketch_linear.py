"""Near-dup and curation sketches built in time linear in document
length: each rewritten operator equals an inline build of the expression
it replaced (the per-gram ``slice`` k-grams, the explode + ``groupBy``
simhash vote, the per-element ``amax``, the per-stopword lambda), and no
optimized plan re-derives a whole-document value per array element."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from tests.planutils import formatted_plan

_LONG_TOKENS = 5200


def _texts():
    """Null, empty, whitespace-only, shorter-than-k (k = 3 shingles, n = 8
    grams), mixed case and whitespace, repeats, and a ≥5,000-token text."""
    rng = random.Random(11)
    vocab = ["the", "of", "and", "to", "be", "that", "a", "in", "B", "c",
             "De", "f", "gh", "I", "jk", "L"]
    long = " ".join(rng.choice(vocab) for _ in range(_LONG_TOKENS))
    return [
        (1, None), (2, ""), (3, " \t\n "), (4, "one"), (5, "One two"),
        (6, "a b c d e f g"),
        (7, "The  quick\tbrown fox\njumps over the lazy dog the quick fox"),
        (8, "to be or not to be that is the question to be"),
        (9, "repeat repeat repeat repeat repeat repeat repeat repeat repeat"),
        (10, long),
    ]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(_texts(), "doc_id long, text string")


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


# -- the parent expressions, built inline -----------------------------------

def _parent_kgrams(toks, k):
    """The parent's ``top_bigram_stats`` grams for any ``k``: a per-gram
    ``slice`` of ``toks`` (re-evaluated per gram) behind a short-document
    guard."""
    return F.when(
        F.size(toks) >= k,
        F.transform(F.sequence(F.lit(0), F.size(toks) - k),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
    ).otherwise(F.array().cast("array<string>"))


def _parent_shingle_array(text_col, k):
    from docling_spark.operators.dedup import hash60
    from docling_spark.operators.textstats import norm_text

    toks = F.split(norm_text(text_col), " ")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    sh = F.when(
        n >= k,
        F.transform(
            idx, lambda i: hash60(F.concat_ws(" ", F.slice(toks, i + 1, k)))
        ),
    ).otherwise(F.array(hash60(F.concat_ws(" ", toks))))
    return F.array_distinct(sh)


def _parent_signature_array(sh, num_hashes=8):
    """The parent's K ``array_min(transform(sh, …))`` over a shingle array
    (pass it bound: the parent's quadratic shingle array, rebuilt per
    hash function, makes a ≥5,000-token text slow to check)."""
    from docling_spark.operators.dedup import MH_H_MOD, MH_P, mh_consts

    return F.array(*[
        F.array_min(F.transform(
            sh, lambda s: F.pmod(F.lit(a) * F.pmod(s, F.lit(MH_H_MOD))
                                 + F.lit(b), F.lit(MH_P))))
        for (a, b) in mh_consts(num_hashes)])


def _parent_simhash(docs, bits=60):
    from docling_spark.operators.dedup import hash60
    from docling_spark.operators.textstats import norm_text

    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(
            F.coalesce(norm_text(F.col("text")), F.lit("")), " "))
        ).alias("tok"),
    ).withColumn("h", hash60(F.col("tok")))
    votes = toks.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"v_{b}")
        for b in range(bits)])
    return votes.select("doc_id", sum(
        (F.when(F.col(f"v_{b}") > 0, F.lit(1)).otherwise(F.lit(0))
         * F.lit(2 ** b)).cast("long")
        for b in range(bits)).alias("simhash"))


def _parent_quantize(emb):
    v = F.col("embedding").cast("array<double>")
    amax = F.aggregate(v, F.lit(0.0),
                       lambda acc, x: F.greatest(acc, F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(0.0))
    q = F.when(
        amax > 0,
        F.transform(v, lambda x: F.round(x * F.lit(127.0) / amax)
                    .cast("int")),
    ).otherwise(F.transform(v, lambda x: F.lit(0)))
    return emb.select("vec_id", F.round(scale, 9).alias("scale"),
                      q.alias("qvec"))


def _parent_stopword_hits(col):
    from docling_spark.operators.textstats import tokens
    from docling_spark.operators.webquality import GOPHER_REQUIRED_STOPWORDS

    ltoks = tokens(F.lower(col))
    return F.size(F.filter(
        F.array(*[F.lit(w) for w in GOPHER_REQUIRED_STOPWORDS]),
        lambda w: F.array_contains(ltoks, w)))


# -- equality against the parent --------------------------------------------

@pytest.mark.parametrize("k", [1, 3])
def test_shingles_equal_parent(spark, docs, k):
    from docling_spark.operators.dedup import shingles

    want = docs.select(
        "doc_id",
        F.explode(_parent_shingle_array(F.col("text"), k)).alias("shingle"))
    got = shingles(docs, k=k)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_signature_array_equals_parent(spark, docs):
    from docling_spark.operators.dedup import minhash_signature_array

    want = docs.select(
        "doc_id", _parent_shingle_array(F.col("text"), 3).alias("sh")
    ).select("doc_id", _parent_signature_array(F.col("sh")).alias("sig"))
    got = docs.select(
        "doc_id", minhash_signature_array(F.col("text")).alias("sig"))
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_simhash_equals_parent(spark, docs):
    from docling_spark.operators.dedup import simhash

    for bits in (60, 7):
        got = simhash(docs, bits=bits)
        want = _parent_simhash(docs, bits)
        assert got.columns == want.columns == ["doc_id", "simhash"]
        rows = got.collect()
        assert len(rows) == len(_texts())
        assert dict(rows) == dict(want.collect())


def test_simhash_signs_each_input_row(spark):
    """A doc_id on two input rows gets one signature per row, each its own
    text's; the parent's groupBy merged the two rows' votes."""
    from docling_spark.operators.dedup import simhash

    a = "alpha beta gamma delta epsilon zeta eta theta"
    b = "entirely other words about query planning here"
    dup = spark.createDataFrame([(1, a), (1, b), (2, a), (3, b)],
                                "doc_id long, text string")
    got = sorted(tuple(r) for r in simhash(dup).collect())
    single = dict(simhash(dup.filter(F.col("doc_id") > 1)).collect())
    assert single[2] != single[3]
    assert got == sorted([(1, single[2]), (1, single[3]),
                          (2, single[2]), (3, single[3])])


def test_ngram_hashes_equal_parent(spark, docs):
    from docling_spark.operators.curation import ngram_hashes
    from docling_spark.operators.textstats import tokens

    for n in (2, 8):
        toks = tokens(F.lower(F.col("text")))
        grams = F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(0), F.size(toks) - n),
                lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, n))),
            ),
        ).otherwise(F.array().cast("array<string>"))
        want = docs.select(
            F.col("doc_id").alias("id"),
            F.explode(F.array_distinct(grams)).alias("gram_hash"))
        got = ngram_hashes(docs, n)
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)


def test_top_bigram_stats_equal_parent(spark, docs, monkeypatch):
    """The operator with the parent's per-gram slice in place of
    ``kgrams`` — the only expression the rewrite changed in it."""
    from docling_spark.operators import curation

    got = curation.top_bigram_stats(docs)
    monkeypatch.setattr(curation, "kgrams", _parent_kgrams)
    want = curation.top_bigram_stats(docs)
    assert got.schema == want.schema
    got, want = _rows(got), _rows(want)
    assert got == want
    assert len(got) == len(_texts())


def test_quantize_embeddings_equal_parent(spark):
    from docling_spark.operators.similarity import quantize_embeddings

    rng = random.Random(5)
    rows = [(1, [rng.uniform(-1, 1) for _ in range(768)]), (2, None),
            (3, []), (4, [0.0, 0.0, 0.0]), (5, [0.5, None, -2.0]),
            (6, [-3.0, 1.5, 3.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = quantize_embeddings(emb)
    want = _parent_quantize(emb)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)


def test_required_stopword_hits_equal_parent(spark, docs):
    from docling_spark.operators.webquality import required_stopword_hits

    got = docs.select("doc_id", required_stopword_hits(F.col("text")))
    want = docs.select("doc_id", _parent_stopword_hits(F.col("text")))
    assert _rows(got) == _rows(want)
    hits = dict(_rows(got))
    assert hits[1] == 0 and hits[2] == 0  # null and empty text
    assert hits[8] == 4  # to, be, that, the


# -- plan guard -------------------------------------------------------------

# whole-document work: tokenizing, normalizing, or folding a whole array
_REDERIVE = {"RegExpReplace", "StringSplit", "Lower", "ArrayAggregate"}


def _walk(node):
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _name(node) -> str:
    return node.getClass().getSimpleName()


def _plan_expressions(df):
    for plan in _walk(df._jdf.queryExecution().optimizedPlan()):
        exprs = plan.expressions()
        for i in range(exprs.size()):
            yield from _walk(exprs.apply(i))


def _per_element_rederivations(df) -> list[str]:
    """Names of the whole-document nodes inside a lambda body that read
    a column (not only lambda variables) — work done once per array
    element that depends on the row alone."""
    hits = []
    for e in _plan_expressions(df):
        if _name(e) != "LambdaFunction":
            continue
        for node in _walk(e.function()):
            if _name(node) in _REDERIVE and any(
                    _name(x) == "AttributeReference" for x in _walk(node)):
                hits.append(_name(node))
    return hits


def _operators(spark):
    from docling_spark.operators.curation import (
        ngram_hashes,
        top_bigram_stats,
    )
    from docling_spark.operators.dedup import (
        minhash_signature_array,
        shingles,
        simhash,
    )
    from docling_spark.operators.similarity import quantize_embeddings
    from docling_spark.operators.webquality import required_stopword_hits

    d = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    emb = spark.createDataFrame([(1, [1.0, -2.0])],
                                "vec_id long, embedding array<double>")
    return {
        "shingles": shingles(d),
        "minhash_signature_array": d.select(
            minhash_signature_array(F.col("text"))),
        "simhash": simhash(d),
        "ngram_hashes": ngram_hashes(d, 8),
        "top_bigram_stats": top_bigram_stats(d),
        "quantize_embeddings": quantize_embeddings(emb),
        "required_stopword_hits": d.select(
            required_stopword_hits(F.col("text"))),
    }


def test_no_lambda_rederives_the_document(spark):
    found = {name: _per_element_rederivations(df)
             for name, df in _operators(spark).items()}
    assert found == {name: [] for name in found}


def test_simhash_plan_has_no_shuffle_or_aggregate(spark):
    from docling_spark.operators.dedup import simhash

    d = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    plan = formatted_plan(spark, simhash(d))
    assert "Exchange" not in plan
    assert "Aggregate" not in plan
    assert "ArrowEvalPython" in plan


def _nodes(df, name):
    return [e for e in _plan_expressions(df) if _name(e) == name]


def test_signature_array_binds_the_shingle_array_once(spark):
    """The K ``array_min(transform(…))`` of ``minhash_signature_array``,
    and so of ``near_dedup_stream``, read a bound shingle array — a lambda
    variable — and never rebuild it from the text column."""
    from docling_spark.operators.dedup import minhash_signature_array
    from docling_spark.streaming.stateful import near_dedup_stream

    d = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for df in (d.select(minhash_signature_array(F.col("text"))),
               near_dedup_stream(d)):
        mins = _nodes(df, "ArrayMin")
        assert len(mins) == 8
        assert not [x for e in mins for x in _walk(e)
                    if _name(x) in _REDERIVE | {"AttributeReference"}]


def test_kgrams_tokenize_a_fixed_number_of_times(spark):
    """The token expression appears in the plan as often for 8-grams as
    for 2-grams: ``kgrams`` binds it once, whatever ``k``."""
    from docling_spark.operators.curation import ngram_hashes
    from docling_spark.operators.dedup import shingles

    d = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    for build in (lambda k: shingles(d, k=k),
                  lambda k: ngram_hashes(d, k)):
        splits = {k: len(_nodes(build(k), "StringSplit")) for k in (2, 8)}
        assert splits[2] == splits[8] <= 3, splits
