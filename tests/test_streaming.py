"""Structured Streaming wrapper: the same extraction operator under
readStream → writeStream with availableNow catch-up semantics and
checkpointed exactly-once progress (SURVEY.md §2.i)."""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_spark.sources.transcripts import transcripts_df
from docling_spark.streaming.stream_extract import run_stream


def test_stream_matches_batch(spark, tmp_path):
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    tr = transcripts_df(spark, 12, partitions=3)
    tr.write.parquet(inp)
    n_in = spark.read.parquet(inp).count()

    q = run_stream(spark, inp, out, ckpt)
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    got = spark.read.parquet(out)
    assert got.count() == n_in
    # same per-status counts as the batch operator on the same input
    from docling_spark.operators.extract_ops import extract_turns

    batch = {
        r["status"]: r["n"]
        for r in extract_turns(spark.read.parquet(inp))
        .groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    stream = {
        r["status"]: r["n"]
        for r in got.groupBy("status").agg(F.count("*").alias("n")).collect()
    }
    assert batch == stream

    # restart with the same checkpoint and no new files: no duplicates
    q2 = run_stream(spark, inp, out, ckpt)
    try:
        assert q2.awaitTermination(120)
    finally:
        q2.stop()
    assert spark.read.parquet(out).count() == n_in


def test_stream_stream_join_within_tolerance(spark, tmp_path):
    """Watermarked stream-stream join matches the batch join and only
    pairs annotations within the event-time tolerance."""
    import datetime

    from docling_spark.streaming.stream_extract import join_streams_within

    def ts(m):
        return datetime.datetime(2026, 1, 1, 10, m, 0)

    turns = spark.createDataFrame(
        [("c1", 0, ts(0), "a"), ("c1", 1, ts(10), "b"), ("c2", 0, ts(0), "c")],
        "conv_id string, turn_idx int, ts timestamp, text string",
    )
    anns = spark.createDataFrame(
        [
            ("c1", 0, ts(5), "good"),     # within 1h of turn
            ("c1", 0, ts(59), "late-ok"),  # still within
            ("c1", 1, ts(5), "early"),     # BEFORE the turn -> dropped
            ("c2", 0, ts(0), "exact"),     # same instant -> kept
            ("c9", 0, ts(5), "nokey"),     # unmatched key
        ],
        "conv_id string, turn_idx int, ann_ts timestamp, label string",
    )
    t_in, a_in = str(tmp_path / "t"), str(tmp_path / "a")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ck")
    turns.write.parquet(t_in)
    anns.write.parquet(a_in)

    ts_stream = spark.readStream.schema(turns.schema).parquet(t_in)
    ann_stream = spark.readStream.schema(anns.schema).parquet(a_in)
    joined = join_streams_within(ts_stream, ann_stream)
    q = (
        joined.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    got = {(r["conv_id"], r["turn_idx"], r["label"])
           for r in spark.read.parquet(out).collect()}
    assert got == {
        ("c1", 0, "good"), ("c1", 0, "late-ok"), ("c2", 0, "exact"),
    }
    # batch twin: identical pairs through the same operator
    batch = {(r["conv_id"], r["turn_idx"], r["label"])
             for r in join_streams_within(turns, anns).collect()}
    assert batch == got


def test_stream_allowed_formats_policy(spark, tmp_path):
    """The allowed-format policy gate (document_converter.py:738-752)
    applies identically under the streaming wrapper: disallowed formats
    come back as SKIPPED rows with a policy error."""
    rows = [("c1", 0, "user", None, "<h1>T</h1><p>b</p>", "html"),
            ("c1", 1, "user", None, "# Title\n\nbody", "md"),
            ("c1", 2, "user", None, "a,b\n1,2\n3,4", "csv")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, ts timestamp, "
              "text string, tool string"
    )
    inp, out, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    df.write.parquet(inp)

    q = run_stream(spark, inp, out, ckpt,
                   allowed_formats=("html", "csv"))
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    got = {r["turn_idx"]: r for r in spark.read.parquet(out).collect()}
    assert got[0]["status"] == "success"
    assert got[2]["status"] == "success"
    assert got[1]["status"] == "skipped"
    assert [e["category"] for e in got[1]["errors"]] == ["policy"]


def test_chunk_assembled_stream_matches_batch(spark, tmp_path):
    """The streaming chunk sink (stateless mapInPandas over assembled
    conversations) runs as a real streaming query AND produces exactly
    the rows the identical call produces on the same data as a batch
    frame — the shared scan_doc kernel guarantees it."""
    from docling_spark.streaming.stream_extract import (
        chunk_assembled_stream,
    )

    rows = [
        ("c1", "one two three\n\nfour five\n\nsix seven eight nine"),
        ("c2", "alpha beta gamma delta epsilon zeta eta theta"),
        ("c3", None),
    ]
    schema = "conv_id string, conversation_text string"
    inp = str(tmp_path / "cin")
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.parquet(inp)

    batch = chunk_assembled_stream(
        spark.createDataFrame(rows, schema), max_tokens=5).collect()

    src = spark.readStream.schema(schema).parquet(inp)
    out = str(tmp_path / "cout")
    q = (
        chunk_assembled_stream(src, max_tokens=5)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "cckpt"))
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()
    streamed = spark.read.parquet(out).collect()

    key = lambda r: (r.conv_id, r.chunk_idx)  # noqa: E731
    assert sorted(((r.conv_id, r.chunk_idx, r.chunk_text, r.n_tokens)
                   for r in streamed)) == \
        sorted(((r.conv_id, r.chunk_idx, r.chunk_text, r.n_tokens)
                for r in batch))
    got = {r.conv_id: [] for r in batch}
    for r in sorted(batch, key=key):
        got[r.conv_id].append(r.chunk_text)
    # budget 5: paras of 3+2 merge (3+0sep+2<=5), the 4-word para stays
    assert got["c1"] == ["one two three\nfour five",
                         "six seven eight nine"]
    # an 8-word paragraph splits into 5+3 word windows
    assert got["c2"] == ["alpha beta gamma delta epsilon",
                         "zeta eta theta"]
    assert "c3" not in {r.conv_id for r in batch}
