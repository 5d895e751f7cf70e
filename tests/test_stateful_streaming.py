"""applyInPandasWithState conversation assembly: turns arriving across
micro-batches are held in per-conversation state and flushed on idle
timeout; the flushed text equals the batch assembler's output."""

from __future__ import annotations

import time

from pyspark.sql import functions as F


def test_stateful_assembly_matches_batch(spark, tmp_path):
    from docling_spark.operators.extract_ops import (
        assemble_conversations,
        extract_turns,
    )
    from docling_spark.sources.transcripts import transcripts_df
    from docling_spark.streaming.stateful import assemble_conversations_stream

    inp = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")

    tr = transcripts_df(spark, 6, partitions=2, long_every=0)
    ext = extract_turns(tr).select("conv_id", "turn_idx", "extracted_text",
                                   "status").cache()
    # split each conversation's turns across two files → two micro-batches
    ext.filter(F.col("turn_idx") % 2 == 0).write.parquet(inp + "/p0")
    ext.filter(F.col("turn_idx") % 2 == 1).write.parquet(inp + "/p1")

    expected = {
        r["conv_id"]: (r["conversation_text"], r["n_turns"])
        for r in assemble_conversations(ext).collect()
    }

    src = (
        spark.readStream.schema(
            "conv_id string, turn_idx int, extracted_text string, status string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(inp + "/p*")
    )
    # idle window must exceed worst-case inter-batch latency (first batches
    # pay python-worker spin-up, and a loaded multi-tenant box can stall a
    # micro-batch for tens of seconds), or conversations flush partially —
    # which is correct operator behavior but not what this test compares
    out = assemble_conversations_stream(src, idle_ms=90_000)
    q = (
        out.writeStream.format("memory")
        .queryName("assembled")
        .outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        deadline = time.time() + 420
        got: dict = {}
        while time.time() < deadline:
            rows = spark.sql("select * from assembled").collect()
            got = {r["conv_id"]: (r["conversation_text"], r["n_turns"])
                   for r in rows}
            if got == expected:
                break
            time.sleep(2)
    finally:
        q.stop()

    assert set(got) == set(expected)
    for conv_id, (text, n) in expected.items():
        assert got[conv_id][1] == n, conv_id
        assert got[conv_id][0] == text, conv_id


def test_assembler_skips_null_text():
    """Null extracted_text must be skipped (the batch twin's array_join
    drops null elements) — not stringified into the literal 'None'."""
    import pandas as pd

    from docling_spark.streaming.stateful import make_assembler

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def setTimeoutDuration(self, ms):
            pass

        def remove(self):
            self._v = None

    fn = make_assembler()
    st = FakeState()
    pdf = pd.DataFrame({"turn_idx": [0, 1, 2],
                        "extracted_text": ["a", None, "c"]})
    assert list(fn(("c1",), iter([pdf]), st)) == []
    st.hasTimedOut = True
    out = list(fn(("c1",), iter([]), st))[0]
    assert out["conversation_text"].iloc[0] == "a\n\nc"
    # n_turns counts ALL turns incl. the null-text one — the batch
    # twin's count(*) semantics (assemble_conversations)
    assert int(out["n_turns"].iloc[0]) == 3


def test_stream_dedup_keeps_first_across_microbatches(spark, tmp_path):
    """Exact-dedup over a stream: duplicates arriving in LATER
    micro-batches are dropped; each fingerprint emits exactly once."""
    from docling_spark.streaming.stateful import dedup_stream

    inp = str(tmp_path / "din")
    ckpt = str(tmp_path / "dckpt")
    out = str(tmp_path / "dout")

    rows1 = [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha  beta")]
    rows2 = [(4, "ALPHA beta"), (5, "epsilon zeta"), (6, "gamma delta")]
    # one part-file per intended micro-batch: with maxFilesPerTrigger=1
    # every part-file IS a micro-batch, so an uncoalesced write would
    # split rows1 across batches and make keep-first order nondeterministic
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .coalesce(1).write.parquet(inp + "/b0")
    spark.createDataFrame(rows2, "doc_id long, text string") \
        .coalesce(1).write.parquet(inp + "/b1")

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        dedup_stream(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    got = {r["fingerprint"]: r["doc_id"]
           for r in spark.read.parquet(out).collect()}
    # normalized fingerprints: 'alpha beta' == 'alpha  beta' == 'ALPHA beta'
    assert len(got) == 3  # alpha-beta, gamma-delta, epsilon-zeta
    assert sorted(got.values()) == [1, 2, 5]


def test_signature_array_matches_batch_signatures(spark):
    """minhash_signature_array (row-local, streaming-safe) is bit-identical
    to the batch shingles→minhash_signatures aggregation."""
    from pyspark.sql import functions as F

    from docling_spark.operators.dedup import (
        minhash_signature_array,
        minhash_signatures,
        shingles,
    )

    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "tiny"),
         (3, "a b"),
         (4, "Repeat repeat REPEAT  repeat tokens tokens everywhere again")],
        "doc_id long, text string")
    batch = {r["doc_id"]: [r[f"mh_{j}"] for j in range(8)]
             for r in minhash_signatures(shingles(docs), 8).collect()}
    rowlocal = {r["doc_id"]: list(r["sig"]) for r in docs.select(
        "doc_id", minhash_signature_array(F.col("text"), 8).alias("sig")
    ).collect()}
    assert batch == rowlocal


def test_stream_near_dedup_across_microbatches(spark, tmp_path):
    """Near-duplicates arriving in LATER micro-batches are caught by the
    LSH-bucket state; unrelated docs emit nothing."""
    from docling_spark.streaming.stateful import near_dedup_stream

    inp = str(tmp_path / "nin")
    ckpt = str(tmp_path / "nckpt")
    out = str(tmp_path / "nout")

    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    rows1 = [(1, base), (2, "completely different material about query planning")]
    rows2 = [(9, base + " today"), (10, "novel text with no twin anywhere at all")]
    spark.createDataFrame(rows1, "doc_id long, text string") \
        .coalesce(1).write.parquet(inp + "/b0")
    spark.createDataFrame(rows2, "doc_id long, text string") \
        .coalesce(1).write.parquet(inp + "/b1")

    src = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(inp + "/*")
    )
    q = (
        near_dedup_stream(src)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(300)
    finally:
        q.stop()

    got = spark.read.parquet(out).collect()
    assert got, "near-pair across micro-batches not detected"
    # per-doc consolidation (the documented batch step over the feed)
    verdicts = {}
    for r in got:
        cur = verdicts.get(r["doc_id"])
        if cur is None or r["dup_of"] < cur:
            verdicts[r["doc_id"]] = r["dup_of"]
    assert verdicts == {9: 1}


def test_stream_near_dedup_bucket_cap():
    """Docs beyond max_bucket still screen against stored signatures but
    are not added to state."""
    import pandas as pd

    from docling_spark.streaming.stateful import make_stream_near_dedup

    class FakeState:
        def __init__(self):
            self._v = None
            self.hasTimedOut = False

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

        def remove(self):
            self._v = None

    fn = make_stream_near_dedup(num_hashes=4, threshold=0.5, max_bucket=2)
    st = FakeState()
    # docs 1,2 fill the bucket (identical sigs → 2 matches 1)
    pdf = pd.DataFrame({"doc_id": [1, 2], "sig": [[7, 8, 9, 10]] * 2})
    out = list(fn((0, "k"), iter([pdf]), st))
    assert out and list(out[0]["doc_id"]) == [2]
    assert list(st.get[0]) == [1, 2]
    # doc 3 screens (matches 1) but is NOT stored
    pdf2 = pd.DataFrame({"doc_id": [3], "sig": [[7, 8, 9, 10]]})
    out2 = list(fn((0, "k"), iter([pdf2]), st))
    assert list(out2[0]["dup_of"]) == [1]
    assert list(st.get[0]) == [1, 2]


class _FakeState:
    """Minimal GroupState stand-in for kernel-level unit tests."""

    def __init__(self, value=None):
        self._v = value
        self.hasTimedOut = False
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutDuration(self, ms):
        pass


def test_assembler_replay_guard_counts_once():
    """An at-least-once source replaying the same turn row must not
    append it twice (turn_idx is the unique key within a conversation)."""
    import pandas as pd

    from docling_spark.streaming.stateful import _assemble, make_assembler

    fn = make_assembler(idle_ms=1000)
    st = _FakeState()
    batch = pd.DataFrame({"turn_idx": [0, 1], "extracted_text": ["a", "b"],
                          "status": ["success", "success"]})
    list(fn(("c1",), iter([batch]), st))          # first delivery
    list(fn(("c1",), iter([batch]), st))          # replay
    idxs, texts, n_seen, n_success = st.get
    assert list(idxs) == [0, 1] and list(texts) == ["a", "b"]
    assert n_seen == 2 and n_success == 2
    out = _assemble("c1", list(idxs), list(texts), n_seen, n_success, "\n\n")
    assert out["conversation_text"][0] == "a\n\nb"
    assert out["n_turns"][0] == 2 and out["n_success"][0] == 2


def test_assembler_null_turn_idx_skipped_not_crashed():
    import pandas as pd

    from docling_spark.streaming.stateful import make_assembler

    fn = make_assembler(idle_ms=1000)
    st = _FakeState()
    batch = pd.DataFrame({"turn_idx": pd.array([0, None], dtype="Int64"),
                          "extracted_text": ["a", "ghost"],
                          "status": ["success", "success"]})
    list(fn(("c1",), iter([batch]), st))
    idxs, texts, n_seen, n_success = st.get
    assert list(idxs) == [0] and n_seen == 1


def test_near_dedup_screens_same_batch_past_cap():
    """With the bucket at max_bucket, two near-identical new docs in one
    micro-batch must still be screened against each other."""
    import pandas as pd

    from docling_spark.streaming.stateful import make_stream_near_dedup

    fn = make_stream_near_dedup(num_hashes=4, threshold=0.5, max_bucket=1)
    st = _FakeState(([7], [1, 2, 3, 4]))  # stored: doc 7, full bucket
    batch = pd.DataFrame({
        "doc_id": [100, 101],
        "sig": [[9, 9, 9, 9], [9, 9, 9, 8]],  # agree on 3/4 with each other
    })
    out = list(fn((0, "b"), iter([batch]), st))
    rows = out[0] if out else pd.DataFrame()
    pairs = {(r.doc_id, r.dup_of) for r in rows.itertuples()}
    assert (101, 100) in pairs       # same-batch screen past the cap
    ids, sigs = st.get
    assert list(ids) == [7]          # cap still bounds stored state


def test_assembler_null_text_turn_replay_counted_once():
    """Cross-batch replay of a COUNTED-but-text-less turn (failed
    extraction) must not re-increment n_seen/n_turns: every counted
    turn_idx is persisted in state, not just the text-bearing ones."""
    import pandas as pd

    from docling_spark.streaming.stateful import make_assembler

    fn = make_assembler(idle_ms=1000)
    st = _FakeState()
    b1 = pd.DataFrame({"turn_idx": [0, 1], "extracted_text": ["a", None],
                       "status": ["success", "failure"]})
    list(fn(("c1",), iter([b1]), st))
    b2 = pd.DataFrame({"turn_idx": [1], "extracted_text": [None],
                       "status": ["failure"]})  # redelivery, later batch
    list(fn(("c1",), iter([b2]), st))
    idxs, texts, n_seen, n_success = st.get
    assert n_seen == 2 and n_success == 1
    assert list(idxs) == [0, 1] and list(texts) == ["a", None]
    st.hasTimedOut = True
    out = list(fn(("c1",), iter([]), st))[0]
    assert out["conversation_text"][0] == "a"
    assert int(out["n_turns"][0]) == 2 and int(out["n_success"][0]) == 1


def test_assembler_reads_legacy_state_shapes():
    """A checkpoint written by the earlier 3-field state schema (no
    n_success) must be decoded, not crash the first stateful batch."""
    import pandas as pd

    from docling_spark.streaming.stateful import make_assembler

    fn = make_assembler(idle_ms=1000)
    st = _FakeState(([0, 2], ["a", "c"], 3))  # legacy: 3 fields, and one
    # counted turn (n_seen=3) that the old layout never stored
    b = pd.DataFrame({"turn_idx": [3], "extracted_text": ["d"],
                      "status": ["success"]})
    list(fn(("c1",), iter([b]), st))
    idxs, texts, n_seen, n_success = st.get
    assert n_seen == 4 and n_success == 1
    assert list(idxs) == [0, 2, 3] and list(texts) == ["a", "c", "d"]
    st.hasTimedOut = True
    out = list(fn(("c1",), iter([]), st))[0]
    assert out["conversation_text"][0] == "a\n\nc\n\nd"
    assert int(out["n_turns"][0]) == 4
