"""Custom stateful streaming operator: incremental conversation assembly.

The reference assembles a document once all its pages are in
(standard_pdf_pipeline.py:982-1048, reorder + concat). In a stream,
turns of a conversation arrive across micro-batches; this operator keeps
per-conversation state (turns seen so far) with
``applyInPandasWithState`` and emits the assembled conversation when the
conversation goes idle (processing-time timeout) — the streaming form of
``assemble_conversations``.

State: one row per conv_id holding parallel arrays (turn_idx, text) plus
a turn counter. Timeout: GroupStateTimeout.ProcessingTimeTimeout — an idle
conversation flushes after ``idle_ms``. Emitted rows are identical to the
batch assembler's output for the same turns (sorted by turn_idx at flush,
never by arrival order).

Scale notes: state is per-conversation and bounded by turn count; the
grouping key is conv_id, so a skewed conversation lands on one task —
acceptable because state updates are O(batch) appends; the heavy
extraction runs stateless BEFORE this operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

STATE_SCHEMA = T.StructType(
    [
        # ALL counted turns, incl. null-text (failed-extraction) ones —
        # the replay guard rebuilds its seen-set from this array, so a
        # turn that is counted but not recorded would be re-counted when
        # a later micro-batch redelivers it (at-least-once sources)
        T.StructField("turn_idxs", T.ArrayType(T.IntegerType()), True),
        # parallel to turn_idxs; None marks a text-less turn (the batch
        # twin's array_join skips nulls the same way)
        T.StructField("texts", T.ArrayType(T.StringType()), True),
        # ALL turns seen, incl. null-text ones: the batch twin's n_turns
        # is count(*), so the streaming count must not shrink when a
        # failed extraction contributes no text
        T.StructField("n_seen", T.IntegerType(), True),
        T.StructField("n_success", T.IntegerType(), True),
    ]
)


def _read_state(tup) -> tuple[list[int], list, int, int]:
    """Decode a state row, tolerating earlier layouts: the 3-field schema
    (no n_success) pads 0, and pre-round-4 states that stored only
    text-bearing turns get their texts padded back to parallel length (the
    extra Nones are harmless — worst case a replayed text-less turn from
    before the upgrade is counted once more, exactly the old behavior)."""
    vals = list(tup)
    idxs = [int(i) for i in (vals[0] or [])]
    texts = list(vals[1] or [])
    n_seen = int(vals[2]) if len(vals) > 2 and vals[2] is not None else len(idxs)
    n_success = int(vals[3]) if len(vals) > 3 and vals[3] is not None else 0
    while len(texts) < len(idxs):  # pre-r4 state: text-bearing only
        texts.append(None)
    return idxs, texts, n_seen, n_success

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("conversation_text", T.StringType(), True),
        T.StructField("n_turns", T.IntegerType(), True),
        # batch-parity column (assemble_conversations emits it too)
        T.StructField("n_success", T.IntegerType(), True),
    ]
)


def _assemble(conv_id: str, idxs: list[int], texts: list,
              n_seen: int, n_success: int, sep: str) -> pd.DataFrame:
    order = sorted(range(len(idxs)), key=lambda i: idxs[i])
    return pd.DataFrame(
        {
            "conv_id": [conv_id],
            # None texts are counted turns with no extracted text — the
            # batch twin's array_join skips nulls, so does the join here
            "conversation_text": [sep.join(
                texts[i] for i in order if texts[i] is not None)],
            # count ALL turns (batch twin: F.count('*')), not just the
            # text-bearing ones the join skipped
            "n_turns": [n_seen],
            "n_success": [n_success],
        }
    )


def make_assembler(idle_ms: int = 30_000, sep: str = "\n\n"):
    """Returns the (key, batches, state) function for applyInPandasWithState.

    Late-straggler semantics (the standard session-window tradeoff): a
    turn arriving AFTER its conversation's idle flush starts a fresh
    state and eventually emits a second, partial row for the same
    conv_id. Size ``idle_ms`` beyond the source's worst-case lateness;
    keyed sinks that must tolerate stragglers should merge by
    max(n_turns) rather than blind overwrite. Retaining tombstones to
    resume flushed conversations would make state O(all conversations
    ever seen) — the idle timeout IS the state bound."""

    def assemble(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.hasTimedOut:
            idxs, texts, n_seen, n_success = _read_state(state.get)
            state.remove()
            yield _assemble(conv_id, idxs, texts, n_seen, n_success, sep)
            return
        if state.exists:
            idxs, texts, n_seen, n_success = _read_state(state.get)
        else:
            idxs, texts, n_seen, n_success = [], [], 0, 0
        seen_idxs = set(idxs)
        for pdf in pdfs:
            statuses = (pdf["status"] if "status" in pdf.columns
                        else [None] * len(pdf))
            for i, v, st in zip(pdf["turn_idx"], pdf["extracted_text"],
                                statuses):
                # at-least-once delivery guard: turn_idx is the unique key
                # within a conversation (the north rule's stable ordering
                # contract), so a replayed row must not append twice. The
                # batch twin, fed the duplicate as two physical rows,
                # would count both — that divergence only arises for
                # malformed duplicate-idx data; replay is the case that
                # actually happens. This also makes duplicate-idx
                # tie-breaking (batch: text-sorted) a non-issue here:
                # first arrival wins deterministically per delivery.
                if i is None or (not isinstance(i, (int,)) and pd.isna(i)):
                    continue  # unordered row: skip, never crash the query
                ii = int(i)
                if ii in seen_idxs:
                    continue
                seen_idxs.add(ii)
                n_seen += 1
                if st == "success":
                    n_success += 1
                # EVERY counted turn is recorded (text-less ones as None)
                # so the cross-batch replay guard covers them too; the
                # batch twin's array_join skips null elements — str(None)
                # would inject the literal "None" at assembly
                idxs.append(ii)
                if v is None or (not isinstance(v, str) and pd.isna(v)):
                    texts.append(None)
                else:
                    texts.append(str(v))
        state.update((idxs, texts, n_seen, n_success))
        state.setTimeoutDuration(idle_ms)
        return
        yield  # pragma: no cover — generator form

    return assemble


def assemble_conversations_stream(
    extracted: DataFrame, idle_ms: int = 30_000, sep: str = "\n\n"
) -> DataFrame:
    """extracted turn stream → assembled-conversation stream (update mode)."""
    cols = ["conv_id", "turn_idx", "extracted_text"]
    if "status" in extracted.columns:
        cols.append("status")  # feeds the batch-parity n_success count
    return (
        extracted.select(*cols)
        # never a null-key state group (same guard as the dedup twins):
        # file sources do not enforce declared non-nullability, and a
        # null conv_id would emit into the non-nullable output field
        .filter(F.col("conv_id").isNotNull())
        .groupBy("conv_id")
        .applyInPandasWithState(
            make_assembler(idle_ms, sep),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


DEDUP_STATE_SCHEMA = T.StructType(
    [T.StructField("seen", T.IntegerType(), True)]
)

DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
    ]
)


def make_stream_dedup():
    """(key, batches, state) function: emit only the FIRST document seen
    per fingerprint across the whole stream; later arrivals (any
    micro-batch) are dropped. State per fingerprint is one int."""

    def dedup(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (fingerprint,) = key
        if state.hasTimedOut:  # pragma: no cover — no timeout configured
            state.remove()
            return
        if state.exists:
            # hot duplicated fingerprints are the whole workload here —
            # skip the batch scan entirely, its result would be discarded
            return
        best = None  # (doc_id, text) with the smallest doc_id this batch
        for pdf in pdfs:
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if doc_id is None or pd.isna(doc_id):
                    continue  # never crash the query on a null id
                if best is None or int(doc_id) < best[0]:
                    best = (int(doc_id), str(text))
        if best is None:
            return
        state.update((1,))
        yield pd.DataFrame(
            {
                "fingerprint": [fingerprint],
                "doc_id": [best[0]],
                "text": [best[1]],
            }
        )

    return dedup


def dedup_stream(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Streaming exact-dedup (append mode): the stateful twin of the
    curation funnel's keep-first rule. Keyed by the normalized-text md5
    fingerprint; per-key state is a single int, so total state is
    O(distinct documents) — the canonical shape for continuous corpus
    ingestion where duplicates arrive days apart.
    """
    from pyspark.sql import functions as F

    from docling_spark.operators.textstats import fingerprint

    # the ONE canonical normalization (textstats.fingerprint) — inlining
    # it here is how streaming and batch dedup silently diverge. A null
    # text has no fingerprint and nothing to dedup: filtered, never a
    # null-key state group emitting text='None'
    fp = fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        docs.select(fp, "doc_id", F.col(text_col).alias("text"))
        .filter(F.col("fingerprint").isNotNull()
                & F.col("doc_id").isNotNull())
        .groupBy("fingerprint")
        .applyInPandasWithState(
            make_stream_dedup(),
            outputStructType=DEDUP_OUTPUT_SCHEMA,
            stateStructType=DEDUP_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming NEAR-duplicate detection (LSH-bucket-keyed state)
# ---------------------------------------------------------------------------

NEAR_DEDUP_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("band_id", T.IntegerType(), True),
        T.StructField("bucket", T.StringType(), True),
        T.StructField("doc_id", T.LongType(), True),
        T.StructField("dup_of", T.LongType(), True),
        T.StructField("jaccard_est", T.DoubleType(), True),
    ]
)

# flattened signatures: doc i owns sigs[i*K : (i+1)*K] — nested arrays are
# avoided in state on purpose (flat columnar state serializes smaller)
NEAR_DEDUP_STATE_SCHEMA = T.StructType(
    [
        T.StructField("doc_ids", T.ArrayType(T.LongType()), True),
        T.StructField("sigs", T.ArrayType(T.LongType()), True),
    ]
)


def make_stream_near_dedup(num_hashes: int = 8, threshold: float = 0.5,
                           max_bucket: int = 64):
    """(key, batches, state) function for LSH-bucket-keyed near-dup state.

    Per (band_id, bucket) the state holds the signatures of the first
    ``max_bucket`` docs that landed in the bucket. Each incoming doc is
    screened by signature agreement against the stored set (and earlier
    docs of the same micro-batch, in doc_id order — deterministic under
    replay); a passing doc emits ONE row pointing at the smallest passing
    predecessor. Docs beyond ``max_bucket`` still screen but are not
    stored — a hot bucket means mass duplication, and its first
    ``max_bucket`` representatives are screen enough; the cap is what
    bounds state at 100 TB.
    """

    def near(key, pdfs, state: GroupState):
        band_id, bucket = key
        if state.hasTimedOut:  # pragma: no cover — no timeout configured
            state.remove()
            return
        if state.exists:
            doc_ids, sigs = state.get
            doc_ids = list(doc_ids)
            sigs = list(sigs)
        else:
            doc_ids, sigs = [], []
        rows = []
        incoming = []
        for pdf in pdfs:
            for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
                if doc_id is None or pd.isna(doc_id) or sig is None:
                    continue  # never crash the query on a null row
                incoming.append((int(doc_id), [int(x) for x in sig]))
        incoming.sort(key=lambda t: t[0])
        changed = False
        # screening set = stored signatures PLUS this batch's unstored
        # arrivals: a full bucket must still compare doc 101 against doc
        # 100 from the same micro-batch (the docstring's same-batch
        # guarantee) even though neither will be stored
        screen_ids = list(doc_ids)
        screen_sigs = list(sigs)
        for doc_id, sig in incoming:
            if doc_id in screen_ids:
                continue  # replayed / duplicated input row
            best = None
            for i, prev_id in enumerate(screen_ids):
                prev = screen_sigs[i * num_hashes:(i + 1) * num_hashes]
                est = sum(1 for a, b in zip(sig, prev) if a == b) / num_hashes
                if est >= threshold and (best is None or prev_id < best[0]):
                    best = (prev_id, est)
            if best is not None:
                rows.append((band_id, bucket, doc_id, best[0], round(best[1], 6)))
            screen_ids.append(doc_id)
            screen_sigs.extend(sig)
            if len(doc_ids) < max_bucket:
                doc_ids.append(doc_id)
                sigs.extend(sig)
                changed = True
        if changed:
            state.update((doc_ids, sigs))
        if rows:
            yield pd.DataFrame(
                rows, columns=["band_id", "bucket", "doc_id", "dup_of",
                               "jaccard_est"])

    return near


def near_dedup_stream(docs: DataFrame, text_col: str = "text",
                      num_hashes: int = 8, band_size: int = 2,
                      threshold: float = 0.5,
                      max_bucket: int = 64) -> DataFrame:
    """Streaming near-duplicate detection: minhash signatures computed
    row-locally (no shuffle — ``minhash_signature_array``), banded, then
    keyed by (band_id, bucket) into ``applyInPandasWithState``. The
    streaming twin of ``incremental_dedup``: duplicates arriving
    micro-batches (or days) apart are caught by the bucket state.

    Emits one row per (band, passing doc): (band_id, bucket, doc_id,
    dup_of, jaccard_est). A doc near-matching on several bands emits once
    per band — consolidation to a per-doc verdict is a batch concern
    (groupBy doc_id → min dup_of over the emitted feed); keeping the
    stream append-only avoids a second stateful stage.

    State per bucket: ≤ ``max_bucket`` (doc_id, K-long signature) entries;
    the grouping key space is the band/bucket universe, so state is
    O(corpus · n_bands) longs worst case and bounded per key.
    """
    from pyspark.sql import functions as F

    from docling_spark.operators.dedup import (
        band_structs,
        minhash_signature_array,
    )

    sig = minhash_signature_array(F.col(text_col), num_hashes)
    # the ONE band-key definition (dedup.band_structs) — streaming bucket
    # keys must match the persisted batch LSH index byte-for-byte
    bands = band_structs(num_hashes, band_size,
                         lambda j: F.element_at(F.col("sig"), j + 1))
    banded = (
        docs.select(F.col("doc_id"), sig.alias("sig"))
        .select("doc_id", "sig", F.explode(bands).alias("bd"))
        .select("doc_id", "sig",
                F.col("bd.band_id").alias("band_id"),
                F.col("bd.bucket").alias("bucket"))
    )
    return banded.groupBy("band_id", "bucket").applyInPandasWithState(
        make_stream_near_dedup(num_hashes, threshold, max_bucket),
        outputStructType=NEAR_DEDUP_OUTPUT_SCHEMA,
        stateStructType=NEAR_DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
