"""Structured Streaming wrapper over the extraction operator.

The reference has no streaming runtime (SURVEY.md §2.i); its nearest analog
is the bounded-queue threaded pipeline (standard_pdf_pipeline.py:155-311)
with catch-up batch polling. Here the same extraction operator lifts to
Structured Streaming unchanged because it is stateless per row:
``readStream → extract_turns → writeStream``. Event-time watermarking on
``ts`` bounds the state of the stream-stream join below (late turns
tolerated up to the watermark; WebVTT cue timings,
webvtt_backend.py:164-178, are the reference's event-time analog).

Checkpointing: Spark's streaming checkpoint replaces the batch job's state
table — exactly-once sink semantics per micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_spark.operators.extract_ops import extract_turns
from docling_spark.schema import TRANSCRIPTS_SCHEMA


def run_stream(
    spark: SparkSession,
    input_path: str,
    output_path: str,
    checkpoint_path: str,
    pdf_passwords: tuple[str, ...] = (),
    allowed_formats: tuple[str, ...] | None = None,
):
    """Launch the catch-up extraction stream (availableNow: every
    transcript parquet drop under ``input_path`` at start, then stop —
    the reference's batch-polling analog). The file source reads 16
    files per micro-batch; an Iceberg streaming read swaps in behind the
    same schema. The plan is the batch operator, unchanged."""
    src = (
        spark.readStream.schema(TRANSCRIPTS_SCHEMA)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_path)
    )
    out = extract_turns(src, pdf_passwords=pdf_passwords,
                        allowed_formats=allowed_formats)
    return (
        out.writeStream.format("parquet")
        .option("path", output_path)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def join_streams_within(
    turns: DataFrame,
    annotations: DataFrame,
    keys: tuple[str, ...] = ("conv_id", "turn_idx"),
    turn_ts: str = "ts",
    ann_ts: str = "ann_ts",
    tolerance: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: pair each turn with the
    annotations that arrive for it within ``tolerance`` of the turn's
    event time (same key columns).

    Both sides carry a watermark and the join condition bounds the
    event-time distance, so Spark can evict join state instead of
    buffering either stream forever — the two requirements for an
    unbounded-stream join to run with bounded memory. State per key lives
    for watermark + tolerance, independent of stream length. Works
    identically on batch frames (the time bound becomes a plain filter).
    """
    t = turns.withWatermark(turn_ts, watermark)
    a = annotations.withWatermark(ann_ts, watermark)
    cond = None
    for k in keys:
        c = t[k] == a[k]
        cond = c if cond is None else (cond & c)
    cond = (
        cond
        & (a[ann_ts] >= t[turn_ts])
        & (a[ann_ts] <= t[turn_ts] + F.expr(f"INTERVAL {tolerance}"))
    )
    out = t.join(a, cond, "inner")
    for k in keys:
        out = out.drop(a[k])
    return out


def chunk_assembled_stream(
    assembled: DataFrame,
    max_tokens: int = 128,
    merge_peers: bool = True,
    tokenizer_json: "str | dict | None" = None,
    sep: str = "\n\n",
) -> DataFrame:
    """Streaming chunk sink over assembled conversations — the
    ingestion-time twin of the batch HybridChunker: each row the
    stateful assembly operator emits (stateful.assemble_conversations_
    stream: one ``conversation_text`` per flushed conversation) splits
    into paragraph items on ``sep`` and runs the SAME per-document scan
    as operators/chunker.py (``scan_doc`` + ``make_counting``), so a
    conversation chunked at ingestion is bit-identical to the same
    conversation chunked in batch.

    Stateless by construction (each input row carries its whole
    document), so it composes onto any streaming plan with no extra
    state, watermark, or output-mode constraint; at 10^12-turn scale the
    chunking cost rides the same Arrow batch as the assembly output.
    Works identically on batch frames.

    Output: (conv_id, chunk_idx, chunk_text, n_tokens).
    """
    import pandas as pd

    from docling_spark.operators.chunker import make_counting, scan_doc

    if tokenizer_json is None:
        spec = None
    elif isinstance(tokenizer_json, str):
        import json as _json

        with open(tokenizer_json, encoding="utf-8") as fh:
            spec = _json.load(fh)
    else:
        spec = tokenizer_json
    bc = (assembled.sparkSession.sparkContext.broadcast(spec)
          if spec is not None else None)
    src = assembled.select("conv_id", "conversation_text")

    def run(batches):
        head_cost, wcost, sep_cost = make_counting(
            bc.value if bc is not None else None)
        for pdf in batches:
            out = {"conv_id": [], "chunk_idx": [],
                   "chunk_text": [], "n_tokens": []}
            for conv, text in zip(pdf["conv_id"],
                                  pdf["conversation_text"]):
                paras = [p for p in (text or "").split(sep)
                         if p.strip()]
                its = [{"label": "text", "text": p, "level": None,
                        "item_idx": i} for i, p in enumerate(paras)]
                for k, (_path, ctext, ntok, _ids) in enumerate(
                        scan_doc(its, max_tokens, merge_peers,
                                 head_cost, wcost, sep_cost)):
                    out["conv_id"].append(conv)
                    out["chunk_idx"].append(k)
                    out["chunk_text"].append(ctext)
                    out["n_tokens"].append(ntok)
            yield pd.DataFrame(out)

    return src.mapInPandas(
        run, "conv_id string, chunk_idx int, chunk_text string, "
             "n_tokens int")
