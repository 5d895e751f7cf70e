"""The extraction operator: one Arrow-batched pass over transcript turns.

Spark-first design (SURVEY.md §7.2 step 4): the whole per-document pipeline
of the reference (format detect → backend convert → assemble → serialize,
docling/pipeline/base_pipeline.py:65-98) collapses into ONE ``mapInPandas``
pass — a single Python-worker hop per partition, Arrow both ways, no
row-at-a-time Python at the Spark API level. Inter-document parallelism is
Spark partitions (the reference uses a thread pool,
document_converter.py:685-692).

Scale notes:
- extraction is per-row (embarrassingly parallel): no shuffle is introduced
  by this operator; partition pruning and column pruning pass through
  (mapInPandas declares the needed input columns only).
- per-BATCH wall-clock budget mirrors the reference's document timeout
  (base_pipeline.py:301-320, same granularity: checked between
  documents, a running parse is not interrupted): once exhausted, the
  batch's remaining never-attempted rows come back as SKIPPED rows with
  a timeout error record — never task failures, and never "failure"
  (a rerun must distinguish "never ran" from "parsed and broke").
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_spark.engine.extract import (
    DEFAULT_MAX_BYTES, STATUS_SKIPPED, _result, extract_payload,
)
from docling_spark.schema import EXTRACTED_SCHEMA

def _extract_batches(
    batches: Iterator[pd.DataFrame],
    max_bytes: int,
    timeout_s: float | None,
    pdf_passwords: tuple[str, ...] = (),
    allowed_formats: frozenset[str] | None = None,
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        t_deadline = (
            time.monotonic() + timeout_s if timeout_s is not None else None
        )
        out: dict[str, list] = {
            "conv_id": pdf["conv_id"].tolist(),
            "turn_idx": pdf["turn_idx"].tolist(),
            "role": pdf.get("role", pd.Series([None] * len(pdf))).tolist(),
            "ts": pdf.get("ts", pd.Series([None] * len(pdf))).tolist(),
            "status": [],
            "format": [],
            "extracted_text": [],
            "items": [],
            "errors": [],
            "metrics": [],
        }
        texts = pdf["text"].tolist()
        tools = pdf["tool"].tolist() if "tool" in pdf else [""] * len(pdf)
        for text, tool in zip(texts, tools):
            if t_deadline is not None and time.monotonic() > t_deadline:
                # the budget is per Arrow BATCH and checked BETWEEN rows
                # (a row already running cannot be interrupted in-process
                # — the reference's document timeout has the same
                # granularity, base_pipeline.py:301-320). Rows never
                # attempted are SKIPPED, not failed: a rerun must be able
                # to tell "never ran" from "parsed and broke"
                res = _result(STATUS_SKIPPED, "plain", [
                    {"module": "operator",
                     "message": "batch time budget exceeded before this "
                                "row was attempted",
                     "category": "timeout"}])
            else:
                res = extract_payload(
                    text if text is None or isinstance(text, str) else str(text),
                    tool or "",
                    max_bytes=max_bytes,
                    pdf_passwords=pdf_passwords,
                    allowed_formats=allowed_formats,
                )
            out["status"].append(res["status"])
            out["format"].append(res["format"])
            out["extracted_text"].append(res["extracted_text"])
            out["items"].append(res["items"])
            out["errors"].append(res["errors"])
            out["metrics"].append(res["metrics"])
        yield pd.DataFrame(out)


def extract_turns(
    df: DataFrame,
    max_bytes: int = DEFAULT_MAX_BYTES,
    timeout_s: float | None = None,
    pdf_passwords: tuple[str, ...] = (),
    allowed_formats: frozenset[str] | set[str] | tuple[str, ...] | None = None,
) -> DataFrame:
    """transcripts DataFrame → extracted DataFrame (one row per input turn).

    Column-prunes the input to the five needed columns before the Python
    boundary so the parquet scan reads only what the UDF consumes.
    ``pdf_passwords`` is the job-level analog of the reference's
    per-document backend_options password (encrypted PDFs try the empty
    user password, then each listed one). ``allowed_formats`` is the
    allowed-format policy (document_converter.py:738-752): detected
    formats outside the set come back as SKIPPED rows with a
    POLICY-category error, never attempted.
    """
    allowed = frozenset(allowed_formats) if allowed_formats is not None else None
    cols = [c for c in ("conv_id", "turn_idx", "role", "ts", "text", "tool")
            if c in df.columns]
    pruned = df.select(*cols)
    return pruned.mapInPandas(
        lambda it: _extract_batches(it, max_bytes, timeout_s, pdf_passwords,
                                    allowed),
        schema=EXTRACTED_SCHEMA,
    )


def assemble_conversations(
    extracted: DataFrame, sep: str = "\n\n", segment_size: int = 1024
) -> DataFrame:
    """Conversation-level document assembly: per-turn extracted text folded
    into one document per conversation in stable turn order — the tabular
    form of the reference's page→document assembly
    (standard_pdf_pipeline.py:1038-1048 concatenates per-page element
    lists in page order).

    Order is established by sorting the collected (turn_idx, text) structs,
    NEVER by relying on input row order (shuffle order is nondeterministic;
    the reference reorders explicitly for the same reason,
    standard_pdf_pipeline.py:982-991).

    Memory bound (SURVEY §7.4.5: conversations can run to 10^6 turns): a
    TWO-LEVEL fold, never one unbounded ``collect_list`` of every turn.
    Level 1 groups by (conv_id, turn_idx div segment_size) so each
    collected array holds ≤ ``segment_size`` structs; level 2 concatenates
    the ordered segment strings — an array of n_turns/segment_size
    elements. The result is identical to the single-level fold (struct
    sort within a segment, segment-index sort across segments). The final
    row still carries the whole conversation text — that is the contract —
    but no intermediate executor buffer holds per-turn structs beyond one
    segment.
    """
    seg = F.floor(F.col("turn_idx") / F.lit(segment_size)).alias("segment")
    level1 = extracted.groupBy("conv_id", seg).agg(
        F.array_join(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col("turn_idx"), F.col("extracted_text"))
                )
            ).getField("extracted_text"),
            sep,
        ).alias("segment_text"),
        F.count("*").alias("n_turns"),
        F.sum((F.col("status") == "success").cast("long")).alias("n_success"),
    )
    return level1.groupBy("conv_id").agg(
        F.array_join(
            F.array_sort(
                F.collect_list(F.struct(F.col("segment"), F.col("segment_text")))
            ).getField("segment_text"),
            sep,
        ).alias("conversation_text"),
        F.sum("n_turns").alias("n_turns"),
        F.sum("n_success").alias("n_success"),
    )


def with_turn_rank(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering witness: row_number over the
    per-conversation window (north rule; SURVEY.md §2.e). Never rely on
    physical order after a shuffle (standard_pdf_pipeline.py:982-991
    reorders explicitly for the same reason)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return df.withColumn("turn_rank", F.row_number().over(w) - F.lit(1))


def conversation_stats(turns: DataFrame) -> DataFrame:
    """Per-conversation dialogue analytics over a transcript table
    (conv_id, turn_idx, role, text, tool, ts) — the corpus-triage pass a
    transcript training pipeline runs before extraction: turn counts per
    role, tool-call usage, role-alternation rate (the fraction of
    consecutive turn pairs that switch speakers — a degenerate
    conversation is one voice talking to itself), mean inter-turn gap in
    seconds, and total payload size.

    Shape: one ``lag`` window per conversation (partitioned on conv_id,
    ordered by turn_idx — the same stable ordering contract as
    :func:`with_turn_rank`) feeding one groupBy(conv_id). At 10^12 turns
    both stages shuffle on conv_id only, and the window state is one row
    of lookback — memory-bounded regardless of conversation length.
    Skewed mega-conversations cost one task their turn count, never a
    collect; the downstream agg is map-side combinable.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    staged = turns.select(
        "conv_id", "turn_idx", "role", "tool", "ts",
        F.length("text").alias("n_chars"),
        (F.lag("role").over(w) != F.col("role")).cast("long")
        .alias("role_switch"),
        (F.col("ts").cast("double") - F.lag(F.col("ts").cast("double"))
         .over(w)).alias("gap_s"),
    )
    n_turns = F.count("*")
    return staged.groupBy("conv_id").agg(
        n_turns.alias("n_turns"),
        F.sum((F.col("role") == "user").cast("long")).alias("n_user"),
        F.sum((F.col("role") == "assistant").cast("long")).alias("n_assistant"),
        F.sum((F.col("tool") != "").cast("long")).alias("n_tool_calls"),
        F.round(
            F.when(n_turns > 1,
                   F.sum("role_switch").cast("double") / (n_turns - 1))
            .otherwise(F.lit(0.0)), 6).alias("alternation"),
        F.round(
            F.when(n_turns > 1, F.sum("gap_s") / (n_turns - 1))
            .otherwise(F.lit(0.0)), 6).alias("mean_gap_s"),
        F.sum("n_chars").alias("total_chars"),
    )
