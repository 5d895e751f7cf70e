"""Seeded inputs for the job benchmark.

Every row comes from ``sources.transcripts.gen_conversation``, a pure
function of ``(conv_idx, turn_idx)``. The seed only picks which
conversations are generated: ``[slot * SEED_STRIDE, slot * SEED_STRIDE +
n_convs)`` with ``slot = seed mod SEED_SLOTS``, so that any integer seed
keeps ``doc_id`` within a long. A conversation count that is a multiple
of 100 holds exactly ``n_convs / 100`` long conversations, because the
generator makes every hundredth ``conv_idx`` long.
"""

from __future__ import annotations

import re
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_spark.operators.extract_ops import extract_turns
from docling_spark.schema import TRANSCRIPTS_SCHEMA
from docling_spark.sources.transcripts import gen_conversation

SEED_STRIDE = 10**7
SEED_SLOTS = 10**6
# doc_id = conv_idx * DOC_ID_STRIDE + turn_idx; long conversations stay
# below 600 turns
DOC_ID_STRIDE = 1000
EMBED_DIM = 64

_COLUMNS = [f.name for f in TRANSCRIPTS_SCHEMA.fields]


def conv_range(seed: int, n_convs: int) -> tuple[int, int]:
    start = (seed % SEED_SLOTS) * SEED_STRIDE
    return start, start + n_convs


def _generate(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = [row for conv_idx in pdf["id"].tolist()
                for row in gen_conversation(int(conv_idx))]
        yield pd.DataFrame(rows, columns=_COLUMNS)


def transcripts(spark: SparkSession, seed: int, n_convs: int) -> DataFrame:
    """The seeded transcripts table, generated on the executors."""
    start, end = conv_range(seed, n_convs)
    parts = spark.sparkContext.defaultParallelism
    return spark.range(start, end, numPartitions=parts).mapInPandas(
        _generate, schema=TRANSCRIPTS_SCHEMA)


_TOKEN = re.compile(r"[a-z0-9]+")


def hashed_bag_of_words(text: str, dim: int = EMBED_DIM) -> np.ndarray:
    """A ``dim``-long count vector of the lower-cased word tokens, each
    token counted in the slot its CRC-32 picks."""
    vec = np.zeros(dim)
    for tok in _TOKEN.findall(text.lower()):
        vec[zlib.crc32(tok.encode()) % dim] += 1.0
    return vec


def _embed(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        pdf["embedding"] = [hashed_bag_of_words(t or "")
                            for t in pdf["text"]]
        yield pdf


def near_dup_docs(turns: DataFrame) -> DataFrame:
    """Successful extracted turns as ``(doc_id, text, embedding)``."""
    conv_idx = F.regexp_extract("conv_id", r"(\d+)$", 1).cast("long")
    return (
        extract_turns(turns)
        .filter(F.col("status") == "success")
        .select((conv_idx * DOC_ID_STRIDE + F.col("turn_idx")).alias("doc_id"),
                F.col("extracted_text").alias("text"))
        .mapInPandas(_embed, schema="doc_id long, text string, "
                                    "embedding array<double>")
    )


def sample_keys(df: DataFrame, modulus: int) -> DataFrame:
    """A fixed, seed-independent choice of rows: every turn whose key
    hashes to 0 modulo ``modulus``."""
    return df.filter(
        F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(modulus)) == 0)
