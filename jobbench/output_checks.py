"""Checks that the measured calls produced the right output.

Each check returns a list of problems; an empty list means the output
passed."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from docling_spark.engine.extract import extract_payload

KEY = ["conv_id", "turn_idx"]
CHECKED = ("status", "format", "extracted_text")


def expected_sample(sample_rows: list) -> dict:
    """(conv_id, turn_idx) → the fields the driver-side engine gives each
    sampled turn."""
    out = {}
    for r in sample_rows:
        res = extract_payload(r["text"], r["tool"] or "")
        out[(r["conv_id"], r["turn_idx"])] = {k: res[k] for k in CHECKED}
    return out


def check_job_output(written: DataFrame, n_input: int,
                     expected: dict) -> list[str]:
    """Written rows equal input turns, the turn key is unique, and every
    sampled turn matches its driver-side re-extraction."""
    problems = []
    row = written.agg(F.count("*").alias("n"),
                      F.count_distinct(*KEY).alias("keys")).first()
    if row["n"] != n_input:
        problems.append(f"wrote {row['n']} rows for {n_input} input turns")
    if row["keys"] != row["n"]:
        problems.append(f"{row['n'] - row['keys']} duplicate turn keys")
    keys = written.sparkSession.createDataFrame(
        list(expected), "conv_id string, turn_idx int")
    got = {
        (r["conv_id"], r["turn_idx"]): {k: r[k] for k in CHECKED}
        for r in written.join(F.broadcast(keys), KEY)
        .select(*KEY, *CHECKED).collect()
    }
    missing = len(expected.keys() - got.keys())
    if missing:
        problems.append(f"{missing} sampled turns missing from the output")
    wrong = sorted(k for k in expected.keys() & got.keys()
                   if got[k] != expected[k])
    if wrong:
        problems.append(f"{len(wrong)} sampled turns differ from the "
                        f"driver-side extraction, first {wrong[0]}")
    return problems


def check_same(name: str, first, now) -> list[str]:
    """A value that every pass of one run must reproduce exactly."""
    return [] if now == first else [f"{name} changed: {first} → {now}"]


def fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """Order-free fingerprint of a set of rows: (count, xor of row
    hashes). Consumes every row of ``df``."""
    r = df.agg(F.count("*").alias("n"),
               F.bit_xor(F.xxhash64(*cols)).alias("x")).first()
    return int(r["n"]), int(r["x"] or 0)
