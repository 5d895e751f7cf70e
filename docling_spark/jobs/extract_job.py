"""End-to-end extraction job: read → salt → extract → ordered write →
metrics sidecar → checkpointed resume.

The spark-submit entry point required by the north rule. Design notes for
the 10^12-turn / 1000-executor regime:

- **Partitioning**: output is written partitioned by ``conv_bucket =
  pmod(xxhash64(conv_id), n_buckets)`` — the parquet stand-in for Iceberg's
  ``bucket(N, conv_id)`` transform (this sandbox has no Iceberg runtime; the
  write path is isolated here so the table format can swap in). Rows are
  rebalanced on the bucket and sorted by ``(conv_bucket, conv_id,
  turn_idx)`` before the write: each bucket gets one writer, and every
  file is sorted by ``(conv_id, turn_idx)``.
- **Skew/salting**: extraction itself is per-row, so long conversations are
  spread with ``repartition`` on ``(conv_id, turn_idx)`` over the
  session's default parallelism — no conversation-level hotspot no matter
  how skewed turn counts are (SURVEY.md §7.4.5: salting must not affect
  correctness, and cannot, because extraction is conversation-agnostic).
  On the write side a bucket is the unit, and every row of one
  conversation shares it; AQE's rebalance splits an oversized bucket (a
  mega-conversation's included) into several files, each still sorted.
  Parquet read-back gives NO cross-file row-order guarantee — consumers
  needing stable turn order re-establish it with
  ``extract_ops.with_turn_rank`` (window rank on the unsalted key); this
  job deliberately does not pay that window.
- **Resume**: completed buckets are recorded in a state table; a rerun
  anti-joins input buckets against completed ones and processes only the
  remainder (ConversionAssets save/load analog,
  docling/datamodel/document.py:431-584). Bucket writes are idempotent
  (dynamic partition overwrite).
- **Run counters**: one list of counter expressions (``_counters``) is
  observed on the write itself, with the set of buckets written, so no
  pass over the input or the output is spent on bookkeeping.
- **Metrics sidecar**: with ``metrics_path`` set, each run that wrote rows
  appends ONE row (``SIDECAR_SCHEMA``, FIXTURES.md §4; the reference's
  ``ConversionResult.timings``/``confidence`` analog) built from that
  observation — nothing is read back. ``sidecar_metrics`` is the same
  counter list as an aggregate over any extracted frame.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_spark.engine.extract import (STATUS_FAILURE, STATUS_PARTIAL,
                                          STATUS_SKIPPED, STATUS_SUCCESS)
from docling_spark.operators.extract_ops import extract_turns
from docling_spark.schema import EXTRACTED_SCHEMA, SIDECAR_SCHEMA

DEFAULT_BUCKETS = 64
# each status's counter column in the sidecar; run_extract's ``counts``
# keeps the status names
STATUS_COUNTERS = {STATUS_SUCCESS: "n_success", STATUS_PARTIAL: "n_partial",
                   STATUS_FAILURE: "n_failure", STATUS_SKIPPED: "n_skipped"}

# output schema incl. the physical partition column (explicit schema on
# read-back: no inference listing, and empty outputs stay readable)
OUTPUT_SCHEMA = T.StructType(
    list(EXTRACTED_SCHEMA.fields)
    + [T.StructField("conv_bucket", T.IntegerType(), True)]
)


def bucket_col(n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def _counters() -> list:
    """The run's counters over extracted rows, named as in
    ``SIDECAR_SCHEMA``: observed on the write by ``run_extract`` and
    aggregated by ``sidecar_metrics``, so they are defined once."""
    return [
        F.count("*").alias("n_turns"),
        *(F.count_if(F.col("status") == s).alias(name)
          for s, name in STATUS_COUNTERS.items()),
        F.coalesce(F.sum("metrics.pages_parsed"), F.lit(0))
        .alias("pages_parsed"),
        F.avg("metrics.boilerplate_ratio").alias("boilerplate_ratio"),
    ]


def _hadoop_path_exists(spark: SparkSession, path: str) -> bool:
    """Existence probe through the session's Hadoop FileSystem — works
    for any configured scheme (file://, hdfs://, s3a://), unlike
    matching 'Path does not exist' substrings in reader exceptions."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def salt_skew(df: DataFrame, parallelism: int) -> DataFrame:
    """Row-level salting: spread every conversation's turns uniformly across
    ``parallelism`` partitions. Long (10^6-turn) conversations cannot
    hotspot a task because the partitioner never sees conv_id alone.

    The partitioner hashes the FULL (conv_id, turn_idx) key space —
    pre-modding to ``parallelism`` values and re-hashing those would be
    balls-into-bins (measured: 23/64 partitions empty, hottest 4x
    average); handing the raw columns to repartition keeps the spread
    uniform."""
    return df.repartition(parallelism, F.col("conv_id"), F.col("turn_idx"))


def sidecar_metrics(extracted: DataFrame, run_id: str,
                    wall_ms: int = 0) -> DataFrame:
    """One ``SIDECAR_SCHEMA`` row: the run counters aggregated over
    ``extracted``, the row ``run_extract`` builds from its write's
    observation."""
    return extracted.agg(*_counters()).select(
        F.lit(run_id).alias("run_id"), "*",
        F.lit(int(wall_ms)).cast("long").alias("wall_ms"))


def run_extract(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    run_id: str = "run0",
    n_buckets: int = DEFAULT_BUCKETS,
    state_path: str | None = None,
    metrics_path: str | None = None,
    pdf_passwords: tuple[str, ...] = (),
    allowed_formats: tuple[str, ...] | None = None,
) -> dict:
    """Execute the pipeline; returns summary counters.

    With ``state_path`` set, completed conv-buckets from previous runs are
    skipped (anti-join) and newly completed buckets are appended — the
    exactly-once resume protocol (bucket-level idempotent overwrite).
    """
    t0 = time.time()
    df = transcripts.withColumn("conv_bucket", bucket_col(n_buckets))

    done_buckets: set[int] = set()
    # ONLY the first-run case (no state written yet) may proceed fresh;
    # any other read failure (corrupt files, transient FS error) silently
    # resetting done_buckets would reprocess every bucket and
    # double-append sidecar metrics — real state loss masked as a clean
    # start. First run is detected by an explicit Hadoop FileSystem
    # existence probe, never by matching exception message text (which
    # varies across Spark versions/connectors and would turn a
    # legitimate first run into a crash)
    if state_path and _hadoop_path_exists(spark, state_path):
        state = spark.read.parquet(state_path)
        # bucket ids are only meaningful under the n_buckets that
        # computed them — resuming with a different modulus would skip
        # DIFFERENT conversation sets than the ones completed. A legacy
        # state table has no n_buckets column and is taken at this
        # run's count
        prior, done = state.agg(
            F.collect_set(F.col("n_buckets") if "n_buckets" in state.columns
                          else F.lit(n_buckets)),
            F.collect_set(F.when(F.col("status") == "done",
                                 F.col("conv_bucket"))),
        ).first()
        if prior and set(prior) != {n_buckets}:
            raise ValueError(
                f"state at {state_path} was written with "
                f"n_buckets={sorted(prior)}, this run uses "
                f"{n_buckets}; rerun with the original bucket "
                f"count or start a fresh state table")
        done_buckets = set(done)
        if done_buckets:
            df = df.filter(~F.col("conv_bucket").isin(sorted(done_buckets)))

    df = salt_skew(df, spark.sparkContext.defaultParallelism)
    extracted = extract_turns(df.drop("conv_bucket"),
                              pdf_passwords=pdf_passwords,
                              allowed_formats=allowed_formats)
    extracted = extracted.withColumn("conv_bucket", bucket_col(n_buckets))

    # run counters ride along with the write: attached after the last
    # exchange, so the result stage counts every written row exactly once
    # (no pre-pass over the input, no read-back aggregate)
    obs = Observation()
    (
        extracted
        # one writer per bucket: rows rebalance on the bucket alone, and
        # AQE splits an oversized bucket (a mega-conversation included)
        # into several sorted files. The sort leads with the partition
        # column, so it satisfies the planned write's required ordering
        # and survives into the files: each one is sorted by
        # (conv_id, turn_idx)
        .hint("rebalance", "conv_bucket")
        .observe(obs, *_counters(),
                 F.collect_set("conv_bucket").alias("buckets"))
        .sortWithinPartitions("conv_bucket", "conv_id", "turn_idx")
        .write.mode("overwrite")
        # writer-scoped, NOT session conf: mutating the shared session's
        # partitionOverwriteMode would silently change the semantics of
        # every later partitioned overwrite in the same session
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("conv_bucket")
        .parquet(output_path)
    )
    observed = obs.get
    counts = {s: observed[name] for s, name in STATUS_COUNTERS.items()
              if observed[name]}
    # the buckets THIS run wrote: state and sidecar are scoped to exactly
    # these, because dynamic partition overwrite PRESERVES partitions
    # this run didn't touch
    processed_buckets = sorted(observed["buckets"])

    if state_path and processed_buckets:
        # APPEND-ONLY state log, committed BEFORE the metrics append:
        # (a) append is all-or-nothing at job-commit level, so a crash
        # mid-write can never destroy prior state the way the old
        # delete-then-overwrite could; (b) each bucket keeps the run_id
        # and timestamp of the run that ACTUALLY completed it (lineage);
        # (c) state-before-metrics bounds a crash between the two writes
        # to under-reported metrics, never the double-count that
        # state-after-metrics allowed. Readers take the union of all
        # appended rows (a bucket is done if any row says done). Rows
        # are JVM literals: no Python worker pass for a few dozen ints
        spark.range(1).select(
            F.lit(run_id).alias("run_id"),
            F.explode(F.array(*map(F.lit, processed_buckets)))
            .alias("conv_bucket"),
            F.lit("done").alias("status"),
            F.lit(n_buckets).alias("n_buckets"),
            F.current_timestamp().alias("ts"),
        ).write.mode("append").parquet(state_path)

    if metrics_path and processed_buckets:
        # one row per run, from the observation: JVM literals, like the
        # state rows
        row = dict(observed, run_id=run_id,
                   wall_ms=int((time.time() - t0) * 1000))
        spark.range(1).select(*(
            F.lit(row[f.name]).cast(f.dataType).alias(f.name)
            for f in SIDECAR_SCHEMA.fields
        )).write.mode("append").parquet(metrics_path)

    wall = time.time() - t0
    total = observed["n_turns"]
    return {
        "counts": counts,
        "total": total,
        "wall_s": wall,
        "turns_per_s": total / wall if wall > 0 else 0.0,
        "skipped_buckets": len(done_buckets),
    }
