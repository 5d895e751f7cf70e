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
  spread with ``repartition(salt)`` where ``salt = xxhash64(conv_id,
  turn_idx) % parallelism`` — no conversation-level hotspot no matter how
  skewed turn counts are (SURVEY.md §7.4.5: salting must not affect
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
- **Run counters**: status counts and the set of buckets written come
  from one ``Observation`` on the write itself, so no pass over the input
  or the output is spent on bookkeeping.
- **Metrics sidecar**: per-partition counters aggregated with one narrow
  groupBy over ``spark_partition_id()`` of a read-back scoped to this
  run's buckets, one row per read split (FIXTURES.md §4; the reference's
  ProfilingItem/ConfidenceReport analog). It is the only read-back, and
  runs only when ``metrics_path`` is set.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_spark.engine.extract import (STATUS_FAILURE, STATUS_PARTIAL,
                                          STATUS_SKIPPED, STATUS_SUCCESS)
from docling_spark.operators.extract_ops import extract_turns
from docling_spark.schema import EXTRACTED_SCHEMA

DEFAULT_BUCKETS = 64
STATUSES = (STATUS_SUCCESS, STATUS_PARTIAL, STATUS_FAILURE, STATUS_SKIPPED)

# output schema incl. the physical partition column (explicit schema on
# read-back: no inference listing, and empty outputs stay readable)
OUTPUT_SCHEMA = T.StructType(
    list(EXTRACTED_SCHEMA.fields)
    + [T.StructField("conv_bucket", T.IntegerType(), True)]
)


def bucket_col(n_buckets: int = DEFAULT_BUCKETS):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


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
    """Per-physical-partition lineage counters (one narrow agg, no extra
    pass over payloads). ``partition_id`` reflects the partitions of the
    frame HANDED IN — pass the pre-write frame for extraction-stage
    lineage, or the read-back frame for file-split lineage (what
    run_extract records: one row per output split)."""
    return (
        extracted.select(
            F.spark_partition_id().alias("partition_id"),
            "status",
            F.col("metrics.pages_parsed").alias("pages_parsed"),
            F.col("metrics.boilerplate_ratio").alias("boilerplate_ratio"),
        )
        .groupBy("partition_id")
        .agg(
            F.count("*").alias("n_turns"),
            F.sum((F.col("status") == "success").cast("long")).alias("n_success"),
            F.sum((F.col("status") == "partial_success").cast("long")).alias("n_partial"),
            F.sum((F.col("status") == "failure").cast("long")).alias("n_failure"),
            F.sum((F.col("status") == "skipped").cast("long")).alias("n_skipped"),
            F.sum(F.coalesce(F.col("pages_parsed"), F.lit(0)).cast("long")).alias("pages_parsed"),
            F.avg("boilerplate_ratio").alias("boilerplate_ratio"),
        )
        .withColumn("run_id", F.lit(run_id))
        .withColumn("wall_ms", F.lit(int(wall_ms)).cast("long"))
    )


def run_extract(
    spark: SparkSession,
    transcripts: DataFrame,
    output_path: str,
    run_id: str = "run0",
    n_buckets: int = DEFAULT_BUCKETS,
    parallelism: int | None = None,
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
    if parallelism is None:
        parallelism = spark.sparkContext.defaultParallelism

    df = transcripts.withColumn("conv_bucket", bucket_col(n_buckets))

    done_buckets: set[int] = set()
    if state_path:
        # ONLY the first-run case (no state written yet) may proceed
        # fresh; any other read failure (corrupt files, transient FS
        # error) silently resetting done_buckets would reprocess every
        # bucket and double-append sidecar metrics — real state loss
        # masked as a clean start. First run is detected by an explicit
        # Hadoop FileSystem existence probe, never by matching exception
        # message text (which varies across Spark versions/connectors
        # and would turn a legitimate first run into a crash)
        if not _hadoop_path_exists(spark, state_path):
            state = None
        else:
            state = spark.read.parquet(state_path)
        if state is not None:
            # bucket ids are only meaningful under the n_buckets that
            # computed them — resuming with a different modulus would
            # skip DIFFERENT conversation sets than the ones completed
            if "n_buckets" in state.columns:
                prior = [
                    r["n_buckets"] for r in
                    state.select("n_buckets").distinct().collect()
                    if r["n_buckets"] is not None
                ]
                if prior and set(prior) != {n_buckets}:
                    raise ValueError(
                        f"state at {state_path} was written with "
                        f"n_buckets={sorted(set(prior))}, this run uses "
                        f"{n_buckets}; rerun with the original bucket "
                        f"count or start a fresh state table")
            done_buckets = {
                r["conv_bucket"]
                for r in state.filter(F.col("status") == "done")
                .select("conv_bucket").distinct().collect()
            }
        if done_buckets:
            df = df.filter(~F.col("conv_bucket").isin(sorted(done_buckets)))

    df = salt_skew(df, parallelism)
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
        .observe(obs,
                 *(F.count_if(F.col("status") == s).alias(s)
                   for s in STATUSES),
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
    counts = {s: observed[s] for s in STATUSES if observed[s]}
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

    if metrics_path:
        # the one read-back left, scoped to this run's buckets
        out = spark.read.schema(OUTPUT_SCHEMA).parquet(output_path)
        out = out.filter(F.col("conv_bucket").isin(processed_buckets)
                         if processed_buckets else F.lit(False))
        sidecar_metrics(out, run_id,
                        wall_ms=int((time.time() - t0) * 1000)) \
            .write.mode("append").parquet(metrics_path)

    wall = time.time() - t0
    total = sum(counts.values())
    return {
        "counts": counts,
        "total": total,
        "wall_s": wall,
        "turns_per_s": total / wall if wall > 0 else 0.0,
        "skipped_buckets": len(done_buckets),
    }
