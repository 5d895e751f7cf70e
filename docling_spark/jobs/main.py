"""spark-submit entry point (north rule: ``spark-submit --py-files``).

    spark-submit --py-files docling_spark.zip docling_spark/jobs/main.py \
        --input-table /path/transcripts --output-table /path/extracted \
        --state-table /path/state --metrics-table /path/metrics \
        --buckets 1024 --run-id run42

On a real cluster the paths are Iceberg table identifiers; in this sandbox
they are parquet paths (the write path isolates the difference —
extract_job.py module docstring).
"""

from __future__ import annotations

import argparse
import json
import sys

from docling_spark.jobs.convert import ITEM_FORMATS, check_formats


def _split(formats: str | None) -> tuple[str, ...] | None:
    return (tuple(f.strip() for f in formats.split(",") if f.strip())
            if formats else None)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="docling-spark extraction job")
    p.add_argument("--input-table", default=None)
    p.add_argument("--output-table", required=True)
    p.add_argument("--state-table", default=None)
    p.add_argument("--metrics-table", default=None)
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--run-id", default="run0")
    p.add_argument("--synthetic-convs", type=int, default=None,
                   help="generate a synthetic corpus instead of reading input")
    p.add_argument("--streaming", action="store_true",
                   help="run as a Structured Streaming catch-up job")
    p.add_argument("--checkpoint", default=None)
    p.add_argument("--password", action="append", default=[],
                   help="password to try for encrypted PDF payloads "
                        "(repeatable) — the reference CLI's --password")
    p.add_argument("--from", dest="from_formats", default=None,
                   help="comma-separated allowed input formats (the "
                        "reference CLI's --from / DocumentConverter "
                        "allowed_formats); detected formats outside the "
                        "set become SKIPPED rows with a policy error")
    p.add_argument("--to", default=None,
                   help="comma-separated extra export sinks over the "
                        "item table (doctags,itxt,html,html_split_page,"
                        "json,yaml,doclang,dclx), written next to the "
                        "output table — the reference CLI's --to flag")
    args = p.parse_args(argv)
    if args.streaming:
        # the streaming branch reads a live source; synthetic generation
        # is batch-only
        if not args.input_table:
            p.error("--streaming requires --input-table")
    elif not args.input_table and not args.synthetic_convs:
        p.error("one of --input-table / --synthetic-convs is required")
    # validated before any Spark work: a typo'd --to would otherwise fail
    # only after the whole extraction and write, and a typo'd --from
    # silently SKIP every turn
    args.from_formats, args.to = _split(args.from_formats), _split(args.to)
    try:
        check_formats(args.to or (), args.from_formats, ITEM_FORMATS)
    except ValueError as exc:
        p.error(str(exc))
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("docling-spark-extract")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # the row cap alone is not a memory bound: 2000 rows of multi-MB
        # payloads would be a multi-GB Arrow batch. Spark 4's byte cap
        # splits batches earlier; pinned explicitly so executor sizing
        # can rely on it (64 MB/batch/core) rather than on a default.
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(64 * 1024 * 1024))
        .getOrCreate()
    )

    if args.streaming:
        from docling_spark.streaming.stream_extract import run_stream

        q = run_stream(spark, args.input_table, args.output_table,
                       args.checkpoint or args.output_table + "_ckpt",
                       pdf_passwords=tuple(args.password),
                       allowed_formats=args.from_formats)
        q.awaitTermination()
        print(json.dumps({"status": "stream_done"}))
        return 0

    if args.synthetic_convs:
        from docling_spark.sources.transcripts import transcripts_df

        transcripts = transcripts_df(spark, args.synthetic_convs)
    else:
        transcripts = spark.read.parquet(args.input_table)

    from docling_spark.jobs.extract_job import run_extract

    summary = run_extract(
        spark, transcripts, args.output_table,
        run_id=args.run_id, n_buckets=args.buckets,
        state_path=args.state_table, metrics_path=args.metrics_table,
        pdf_passwords=tuple(args.password),
        allowed_formats=args.from_formats,
    )
    if args.to:
        from docling_spark.jobs.extract_job import OUTPUT_SCHEMA
        from docling_spark.operators.export import export_items

        # explicit schema: an empty output (fully-resumed rerun, empty
        # input) has no data files to infer from and would fail the job
        # AFTER extraction succeeded
        extracted = spark.read.schema(OUTPUT_SCHEMA).parquet(args.output_table)
        for fmt in args.to:
            export_items(extracted, fmt=fmt).write.mode("overwrite") \
                .parquet(f"{args.output_table}_export_{fmt}")
            summary[f"export_{fmt}"] = f"{args.output_table}_export_{fmt}"
    print(json.dumps(summary))
    # job exit code reflects hard failure only; failure ROWS are data
    # (ProcessingResult semantics, standard_pdf_pipeline.py:129-152)
    return 0


if __name__ == "__main__":
    sys.exit(main())
