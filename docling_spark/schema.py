"""Explicit Spark schemas (no runtime inference — the reference validates
every model with Pydantic; we pin StructTypes, SURVEY.md §1.2)."""

from __future__ import annotations

from pyspark.sql import types as T

TRANSCRIPTS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("tool", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ]
)

ITEM_SCHEMA = T.StructType(
    [
        T.StructField("item_idx", T.IntegerType(), True),
        T.StructField("parent_idx", T.IntegerType(), True),
        T.StructField("label", T.StringType(), True),
        T.StructField("level", T.IntegerType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("content_layer", T.StringType(), True),
        T.StructField("span_start", T.IntegerType(), True),
        T.StructField("span_end", T.IntegerType(), True),
        T.StructField("code_language", T.StringType(), True),
        # serializer-facing extras (page_no, _hlevel, _marker, _start,
        # _inline, _raw, _cap_ref, _table_caption, num_rows, num_cols —
        # stringified, absent keys omitted): without them the
        # alternative sinks (itxt/doctags/json/html_split_page) silently
        # degrade on the Spark path — heading ranks flatten, ordered
        # lists lose markers/starts, tables lose their [RxC] shape and
        # caption wiring, split-page loses page provenance. ONE sparse
        # map, not ten struct fields: Arrow's list<struct> conversion
        # pays per field per item, and ten mostly-null fields cost ~2x
        # extraction throughput (measured); the extras are non-null on
        # <10% of items. operators/export.clean_item restores the typed
        # engine dict.
        T.StructField("extras",
                      T.MapType(T.StringType(), T.StringType()), True),
    ]
)

ERROR_SCHEMA = T.StructType(
    [
        T.StructField("module", T.StringType(), True),
        T.StructField("message", T.StringType(), True),
        T.StructField("category", T.StringType(), True),
    ]
)

METRICS_SCHEMA = T.StructType(
    [
        T.StructField("pages_parsed", T.IntegerType(), True),
        T.StructField("boilerplate_ratio", T.DoubleType(), True),
        T.StructField("parse_score", T.DoubleType(), True),
        T.StructField("n_items", T.IntegerType(), True),
    ]
)

# output of the extraction operator: one row per input turn (FIXTURES.md §3)
EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("role", T.StringType(), True),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("format", T.StringType(), True),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField("items", T.ArrayType(ITEM_SCHEMA), True),
        T.StructField("errors", T.ArrayType(ERROR_SCHEMA), True),
        T.StructField("metrics", METRICS_SCHEMA, True),
    ]
)

# sidecar metrics table, one row per run that wrote rows (FIXTURES.md §4)
SIDECAR_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("n_turns", T.LongType(), False),
        T.StructField("n_success", T.LongType(), False),
        T.StructField("n_partial", T.LongType(), False),
        T.StructField("n_failure", T.LongType(), False),
        T.StructField("n_skipped", T.LongType(), False),
        T.StructField("pages_parsed", T.LongType(), False),
        T.StructField("boilerplate_ratio", T.DoubleType(), True),
        T.StructField("wall_ms", T.LongType(), False),
    ]
)
