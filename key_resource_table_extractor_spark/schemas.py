"""Spark schemas for the engine's tables (FIXTURES.md §1/§2/§6)."""

from __future__ import annotations

from pyspark.sql import types as T

SPAN_STRUCT = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("media_ref", T.StringType(), True),
        T.StructField("offset", T.IntegerType(), False),
    ]
)

# input: one row per document (Iceberg-shaped interleaved text+media spans)
DOCUMENT_SPANS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("spans", T.ArrayType(SPAN_STRUCT), False),
    ]
)

# output: one row per extracted span, ordered by (doc_id, seq)
EXTRACTED_SPANS_DDL = (
    "doc_id string, seq int, kind string, text string, media_ref string, offset int"
)

# nested output: one result-JSON row per document (FIXTURES.md §4)
NESTED_RESULT_DDL = "doc_id string, result string"

# checkpoint table: per-bucket lineage + metrics (replaces the reference's
# Postgres jobs/job_detail store, task_manager.py:122-168)
CHECKPOINT_SCHEMA = T.StructType(
    [
        T.StructField("run_id", T.StringType(), False),
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("doc_id_min", T.StringType(), True),
        T.StructField("doc_id_max", T.StringType(), True),
        T.StructField("n_docs", T.LongType(), False),
        T.StructField("n_spans_in", T.LongType(), False),
        T.StructField("n_spans_out", T.LongType(), False),
        T.StructField("n_tables", T.LongType(), False),
        T.StructField("n_errors", T.LongType(), False),
        T.StructField("wall_ms", T.LongType(), False),
        T.StructField("status", T.StringType(), False),
        T.StructField("ts", T.TimestampType(), False),
    ]
)
