"""Structured Streaming front-end over the same extractor.

The reference's "server" is a work queue, not an event-time stream
(SURVEY.md §2.9), so batch is the primary mode; this wrapper exists for
continuous-ingest deployments: new (doc_id, spans) parquet files landing in
a directory are picked up incrementally, run through ``job.extract``, the
batch job's ``mapInArrow`` extraction (the only Spark shape extraction
runs under), and appended to the sink with exactly-once file
semantics from the streaming checkpoint. Extraction is stateless per doc —
no watermarks needed; the streaming checkpoint subsumes the batch job's
bucket checkpoint."""

from __future__ import annotations

from pyspark.sql import SparkSession

from .. import job
from ..schemas import DOCUMENT_SPANS_SCHEMA


def run_stream_extraction(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
):
    """Start the streaming extraction; returns the StreamingQuery."""
    reader = (
        spark.readStream.schema(DOCUMENT_SPANS_SCHEMA)
        .format("parquet")
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    src = reader.load(input_dir)
    out = job.extract(src)
    writer = (
        out.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
