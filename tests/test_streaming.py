"""Streaming front-end: incremental files through the same extractor must
equal the batch result; the streaming checkpoint must not reprocess files."""

from __future__ import annotations

from pyspark.sql import functions as F

from key_resource_table_extractor_spark import job
from key_resource_table_extractor_spark.streaming import run_stream_extraction


def test_stream_equals_batch(spark, tmp_path):
    inp_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    cp_dir = str(tmp_path / "cp")

    corpus = job.synthesize_spans(spark, 80, partitions=2)
    corpus.write.parquet(inp_dir)

    q = run_stream_extraction(spark, inp_dir, out_dir, cp_dir)
    q.awaitTermination(180)
    # the raw sink holds data and error rows only: no metrics rows
    raw = spark.read.parquet(out_dir)
    assert {r["kind"] for r in raw.select("kind").distinct().collect()} \
        <= {"text", "media", "error"}
    assert raw.where(F.col("doc_id") == "__stats__").count() == 0

    got = (
        job.data_spans(spark.read.parquet(out_dir))
        .orderBy("doc_id", "seq")
        .toPandas()
        .reset_index(drop=True)
    )
    exp = (
        job.data_spans(job.extract(corpus))
        .orderBy("doc_id", "seq")
        .toPandas()
        .reset_index(drop=True)
    )
    assert got.equals(exp)

    # second batch of files: only the new docs are processed
    more = job.synthesize_spans(spark, 20, seed=43, partitions=1)
    more.write.mode("append").parquet(inp_dir)
    q2 = run_stream_extraction(spark, inp_dir, out_dir, cp_dir)
    q2.awaitTermination(180)
    total = job.data_spans(spark.read.parquet(out_dir))
    new_docs = total.select("doc_id").distinct().count()
    old_docs = exp["doc_id"].nunique()
    assert new_docs > old_docs  # new docs appended
    # no duplicates: each (doc_id, seq) appears exactly once
    dupes = (
        total.groupBy("doc_id", "seq")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .count()
    )
    assert dupes == 0
