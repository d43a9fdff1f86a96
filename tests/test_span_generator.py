"""The one span generator: ``synth.generate_columns`` and its Arrow
encoding ``pipeline.encode_spans``, which ``job.synthesize_spans``, the
sf-keyed corpus and the fused synth+extract queries all run."""

from __future__ import annotations

from key_resource_table_extractor_spark import job, synth
from key_resource_table_extractor_spark.extractor.pipeline import (
    _decode_spans,
    encode_spans,
)
from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA


def _rows(df) -> list:
    return sorted(
        (r["doc_id"], [tuple(s) for s in r["spans"]]) for r in df.collect()
    )


def test_empty_partitions_yield_exactly_the_docs(spark):
    df = job.synthesize_spans(spark, 5, partitions=8)
    assert df.rdd.getNumPartitions() == 8
    assert sorted(r["doc_id"] for r in df.collect()) == [
        synth.KEY_FORMAT.format(i, seed=42) for i in range(5)
    ]


def test_corpus_is_partition_invariant_and_equals_generate_doc(spark):
    n, seed = 200, 7
    one = job.synthesize_spans(spark, n, seed, partitions=1)
    assert one.schema == DOCUMENT_SPANS_SCHEMA
    rows = _rows(one)
    assert rows == _rows(job.synthesize_spans(spark, n, seed, partitions=3))
    keys = [synth.KEY_FORMAT.format(i, seed=seed) for i in range(n)]
    assert rows == sorted((k, synth.generate_doc(k, seed)) for k in keys)
    # a mega doc is among them
    assert max(len(s) for _, s in rows) > 10 * min(len(s) for _, s in rows)


def test_decode_inverts_encode():
    for ids in (range(50), [], [3]):
        cols = synth.generate_columns(ids, seed=3)
        decoded, null_offset = _decode_spans(encode_spans(cols))
        assert null_offset is None
        for got, exp in zip(decoded, cols, strict=True):
            assert got.dtype == exp.dtype and got.tolist() == exp.tolist()
    sf = synth.generate_columns([5, 17], key_format=synth.SF_KEY_FORMAT)
    assert sf[0].tolist() == ["sfdoc_5", "sfdoc_17"]
