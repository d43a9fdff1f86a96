"""Span-sequence equality: Spark pipeline vs pure-Python oracle
(SURVEY.md §5 item 1 — the correctness contract of BASELINE.json).

The Spark job (its one mapInArrow entry) must produce, per document,
exactly the oracle's ordered (kind, text, media_ref) sequence.
"""

from __future__ import annotations

import pandas as pd

from key_resource_table_extractor_spark import oracle, synth
from key_resource_table_extractor_spark import job
from tests.conftest import extract_batch

N_DOCS = 300


def corpus(n_docs):
    """``(doc_id, spans)`` of the first ``n_docs`` rows of
    ``job.synthesize_spans``, keyed by the one doc-key rule."""
    for i in range(n_docs):
        doc_id = synth.KEY_FORMAT.format(i, seed=42)
        yield doc_id, synth.generate_doc(doc_id)


def oracle_frame(n_docs):
    rows = []
    for doc_id, spans in corpus(n_docs):
        out = oracle.extract_document(spans)
        for seq, kind, text, media_ref, offset in out:
            rows.append((doc_id, seq, kind, text, media_ref, offset))
    return pd.DataFrame(
        rows, columns=["doc_id", "seq", "kind", "text", "media_ref", "offset"]
    )


def spark_frame(spark, n_docs):
    df = job.synthesize_spans(spark, n_docs, partitions=5)
    out = job.data_spans(job.extract(df))
    pdf = out.toPandas()
    return pdf.sort_values(["doc_id", "seq"]).reset_index(drop=True)


def test_span_sequence_equality(spark):
    exp = oracle_frame(N_DOCS).sort_values(["doc_id", "seq"]).reset_index(drop=True)
    got = spark_frame(spark, N_DOCS)
    assert len(got) == len(exp), (len(got), len(exp))
    for col in ["doc_id", "seq", "kind", "text", "media_ref", "offset"]:
        mism = (got[col].astype(str) != exp[col].astype(str))
        assert not mism.any(), (
            col,
            got[mism].head(3).to_dict("records"),
            exp[mism].head(3).to_dict("records"),
        )


def test_excepted_lines_equality_through_spark(spark):
    """F2 config flows through the mapInArrow job path and matches the
    oracle given the same exclusions."""
    n = 60
    kw = dict(excepted_lines=[0, -1], excepted_pages=[1])
    df = job.synthesize_spans(spark, n, partitions=3)
    got = (
        job.data_spans(job.extract(df, **kw))
        .toPandas()
        .sort_values(["doc_id", "seq"])
        .reset_index(drop=True)
    )
    rows = []
    for doc_id, spans in corpus(n):
        out = oracle.extract_document(spans, **kw)
        for seq, kind, text, media_ref, offset in out:
            rows.append((doc_id, seq, kind, text, media_ref, offset))
    exp = (
        pd.DataFrame(rows, columns=list(got.columns))
        .sort_values(["doc_id", "seq"])
        .reset_index(drop=True)
    )
    assert len(got) == len(exp)
    for col in got.columns:
        assert (got[col].astype(str) == exp[col].astype(str)).all(), col


def test_duplicate_offset_media_equality():
    """Offsets are NOT required to be unique (DOCUMENT_SPANS_SCHEMA): two
    media spans sharing an offset must be deduped by span index, not offset
    value, in BOTH implementations (each emitted exactly once)."""
    doc = [
        ("media", "", "img_a", 2),
        ("media", "", "img_b", 2),  # same offset, distinct span
        ("text", "Key Resources Table", "", 0),
        ("text", "REAGENT or RESOURCE     SOURCE      IDENTIFIER", "", 1),
        ("text", "Anti-Foo antibody       Abcam       RRID:AB_123456", "", 2),
        ("text", "Bar protein             Sigma       RRID:SCR_004422", "", 3),
    ]
    exp = [
        (k, t, m, o)
        for (_s, k, t, m, o) in oracle.extract_document(doc)
    ]
    assert [m for (k, _t, m, _o) in exp if k == "media"] == ["img_a", "img_b"]
    pdf = pd.DataFrame(
        {
            "doc_id": ["d0"],
            "spans": [[
                {"kind": k, "text": t, "media_ref": m, "offset": o}
                for (k, t, m, o) in doc
            ]],
        }
    )
    out = extract_batch(pdf)
    out = out[out["kind"].isin(["text", "media"])]
    got = list(
        zip(out["kind"], out["text"], out["media_ref"], out["offset"].astype(int))
    )
    assert got == exp


def test_corpus_has_coverage(spark):
    """The synthetic corpus actually exercises the interesting paths."""
    exp = oracle_frame(N_DOCS)
    assert (exp["kind"] == "media").sum() > 50
    assert exp["text"].str.contains("RRID:").sum() > 500
    docs_with_output = exp["doc_id"].nunique()
    assert 0 < docs_with_output < N_DOCS  # some docs legitimately empty
