"""Malformed-input robustness: null spans arrays, null fields, empty
batches — the batch must not fail and well-formed docs must be unaffected."""

from __future__ import annotations

import json
import warnings

import pandas as pd
import pytest

from tests.conftest import extract_batch


GOOD = [
    {"kind": "text", "text": "Key Resources Table", "media_ref": "", "offset": 0},
    {"kind": "text", "text": "REAGENT or RESOURCE   SOURCE   IDENTIFIER",
     "media_ref": "", "offset": 1},
    {"kind": "text", "text": "Anti-Foo              Abcam    RRID:AB_1",
     "media_ref": "", "offset": 2},
]


def _table_rows(result: str) -> list[list[str]]:
    pages = json.loads(result)["result"]["pages"]
    return [r for p in pages for t in p["tables"] for r in t["rows"]]


def test_null_spans_and_fields_do_not_poison_batch():
    pdf = pd.DataFrame(
        {
            "doc_id": ["good", "null_spans", "null_fields", "empty"],
            "spans": [
                GOOD,
                None,
                [
                    {"kind": None, "text": None, "media_ref": None, "offset": None},
                    {"kind": "media", "text": None, "media_ref": None, "offset": 1},
                ],
                [],
            ],
        }
    )
    out = extract_batch(pdf)
    good = out[(out.doc_id == "good") & (out.kind == "text")]
    assert len(good) > 0
    assert (out["kind"] != "error").all()  # nothing crashed per-doc either
    # stats row counts all four docs
    stats = json.loads(out[out.kind == "stats"].iloc[0]["text"])
    assert stats["n_docs"] == 4
    assert stats["n_errors"] == 0
    nested = extract_batch(pdf, "nested")
    assert list(nested["doc_id"]) == ["good"]
    cells = [c for r in _table_rows(nested.iloc[0]["result"]) for c in r]
    assert cells == list(good["text"])


def test_null_offset_is_a_per_doc_error():
    """A text or media span with a null offset cannot be ordered: its doc
    yields exactly one error row (flat) or no row (nested), the other
    docs — including those after it in the batch — come out as if it were
    absent, and nothing warns."""
    for bad_kind in ("text", "media"):
        bad = [dict(s) for s in GOOD] + [
            {"kind": bad_kind, "text": "x", "media_ref": "m", "offset": 9}
        ]
        bad[2 if bad_kind == "text" else -1]["offset"] = None
        pdf = pd.DataFrame({"doc_id": ["a", "bad", "b"],
                            "spans": [GOOD, bad, GOOD]})
        ref = pd.DataFrame({"doc_id": ["a", "b"], "spans": [GOOD, GOOD]})
        with warnings.catch_warnings():
            warnings.simplefilter("error")
            out = extract_batch(pdf)
            nested = {m: extract_batch(pdf, m)
                      for m in ("nested", "nested-colspans")}
        rows = out[out.doc_id == "bad"]
        assert list(rows["kind"]) == ["error"], rows
        assert "null offset" in rows.iloc[0]["text"]
        data = out[out.kind.isin(["text", "media"])].reset_index(drop=True)
        exp = extract_batch(ref)
        exp = exp[exp.kind.isin(["text", "media"])].reset_index(drop=True)
        assert data.equals(exp)
        for mode, got in nested.items():
            assert got.equals(extract_batch(ref, mode)), mode
        stats = json.loads(out[out.kind == "stats"].iloc[0]["text"])
        assert stats["n_errors"] == 1


def test_null_kind_span_is_dropped():
    """A span whose kind is null is ignored, even with a null offset."""
    spans = GOOD + [
        {"kind": None, "text": "stray", "media_ref": None, "offset": None}
    ]
    pdf = pd.DataFrame({"doc_id": ["d"], "spans": [spans]})
    ref = pd.DataFrame({"doc_id": ["d"], "spans": [GOOD]})
    out, exp = extract_batch(pdf), extract_batch(ref)
    assert out[out.doc_id == "d"].equals(exp[exp.doc_id == "d"])
    assert extract_batch(pdf, "nested").equals(extract_batch(ref, "nested"))


def test_empty_batch():
    empty = pd.DataFrame({"doc_id": [], "spans": []})
    for mode, columns in (
        ("spans", ["doc_id", "seq", "kind", "text", "media_ref", "offset"]),
        ("nested", ["doc_id", "result"]),
    ):
        out = extract_batch(empty, mode)
        assert list(out.columns) == columns
        assert len(out) == 0


def test_unknown_output_mode_is_rejected_before_any_write(spark, tmp_path):
    """A mistyped mode (e.g. nested_colspans for nested-colspans) must
    fail before the bucket-count marker or any bucket is written, not
    silently fall back to plain nested output."""
    from key_resource_table_extractor_spark import job

    inp = job.synthesize_spans(spark, 4, partitions=1)
    out_dir = tmp_path / "out"
    with pytest.raises(ValueError, match="nested_colspans"):
        job.run_extraction(
            spark, inp, str(out_dir), str(tmp_path / "cp"),
            n_buckets=2, output_mode="nested_colspans",
        )
    assert not out_dir.exists()


def test_sliced_list_array_in_arrow_path():
    """A RecordBatch whose spans ListArray is a nonzero-offset slice must
    not misalign span_doc with the child value arrays (the child of a
    sliced ListArray still holds the FULL values buffer)."""
    import pyarrow as pa

    from key_resource_table_extractor_spark import oracle
    from key_resource_table_extractor_spark.extractor.pipeline import (
        make_map_in_arrow_fn,
    )

    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    decoy = [
        {"kind": "text", "text": "decoy line", "media_ref": "", "offset": 0}
    ]
    full = pa.table(
        {
            "doc_id": pa.array(["skip0", "skip1", "keep"]),
            "spans": pa.array([decoy, decoy + decoy, GOOD], pa.list_(span_t)),
        }
    )
    sliced = full.slice(2)  # ListArray with offset 2 — child keeps decoys
    batch = sliced.combine_chunks().to_batches()[0]
    assert batch.column("spans").offset != 0  # the regression precondition
    out = list(make_map_in_arrow_fn()([batch]))
    assert len(out) == 1
    rows = out[0].to_pydict()
    got = [
        (k, t, o)
        for k, t, o, d in zip(rows["kind"], rows["text"], rows["offset"],
                              rows["doc_id"])
        if d == "keep" and k in ("text", "media")
    ]
    exp = [
        (k, t, o)
        for (_s, k, t, _m, o) in oracle.extract_document(
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in GOOD]
        )
    ]
    assert got == exp and got, (got, exp)
    assert not any("decoy" in t for t in rows["text"])


def test_round3_operators_tolerate_empty_input(spark):
    """Every round-3 operator must return an EMPTY, correctly-typed result
    on an empty corpus — not raise on null aggregates (avgdl, n_units,
    label sums) or empty groupings."""
    from key_resource_table_extractor_spark.operators.dedup import (
        dedup_clusters,
        dup_passage_stats,
    )
    from key_resource_table_extractor_spark.operators.multimodal import (
        embed_media,
        resize_media,
    )
    from key_resource_table_extractor_spark.operators.relational import (
        asof_join,
        domain_mixture_sample,
    )
    from key_resource_table_extractor_spark.operators.text import (
        bm25_topk,
        chunk_documents,
        sequence_packing,
    )

    empty = spark.createDataFrame([], "doc_id bigint, text string")
    for fn in (
        dup_passage_stats,
        dedup_clusters,
        bm25_topk,
        chunk_documents,
        sequence_packing,
        resize_media,
        embed_media,
    ):
        out = fn(empty)
        assert out.collect() == [], fn
        assert len(out.schema.fields) >= 2, fn

    empty_src = spark.createDataFrame(
        [], "doc_id bigint, source string"
    )
    out = domain_mixture_sample(empty_src, {"a": 1.0})
    assert out.collect() == []

    empty_l = spark.createDataFrame([], "k bigint, ts timestamp, lv double")
    empty_r = spark.createDataFrame([], "k bigint, ts timestamp, rv double")
    assert (
        asof_join(
            empty_l, empty_r, key="k", ts="ts", right_cols=["rv"]
        ).collect()
        == []
    )


def test_round4_operators_tolerate_empty_and_foreign_inputs(spark):
    from key_resource_table_extractor_spark.operators.curation import (
        curation_pipeline,
    )
    from key_resource_table_extractor_spark.operators.dedup import (
        minhash_signatures,
        remove_boilerplate,
    )
    from key_resource_table_extractor_spark.operators.similarity import (
        ann_pq_topk,
    )

    empty_docs = spark.createDataFrame([], "doc_id bigint, text string")
    assert remove_boilerplate(empty_docs).collect() == []
    assert minhash_signatures(empty_docs).collect() == []

    # PQ: empty corpus AND a corpus with no rows below n_queries both
    # return an empty, correctly-typed frame (not an analysis crash)
    empty_emb = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    out = ann_pq_topk(empty_emb)
    assert out.collect() == []
    assert [f.name for f in out.schema.fields] == [
        "query_id", "rk", "cand_id", "cos",
    ]
    # both paths (empty guard / live query) must produce ONE schema —
    # field TYPES included, not just names
    live = ann_pq_topk(
        spark.createDataFrame(
            [(i, [float(i + j) for j in range(64)]) for i in range(4)],
            "vec_id bigint, embedding array<double>",
        ),
        n_queries=2, k=2,
    )
    assert [(f.name, f.dataType) for f in live.schema.fields] == [
        (f.name, f.dataType) for f in out.schema.fields
    ]
    high_ids = spark.createDataFrame(
        [(1000 + i, [float(i), 1.0, 0.5, 2.0] * 16) for i in range(6)],
        "vec_id bigint, embedding array<double>",
    )
    assert ann_pq_topk(high_ids, n_queries=10).collect() == []

    # minhash must preserve a STRING doc_id type (extraction-side ids)
    sdocs = spark.createDataFrame(
        [("doc_a", "one two three four five six"),
         ("doc_b", "one two three four five six")],
        "doc_id string, text string",
    )
    rows = minhash_signatures(sdocs).collect()
    assert {r["doc_id"] for r in rows} == {"doc_a", "doc_b"}
    a, b = sorted(rows, key=lambda r: r["doc_id"])
    assert [a[f"mh{i}"] for i in range(32)] == [
        b[f"mh{i}"] for i in range(32)
    ]

    empty_curation = curation_pipeline(
        spark.createDataFrame(
            [], "doc_id bigint, source string, text string"
        ),
        {"srcA": 1.0},
    )
    assert empty_curation.collect() == []
