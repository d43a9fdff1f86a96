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


def test_null_spans_and_fields_do_not_poison_batch(spark, tmp_path):
    """A null span list, null span fields and an empty span list extract
    to nothing without an error; the good doc is unaffected, and a run's
    checkpoint counts all four docs, one table and no error."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.extractor.pipeline import (
        _SPAN_TYPE,
    )

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
    nested = extract_batch(pdf, "nested")
    assert list(nested["doc_id"]) == ["good"]
    cells = [c for r in _table_rows(nested.iloc[0]["result"]) for c in r]
    assert cells == list(good["text"])
    for mode in ("spans", "nested"):
        counted = extract_batch(pdf.assign(bucket=0), mode)
        assert counted["__tables"].sum() == 1, mode
        assert not counted["__error"].any(), mode
    inp = str(tmp_path / "in.parquet")
    pq.write_table(pa.table({
        "doc_id": list(pdf["doc_id"]),
        "spans": pa.array(list(pdf["spans"]), pa.list_(_SPAN_TYPE)),
    }), inp)
    cp = str(tmp_path / "cp")
    job.run_extraction(spark, job.read_spans(spark, inp),
                       str(tmp_path / "out"), cp, n_buckets=1)
    [row] = job._read_checkpoint(spark, cp).collect()
    assert (row["n_docs"], row["n_tables"], row["n_errors"]) == (4, 1, 0)
    assert row["n_spans_out"] == len(good)


def test_null_offset_is_a_per_doc_error():
    """A text or media span with a null offset cannot be ordered: its doc
    yields exactly one error row (flat) or one error record with no pages
    (nested), the other docs — including those after it in the batch —
    come out as if it were absent, and nothing warns."""
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
            err = got[got.doc_id == "bad"]
            assert [json.loads(r) for r in err["result"]] == [{
                "paper_id": "bad", "result": {"pages": []},
                "error": rows.iloc[0]["text"],
            }], mode
            got = got[got.doc_id != "bad"].reset_index(drop=True)
            assert got.equals(extract_batch(ref, mode)), mode
        for mode in ("spans", "nested", "nested-colspans"):
            counted = extract_batch(pdf.assign(bucket=0), mode)
            assert counted["__error"].sum() == 1, mode
            assert counted["__tables"].sum() == 2, mode


def test_null_doc_id_is_a_per_doc_error():
    """A doc whose ``doc_id`` is null yields one error row (flat) or one
    error record without pages (nested), its ``doc_id`` null too, and
    the other docs come out as if it were absent."""
    pdf = pd.DataFrame({"doc_id": ["a", None, "b"],
                        "spans": [GOOD, GOOD, GOOD]})
    ref = pd.DataFrame({"doc_id": ["a", "b"], "spans": [GOOD, GOOD]})
    out = extract_batch(pdf)
    rows = out[out.doc_id.isna()]
    assert list(rows["kind"]) == ["error"] and list(rows["seq"]) == [0]
    assert "the doc_id is null" in rows.iloc[0]["text"]
    exp = extract_batch(ref)
    assert out[out.doc_id.notna()].reset_index(drop=True).equals(exp)
    for mode in ("nested", "nested-colspans"):
        got = extract_batch(pdf, mode)
        err = got[got.doc_id.isna()]
        assert [json.loads(r) for r in err["result"]] == [{
            "paper_id": None, "result": {"pages": []},
            "error": rows.iloc[0]["text"],
        }], mode
        got = got[got.doc_id.notna()].reset_index(drop=True)
        assert got.equals(extract_batch(ref, mode)), mode


def test_null_offset_doc_does_not_sink_the_assembly_stream(spark, tmp_path):
    """Stateful assembly, one micro-batch: a good doc and a doc with a
    null text offset, both ended. The stream finishes, the good doc's
    rows equal the oracle's, the bad doc yields one error row and no
    stats row is emitted."""
    from key_resource_table_extractor_spark import oracle
    from key_resource_table_extractor_spark.streaming.stateful_assembly import (
        SPAN_EVENTS_DDL,
        run_stateful_assembly,
    )

    events = [
        (d, s["kind"], s["text"], s["media_ref"],
         None if d == "bad" and s["offset"] == 1 else s["offset"])
        for d in ("good", "bad") for s in GOOD
    ] + [(d, "end", "", "", 99) for d in ("good", "bad")]
    inp, out = str(tmp_path / "in"), str(tmp_path / "out")
    spark.createDataFrame(events, SPAN_EVENTS_DDL).write.parquet(inp)
    q = run_stateful_assembly(spark, inp, out, str(tmp_path / "cp"))
    q.awaitTermination(180)
    assert q.exception() is None
    rows = spark.read.parquet(out).orderBy("doc_id", "seq").collect()
    good = [(r["seq"], r["kind"], r["text"], r["media_ref"], r["offset"])
            for r in rows if r["doc_id"] == "good"]
    exp = oracle.extract_document(
        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in GOOD])
    assert good == [tuple(r) for r in exp] and good
    assert [(r["doc_id"], r["kind"]) for r in rows if r["doc_id"] != "good"] \
        == [("bad", "error")]


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


def test_unknown_row_model_is_rejected():
    """A mistyped or missing row model raises before any data is
    touched instead of silently extracting without row merging."""
    from key_resource_table_extractor_spark.extractor.pipeline import (
        make_map_in_arrow_fn,
    )

    for bad in ("anchr", None):
        with pytest.raises(ValueError, match="unknown row_model"):
            make_map_in_arrow_fn(row_model=bad)


def test_midcol_rowspans_outside_nested_colspans_is_rejected(spark, tmp_path):
    """``midcol_rowspans`` only means something to the colspan-aware
    nested output: with any other mode it raises before any data is
    touched, in process, in a run and in an upsert, which write nothing."""
    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.extractor.pipeline import (
        make_map_in_arrow_fn,
    )

    for mode in ("spans", "nested"):
        with pytest.raises(ValueError, match="midcol_rowspans"):
            make_map_in_arrow_fn(mode, midcol_rowspans=True)
    make_map_in_arrow_fn("nested-colspans", midcol_rowspans=True)
    with pytest.raises(ValueError, match="midcol_rowspans"):
        job.run_extraction(
            spark, job.synthesize_spans(spark, 4, partitions=1),
            str(tmp_path / "out"), str(tmp_path / "cp"), n_buckets=2,
            output_mode="nested", midcol_rowspans=True,
        )
    # an upsert refuses it before it looks for the output
    with pytest.raises(ValueError, match="midcol_rowspans"):
        job.upsert_docs(spark, job.synthesize_spans(spark, 4, partitions=1),
                        str(tmp_path / "out"), midcol_rowspans=True)
    assert not (tmp_path / "out").exists()


def test_rows_sharing_a_doc_id_extract_per_input_row():
    """Two rows with a null ``doc_id`` and two with the same ``doc_id``
    in one batch come out as the four rows extracted one batch each:
    ``seq`` from 0 per input row, four nested records. With any
    ``bucket`` assignment the rows are the same, each carries its input
    row's bucket, and the two copies count two tables."""
    import numpy as np

    pdf = pd.DataFrame({"doc_id": [None, None, "a", "a"], "spans": [GOOD] * 4})
    for mode in ("spans", "nested", "nested-colspans"):
        parts = [extract_batch(pdf.iloc[[i]], mode) for i in range(4)]
        got = extract_batch(pdf, mode)
        assert got.equals(pd.concat(parts, ignore_index=True)), mode
        one = extract_batch(pdf.iloc[[2]].assign(bucket=0), mode)
        assert one["__tables"].sum() == 1, mode
        for buckets in ([0, 0, 0, 0], [1, 0, 1, 0], [3, 2, 1, 0]):
            b = extract_batch(pdf.assign(bucket=buckets), mode)
            assert b.drop(columns=["bucket", "__tables", "__error"]).equals(
                got), (mode, buckets)
            assert list(b["bucket"]) == list(
                np.repeat(buckets, [len(p) for p in parts])), (mode, buckets)
            assert b["__tables"].sum() == 2 * one["__tables"].sum()
            assert b["__error"].sum() == 2
    flat = extract_batch(pdf)
    n = len(extract_batch(pdf.iloc[[2]]))
    assert list(flat.seq[flat.doc_id == "a"]) == 2 * list(range(n))
    assert list(flat.seq[flat.doc_id.isna()]) == [0, 0]
    assert len(extract_batch(pdf, "nested")) == 4


def test_sliced_list_array_in_arrow_path():
    """A RecordBatch whose spans ListArray is a nonzero-offset slice must
    not misalign span_doc with the child value arrays (the child of a
    sliced ListArray still holds the FULL values buffer)."""
    import pyarrow as pa

    from key_resource_table_extractor_spark import oracle
    from key_resource_table_extractor_spark.extractor.pipeline import (
        _SPAN_TYPE,
        make_map_in_arrow_fn,
    )

    decoy = [
        {"kind": "text", "text": "decoy line", "media_ref": "", "offset": 0}
    ]
    full = pa.table(
        {
            "doc_id": pa.array(["skip0", "skip1", "keep"]),
            "spans": pa.array([decoy, decoy + decoy, GOOD],
                              pa.list_(_SPAN_TYPE)),
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
