"""Bucket waves in ``run_extraction``: many buckets share one scan, one
exchange, one staged write and one checkpoint append, and a wave's
checkpoint rows, output and resume behaviour equal those of running its
buckets one at a time."""

from __future__ import annotations

import json
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from key_resource_table_extractor_spark import job, spec, synth
from key_resource_table_extractor_spark.extractor.pipeline import (
    _SPAN_TYPE,
    make_map_in_arrow_fn,
)

# a text span with a null offset: its doc extracts to one error row
BAD_DOC = ("doc_null_offset", [
    {"kind": "text", "text": "Antibody  Source  Identifier",
     "media_ref": "", "offset": None},
])


def _spans_table(n_docs: int) -> pa.Table:
    """``n_docs`` synth docs plus ``BAD_DOC``."""
    ids = [f"doc_5_{i:07d}" for i in range(n_docs)]
    spans = [
        [dict(kind=k, text=t, media_ref=m, offset=o)
         for k, t, m, o in synth.generate_doc(d, 5)]
        for d in ids
    ]
    ids.append(BAD_DOC[0])
    spans.append(BAD_DOC[1])
    return pa.table({"doc_id": ids,
                     "spans": pa.array(spans, pa.list_(_SPAN_TYPE))})


def _file_input(spark, path: str, n_docs: int = 120, files: int = 3):
    """A parquet spans table on disk, so ``inputFiles()`` sizes the waves."""
    t = _spans_table(n_docs)
    os.makedirs(path)
    for j in range(files):
        pq.write_table(t.take(list(range(j, t.num_rows, files))),
                       f"{path}/part-{j}.parquet")
    return job.read_spans(spark, path)


def _cp_rows(spark, cp: str) -> dict:
    rows = job._read_checkpoint(spark, cp).drop("wall_ms", "ts").collect()
    by_bucket = {r["bucket"]: r.asDict() for r in rows}
    assert len(by_bucket) == len(rows), "one checkpoint row per bucket"
    return by_bucket


def _out_rows(spark, out: str) -> list:
    return sorted(
        tuple(r) for r in spark.read.parquet(out)
        .select("bucket", "doc_id", "seq", "kind", "text", "media_ref",
                "offset").collect()
    )


def _waves(cp: str) -> int:
    """Checkpoint writes, one per wave."""
    return sum(n.startswith("cpw=") for n in os.listdir(cp))


def test_bucket_column_passes_through_every_output_row():
    """In process: a batch with a ``bucket`` column is extracted bucket
    by bucket, every output row carries its doc's bucket, and each
    bucket's rows equal extracting that bucket's docs on their own. The
    internal ``__tables``/``__error`` columns count, per bucket, the
    same tables and errors in both modes: the flat error rows, and the
    pages of the nested records."""
    t = _spans_table(40)
    buckets = pa.array([i % 3 for i in range(t.num_rows)], pa.int32())
    batch = t.append_column("bucket", buckets).to_batches()[0]
    counts = {}
    for mode in ("spans", "nested"):
        fn = make_map_in_arrow_fn(mode)
        got = pa.Table.from_batches(list(fn([batch]))).to_pandas()
        for b in range(3):
            alone = t.filter(pa.compute.equal(buckets, b)).to_batches()[0]
            exp = pa.Table.from_batches(list(fn([alone]))).to_pandas()
            part = got[got.bucket == b].drop(
                columns=["bucket", "__tables", "__error"])
            assert part.reset_index(drop=True).equals(exp), (mode, b)
        assert len(got) == sum(
            (got.bucket == b).sum() for b in range(3)), mode
        counts[mode] = got.groupby("bucket")[["__tables", "__error"]].sum()
        assert not got["__tables"][got["__error"]].any(), mode
        if mode == "spans":
            assert set(got["__tables"]) == {0, 1}
            assert list(got["__error"]) == list(got.kind == spec.KIND_ERROR)
            assert set(got.kind) == {"text", "media", "error"}
        else:
            pages = [len(json.loads(r)["result"]["pages"])
                     for r in got.result]
            assert list(got["__tables"]) == pages
            assert list(got["__error"]) == [
                "error" in json.loads(r) for r in got.result]
    assert counts["spans"].equals(counts["nested"])
    assert counts["spans"]["__error"].sum() == 1
    assert counts["spans"]["__tables"].sum() > 0
    # no bucket column: the data columns only, no count columns
    plain = pa.Table.from_batches(list(make_map_in_arrow_fn()(
        [t.to_batches()[0]]))).to_pandas()
    assert list(plain.columns) == [
        "doc_id", "seq", "kind", "text", "media_ref", "offset"]


def test_wave_checkpoint_rows_equal_per_bucket_runs(spark, tmp_path):
    """One call over a file input runs all K=4 buckets as one wave; four
    ``buckets=[b]`` calls run one bucket each. Checkpoint rows (bar
    ``wall_ms``/``ts``), table and error counts included, and output
    rows are equal per bucket. A bucket with no output row is still a
    committed ``bucket=N`` directory with a checkpoint row."""
    inp = _file_input(spark, str(tmp_path / "in"))
    one, one_cp = str(tmp_path / "one"), str(tmp_path / "one_cp")
    s = job.run_extraction(spark, inp, one, one_cp, run_id="w", n_buckets=4)
    assert s["buckets_run"] == 4 and _waves(one_cp) == 1
    per, per_cp = str(tmp_path / "per"), str(tmp_path / "per_cp")
    for b in range(4):
        job.run_extraction(spark, inp, per, per_cp, run_id="w",
                           n_buckets=4, buckets=[b])
    assert _waves(per_cp) == 4
    rows = _cp_rows(spark, one_cp)
    assert rows == _cp_rows(spark, per_cp)
    assert sorted(rows) == [0, 1, 2, 3]
    assert sum(r["n_docs"] for r in rows.values()) == 121
    assert sum(r["n_errors"] for r in rows.values()) == 1
    assert sum(r["n_tables"] for r in rows.values()) > 0
    assert _out_rows(spark, one) == _out_rows(spark, per)
    err = [r for r in _out_rows(spark, one) if r[3] == spec.KIND_ERROR]
    assert [r[1] for r in err] == [BAD_DOC[0]]
    bad_bucket = spark.createDataFrame([(BAD_DOC[0],)], "doc_id string") \
        .select(F.pmod(F.xxhash64("doc_id"), F.lit(4))).first()[0]
    assert err[0][0] == bad_bucket
    assert rows[bad_bucket]["n_errors"] == 1

    # every bucket of a wave without a single output row is committed,
    # and the output still reads as an empty table
    empty, empty_cp = str(tmp_path / "empty"), str(tmp_path / "empty_cp")
    job.run_extraction(spark, inp.where(F.length("doc_id") < 0), empty,
                       empty_cp, run_id="e", n_buckets=4)
    assert sorted(n for n in os.listdir(empty) if n.startswith("bucket=")) \
        == [f"bucket={b}" for b in range(4)]
    assert job.read_output(spark, empty).count() == 0
    assert job.output_status(spark, empty)["staging_leftovers"] == []
    assert {b: r["n_docs"] for b, r in _cp_rows(spark, empty_cp).items()} \
        == {0: 0, 1: 0, 2: 0, 3: 0}
    assert job.completed_buckets(spark, empty_cp, "e") == {0, 1, 2, 3}


def test_nested_checkpoint_counts_equal_flat(spark, tmp_path):
    """Nested checkpoint rows count, per bucket, the tables (one per
    page) and errors (error records) a flat run counts on the same
    input; ``n_spans_out`` counts the docs with a table."""
    inp = _file_input(spark, str(tmp_path / "in"))
    rows = {}
    for mode in ("spans", "nested"):
        job.run_extraction(spark, inp, str(tmp_path / mode),
                           str(tmp_path / f"{mode}_cp"), run_id="n",
                           n_buckets=4, output_mode=mode)
        rows[mode] = _cp_rows(spark, str(tmp_path / f"{mode}_cp"))
    counts = {
        mode: {b: (r["n_docs"], r["n_tables"], r["n_errors"])
               for b, r in by_bucket.items()}
        for mode, by_bucket in rows.items()
    }
    assert counts["nested"] == counts["spans"]
    assert sum(n[1] for n in counts["spans"].values()) > 0
    assert sum(n[2] for n in counts["spans"].values()) == 1
    with_table = job.read_output(spark, str(tmp_path / "nested")).where(
        F.get_json_object("result", "$.error").isNull()).count()
    assert sum(r["n_spans_out"] for r in rows["nested"].values()) \
        == with_table > 0


def test_job_count_constant_in_k_within_one_wave(spark, tmp_path):
    """Counted with a job group: a small file input that fits one wave
    runs the same number of Spark jobs per ``run_extraction`` call at
    K=4 and K=16. A synthesized input (no files to size the waves by)
    still runs one bucket per wave."""
    inp = _file_input(spark, str(tmp_path / "in"), n_docs=60)
    sc = spark.sparkContext
    jobs = {}
    for k in (4, 16, 4):  # the repeat shows the count is not warm-up
        group = f"krt-waves-{k}-{len(jobs)}"
        cp = str(tmp_path / f"cp_{group}")
        sc.setJobGroup(group, "wave job count under test")
        try:
            job.run_extraction(spark, inp, str(tmp_path / f"o_{group}"),
                               cp, run_id="j", n_buckets=k)
        finally:
            sc.setJobGroup("", "")
        assert _waves(cp) == 1
        jobs[group] = len(sc.statusTracker().getJobIdsForGroup(group))
    assert len(set(jobs.values())) == 1, jobs

    cp = str(tmp_path / "synth_cp")
    s = job.run_extraction(spark, job.synthesize_spans(spark, 40), str(
        tmp_path / "synth_out"), cp, run_id="s", n_buckets=4)
    assert s["buckets_run"] == 4 and _waves(cp) == 4


def test_wave_rerun_without_checkpoint_is_idempotent(spark, tmp_path):
    """A wave whose checkpoint rows are lost re-runs as an overwrite:
    same rows, no duplicates, no staging leftovers."""
    # a space in the input path: inputFiles() returns escaped URIs
    inp = _file_input(spark, str(tmp_path / "in put"), n_docs=60)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    job.run_extraction(spark, inp, out, cp, run_id="i", n_buckets=4)
    first = _out_rows(spark, out)
    shutil.rmtree(cp)
    s = job.run_extraction(spark, inp, out, cp, run_id="i", n_buckets=4)
    assert s["buckets_run"] == 4 and s["buckets_skipped"] == 0
    again = _out_rows(spark, out)
    assert again == first and len(set(again)) == len(again)
    assert job.output_status(spark, out)["staging_leftovers"] == []


def test_fail_after_bucket_ends_the_wave(spark, tmp_path):
    """``fail_after_bucket=b`` keeps its meaning under waves: buckets up
    to b commit, the error names b, and the resume runs the rest."""
    inp = _file_input(spark, str(tmp_path / "in"), n_docs=60)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    with pytest.raises(RuntimeError, match="injected failure after bucket 2"):
        job.run_extraction(spark, inp, out, cp, run_id="f", n_buckets=8,
                           fail_after_bucket=2)
    assert job.completed_buckets(spark, cp, "f") == {0, 1, 2}
    s = job.run_extraction(spark, inp, out, cp, run_id="f", n_buckets=8)
    assert s["buckets_skipped"] == 3 and s["buckets_run"] == 5
    assert _waves(cp) == 2


def test_corrupt_checkpoint_fails_loudly(spark, tmp_path):
    """An unreadable checkpoint raises instead of reading as "no bucket
    done", which would silently re-run every bucket."""
    inp = job.synthesize_spans(spark, 30)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    job.run_extraction(spark, inp, out, cp, run_id="c", n_buckets=2)
    files = [os.path.join(d, f) for d, _, fs in os.walk(cp) for f in fs
             if f.endswith(".parquet")]
    assert files
    for f in files:
        with open(f, "wb") as fh:
            fh.write(b"not a parquet file")
    mtimes = {
        os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
        for d, _, fs in os.walk(out) for f in fs
    }
    with pytest.raises(Exception):
        job.run_extraction(spark, inp, out, cp, run_id="c", n_buckets=2)
    assert {p: os.path.getmtime(p) for p in mtimes} == mtimes
    # a checkpoint path that does not exist yet is simply empty
    assert job._read_checkpoint(spark, str(tmp_path / "none")) is None


def test_repeated_or_out_of_range_bucket_ids_are_rejected(spark, tmp_path):
    """A repeated bucket id would stage its rows once and then swap an
    empty directory over them; an id outside ``range(n_buckets)`` would
    commit a bucket that K does not have. The run refuses both before it
    writes the marker; compact, through the staged rewrite it shares with
    delete and upsert, refuses a repeated id and leaves the bucket as is."""
    inp = _file_input(spark, str(tmp_path / "in"), n_docs=60)
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    for bad in ([1, 1], [9], [-1]):
        with pytest.raises(ValueError, match="distinct ids in range"):
            job.run_extraction(spark, inp, out, cp, run_id="g", n_buckets=4,
                               buckets=bad)
    assert not os.path.exists(out) and not os.path.exists(cp)
    job.run_extraction(spark, inp, out, cp, run_id="g", n_buckets=4)
    rows = _out_rows(spark, out)
    assert any(b == 0 for b, *_ in rows)
    for dry_run in (True, False):
        with pytest.raises(ValueError, match="repeated bucket id"):
            job.compact_output(spark, out, buckets=[0, 0], dry_run=dry_run)
    assert _out_rows(spark, out) == rows


def test_null_doc_id_is_one_error_row_through_run_extraction(spark, tmp_path):
    """A doc whose ``doc_id`` is null, in a pyarrow-written parquet
    input at K=4: it yields one error row with a null ``doc_id``, every
    other doc equals ``oracle.extract_document``, the checkpoint counts
    the one error, and the raw output holds data and error rows only."""
    from key_resource_table_extractor_spark import oracle

    t = _spans_table(30)
    ids = t.column("doc_id").to_pylist()
    ids[ids.index(BAD_DOC[0])] = None  # its null offset stays, too
    os.makedirs(tmp_path / "in")
    pq.write_table(t.set_column(0, "doc_id", pa.array(ids, pa.string())),
                   str(tmp_path / "in" / "part-0.parquet"))
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    job.run_extraction(spark, job.read_spans(spark, str(tmp_path / "in")),
                       out, cp, run_id="z", n_buckets=4)
    rows = spark.read.parquet(out).orderBy("seq").collect()
    err = [r for r in rows if r["kind"] == spec.KIND_ERROR]
    assert [(r["doc_id"], r["seq"]) for r in err] == [(None, 0)]
    assert "the doc_id is null" in err[0]["text"]
    assert {r["kind"] for r in rows} == {"text", "media", "error"}
    for d in ids[:-1]:
        got = [(r["seq"], r["kind"], r["text"], r["media_ref"], r["offset"])
               for r in rows if r["doc_id"] == d]
        assert got == oracle.extract_document(synth.generate_doc(d, 5)), d
    cp_rows = _cp_rows(spark, cp).values()
    assert sum(r["n_errors"] for r in cp_rows) == 1
    assert sum(r["n_docs"] for r in cp_rows) == 31


def test_duplicate_doc_counts_both_copies_through_run_extraction(
    spark, tmp_path
):
    """A doc written twice, adjacent, into a pyarrow-written parquet
    input at K=2: the checkpoint counts both copies' docs and tables, and
    each copy's rows equal ``oracle.extract_document`` (flat) or its
    record's cells the oracle's text spans (nested)."""
    from key_resource_table_extractor_spark import oracle

    t = _spans_table(6)
    dup = t.column("doc_id")[1].as_py()
    os.makedirs(tmp_path / "in")
    pq.write_table(t.take([0, 1, 1, 2, 3, 4, 5, 6]),
                   str(tmp_path / "in" / "part-0.parquet"))
    inp = job.read_spans(spark, str(tmp_path / "in"))
    # tables per doc, each doc extracted once in process
    alone = pa.Table.from_batches(list(make_map_in_arrow_fn()([
        t.append_column("bucket", pa.array([0] * t.num_rows, pa.int32()))
        .to_batches()[0]]))).to_pandas()
    tables = alone.groupby("doc_id")["__tables"].sum()
    assert tables[dup] > 0
    exp = oracle.extract_document(synth.generate_doc(dup, 5))
    for mode in ("spans", "nested"):
        out, cp = str(tmp_path / mode), str(tmp_path / f"{mode}_cp")
        job.run_extraction(spark, inp, out, cp, run_id="d", n_buckets=2,
                           output_mode=mode)
        cp_rows = _cp_rows(spark, cp).values()
        assert sum(r["n_docs"] for r in cp_rows) == 8, mode
        assert sum(r["n_tables"] for r in cp_rows) \
            == tables.sum() + tables[dup], mode
        assert sum(r["n_errors"] for r in cp_rows) == 1, mode
        got = spark.read.parquet(out).where(F.col("doc_id") == dup)
        if mode == "spans":
            rows = [tuple(r) for r in got.select(
                "seq", "kind", "text", "media_ref", "offset").collect()]
            assert sorted(rows) == sorted(exp + exp)
        else:
            cells = [
                [c for p in json.loads(r["result"])["result"]["pages"]
                 for tb in p["tables"] for row in tb["rows"] for c in row]
                for r in got.collect()
            ]
            texts = [text for _, kind, text, _, _ in exp if kind == "text"]
            assert cells == [texts, texts]
