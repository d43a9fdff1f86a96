"""The benchmark's workloads: inputs from a seed, one untimed warm pass,
timed units, output checks and the traced per-layer probes.

A unit is the smallest piece of timed work that leaves a complete,
checkable output: one ``run_extraction`` call (bulk_flat), or a killed
call plus its resume (resume_nested).
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from key_resource_table_extractor_spark import job, synth
from key_resource_table_extractor_spark.extractor import pipeline
from key_resource_table_extractor_spark.operators import (
    common, curation, dedup, relational, text,
)

import checks
import proc
from trace import job_group

# docs fed to the in-process extractor.pipeline probes (one core)
PIPELINE_DOCS = 2000


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _data_files(path: str) -> list[str]:
    return [os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
            if f.endswith(".parquet")]


def _bytes(path: str) -> int:
    return sum(os.path.getsize(f) for f in _data_files(path))


def _decode(rb: pa.RecordBatch):
    """The ``(doc_id, spans)`` batch as ``extract_columnar`` arguments,
    flattened the way ``make_map_in_arrow_fn`` flattens it."""
    la = rb.column("spans")
    offs = la.offsets.to_numpy()
    vals = la.values.slice(int(offs[0]), int(offs[-1] - offs[0]))
    n = rb.num_rows
    return (
        rb.column("doc_id").to_numpy(zero_copy_only=False),
        np.repeat(np.arange(n), offs[1:] - offs[:-1]),
        np.asarray(vals.field("kind").to_numpy(zero_copy_only=False), object),
        np.asarray(vals.field("text").to_numpy(zero_copy_only=False), object),
        np.asarray(vals.field("media_ref").to_numpy(zero_copy_only=False),
                   object),
        np.asarray(vals.field("offset").to_numpy(zero_copy_only=False),
                   np.int64),
    )


class Workload:
    """Shared run state; subclasses define the work."""

    name = ""
    unit_s = 1.0  # wall time of one unit on the development box (4 vCPUs)

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tracer = ctx.tracer
        self.work = ctx.work
        self.seed = ctx.seed
        self.units: list[dict] = []
        self.input_path = ""
        # layer times that should add up to one untraced unit (job_probe)
        self.reconcile_terms: dict[str, float] = {}

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def forced(self, name: str, build) -> float:
        """Wall time of one noop-sink action over the frame ``build`` makes."""
        t = time.perf_counter()
        with self.tracer.span(f"forced {name}"):
            _noop(build())
        return time.perf_counter() - t


class _SpanJob(Workload):
    """Shared by the two ``run_extraction`` workloads: a seeded ``synth``
    span table written to parquet, the program's only input."""

    n_docs = 0
    n_buckets = 0
    output_mode = "spans"

    def generate(self) -> None:
        path = self.path("input")
        with self.tracer.span("synth.corpus"):
            with self.tracer.span("job.synthesize_spans"):
                df = job.synthesize_spans(self.spark, self.n_docs, self.seed)
            df.write.parquet(path)
        self.input_path = path

    def read(self):
        with self.tracer.span("job.read_spans"):
            return job.read_spans(self.spark, self.input_path)

    def run_extraction(self, out: str, cp: str, run_id: str, df=None,
                       **kw) -> dict:
        cpu0 = proc.cpu_seconds() if self.tracer.enabled else 0.0
        with job_group(self.ctx.sc, self.tracer, "job.run_extraction") as rec:
            try:
                return job.run_extraction(
                    self.spark, self.read() if df is None else df, out, cp,
                    run_id=run_id,
                    n_buckets=self.n_buckets, output_mode=self.output_mode,
                    **kw)
            finally:
                if rec is not None:
                    rec["cpu_s"] = proc.cpu_seconds() - cpu0

    def unit_calls(self, name: str) -> list[dict]:
        """Spans called ``name`` made directly by a traced timed unit."""
        spans = self.tracer.spans
        return [s for s in self.tracer.named(name) if s["parent"] is not None
                and spans[s["parent"]]["name"] == "bench.unit"]

    def input_info(self) -> dict:
        t = pq.read_table(self.input_path, columns=["doc_id", "spans"])
        ids = t.column("doc_id").to_pylist()
        mega = sum(zlib.crc32(d.encode()) % synth.MEGA_DOC_EVERY == 0
                   for d in ids)
        return {
            "docs": len(ids),
            "spans": int(pa.compute.sum(
                pa.compute.list_value_length(t.column("spans"))).as_py()),
            "input_bytes": _bytes(self.input_path),
            "mega_doc_share": mega / len(ids),
            "buckets": self.n_buckets,
        }

    # -- traced probes -----------------------------------------------------

    def _pipeline_batches(self) -> list[pa.RecordBatch]:
        out, n = [], 0
        for f in sorted(_data_files(self.input_path)):
            for rb in pq.ParquetFile(f).iter_batches(batch_size=2048):
                rb = rb.slice(0, PIPELINE_DOCS - n)
                out.append(rb)
                n += rb.num_rows
                if n >= PIPELINE_DOCS:
                    return out
        return out

    def pipeline_probe(self, m: dict) -> tuple[list[dict], float]:
        """Time the extractor in process over the input's first batches;
        returns the kernel outputs and the thousands of docs they cover."""
        batches = self._pipeline_batches()
        kdocs = sum(rb.num_rows for rb in batches) / 1000
        fn = pipeline.make_map_in_arrow_fn()
        for _ in fn(iter([batches[0].slice(0, 64)])):  # first-call set-up
            pass
        t = time.perf_counter()
        with self.tracer.span("extractor.pipeline.arrow_fn"):
            for _ in fn(iter(batches)):
                pass
        arrow_s = time.perf_counter() - t
        cols = [_decode(rb) for rb in batches]
        outs = []
        t = time.perf_counter()
        with self.tracer.span("extractor.pipeline.extract_columnar"):
            for c in cols:
                outs.append(pipeline.extract_columnar(*c))
        kernel_s = time.perf_counter() - t
        m["extractor.pipeline.arrow_fn.s_per_kdoc"] = arrow_s / kdocs
        m["extractor.pipeline.extract_columnar.s_per_kdoc"] = kernel_s / kdocs
        m["extractor.pipeline.decode.s_per_kdoc"] = (
            (arrow_s - kernel_s) / kdocs)
        m["extractor.pipeline.spans_in"] = sum(len(c[1]) for c in cols)
        kinds = [k for o in outs for k in o["kind"]]
        m["extractor.pipeline.spans_out"] = sum(
            k in job.DATA_KINDS for k in kinds)
        stats = [json.loads(o["text"][i]) for o in outs
                 for i, k in enumerate(o["kind"]) if k == job.STATS_KIND]
        m["extractor.pipeline.tables"] = sum(s["n_tables"] for s in stats)
        m["extractor.pipeline.error_docs"] = sum(s["n_errors"] for s in stats)
        return outs, kdocs

    def job_probe(self, m: dict, extract_name: str, extract) -> None:
        """Forced layers, then the run_extraction spans of the traced units."""
        parts = self.spark.sparkContext.defaultParallelism

        def repart():
            with self.tracer.span("job.salted_repartition"):
                return job.salted_repartition(self.read(), parts)

        def ext():
            df = repart()
            with self.tracer.span(f"job.{extract_name}"):
                return extract(df)

        m["job.read_spans.s"] = self.forced("job.read_spans", self.read)
        m["job.salted_repartition.s"] = self.forced(
            "job.salted_repartition", repart)
        m[f"job.{extract_name}.s"] = self.forced(f"job.{extract_name}", ext)

        # the per-bucket fixed cost, measured on its own: one run at the
        # same K over the input filtered to no doc. Every bucket still scans
        # the input, exchanges, writes and appends its checkpoint row; the
        # filter cannot be pushed into the parquet scan.
        t = time.perf_counter()
        self.run_extraction(
            self.path("fixed_out"), self.path("fixed_cp"), "fixed",
            df=self.read().where(F.length("doc_id") < 0))
        m["job.fixed_cost.s"] = time.perf_counter() - t

        calls = self.unit_calls("job.run_extraction")
        traced = [u for u in self.units if u["traced"]]
        per_unit = sum(u["wall_s"] for u in traced) / len(traced)
        m["job.run_extraction.s"] = (
            sum(c["end"] - c["start"] for c in calls) / len(calls))
        m["job.bucket_overhead.s"] = per_unit - m[f"job.{extract_name}.s"]
        for name, field in (("job.spark_jobs", "jobs"),
                            ("job.spark_stages", "stages"),
                            ("job.spark_tasks", "tasks"),
                            ("job.failed_tasks", "failed_tasks")):
            m[name] = sum(c[field] for c in calls) / len(calls)
        wall = sum(c["end"] - c["start"] for c in calls)
        m["job.core_idle_share"] = 1 - sum(c["cpu_s"] for c in calls) / (
            wall * self.ctx.nproc)

        u = traced[0]
        with self.tracer.span("job._read_checkpoint"):
            cp = job._read_checkpoint(self.spark, u["cp"])
            walls = sorted(r["wall_ms"]
                           for r in cp.select("wall_ms").collect())
        m["job.bucket.wall_ms.p50"] = statistics.median(walls)
        m["job.bucket.wall_ms.max"] = walls[-1]
        t = time.perf_counter()
        with self.tracer.span("job.completed_buckets"):
            done = job.completed_buckets(self.spark, u["cp"], u["run_id"])
        m["job.completed_buckets.s"] = time.perf_counter() - t
        if len(done) != self.n_buckets:
            raise RuntimeError(f"checkpoint lists {len(done)} buckets")
        m["job.output_files"] = len(_data_files(u["out"]))
        m["job.output_bytes_per_input_byte"] = (
            _bytes(u["out"]) / _bytes(self.input_path))

        # a unit predicted from layers timed on their own, none of them a
        # remainder: the fixed cost of K buckets, the data path of the
        # forced extract beyond its scan, and the start of each further
        # run_extraction call (resume_nested makes two per unit)
        self.reconcile_terms = {
            "job.fixed_cost.s": m["job.fixed_cost.s"],
            f"job.{extract_name}.s - job.read_spans.s":
                m[f"job.{extract_name}.s"] - m["job.read_spans.s"],
            "job.completed_buckets.s x further calls":
                (len(calls) / len(traced) - 1) * m["job.completed_buckets.s"],
        }


class BulkFlat(_SpanJob):
    """The flat-spans job, K = 2: kernel and Arrow boundary dominate."""

    name = "bulk_flat"
    n_docs = 6_000
    n_buckets = 2
    unit_s = 5.0

    def warm(self) -> None:
        self.run_extraction(self.path("warm_out"), self.path("warm_cp"),
                            "warm")

    def unit(self, i: int) -> dict:
        out, cp, run_id = self.path(f"out{i}"), self.path(f"cp{i}"), f"u{i}"
        t = time.perf_counter()
        self.run_extraction(out, cp, run_id)
        wall = time.perf_counter() - t
        return {"docs": self.n_docs, "wall_s": wall, "complete_s": wall,
                "out": out, "cp": cp, "run_id": run_id}

    def check(self) -> dict:
        outs = [u["out"] for u in self.units]
        n = self.ctx.nproc
        res = checks.merge(self.ctx.map_in_processes("check_flat", [
            (self.input_path, outs, p, n) for p in range(n)]))
        res["failed_per_unit"] = res.pop("failed")
        return res

    def probe(self, m: dict) -> None:
        self.pipeline_probe(m)
        self.job_probe(m, "extract", job.extract)
        CurationProbe(self.ctx).run(m)


class ResumeNested(_SpanJob):
    """The nested-output job, K = 16, killed after bucket 7 and resumed:
    the per-bucket fixed cost dominates."""

    name = "resume_nested"
    n_docs = 3000
    n_buckets = 16
    unit_s = 20.0
    fail_after = 7
    output_mode = "nested"

    def warm(self) -> None:
        # one uninterrupted run at the same K: it warms the per-bucket path
        # and is the reference every resumed output must equal
        self.run_extraction(self.path("ref_out"), self.path("ref_cp"), "ref")

    def _bucket_files(self, out: str) -> dict[str, tuple]:
        snap = {}
        for name in os.listdir(out):
            if name.startswith("bucket="):
                files = _data_files(os.path.join(out, name))
                snap[name] = (frozenset(files),
                              sum(pq.read_metadata(f).num_rows for f in files))
        return snap

    def unit(self, i: int) -> dict:
        out, cp, run_id = self.path(f"out{i}"), self.path(f"cp{i}"), f"u{i}"
        t = time.perf_counter()
        try:
            self.run_extraction(out, cp, run_id,
                                fail_after_bucket=self.fail_after)
        except RuntimeError as e:
            if str(e) != f"injected failure after bucket {self.fail_after}":
                raise
        else:
            raise RuntimeError("the killed call did not fail")
        crash_s = time.perf_counter() - t
        before = self._bucket_files(out)
        t = time.perf_counter()
        summary = self.run_extraction(out, cp, run_id)
        resume_s = time.perf_counter() - t
        after = self._bucket_files(out)
        redo = sum(n for b, (files, n) in before.items()
                   if after.get(b, (None,))[0] != files)
        return {"docs": self.n_docs, "wall_s": crash_s + resume_s,
                "complete_s": resume_s, "out": out, "cp": cp,
                "run_id": run_id,
                "buckets_skipped": summary["buckets_skipped"],
                "redo_docs": redo}

    def check(self) -> dict:
        failed = []
        res = {}
        n = self.ctx.nproc
        for u in self.units:
            res = checks.merge(self.ctx.map_in_processes("check_nested", [
                (self.input_path, u["out"], self.path("ref_out"), p, n)
                for p in range(n)]))
            resume_ok = (u["buckets_skipped"] == self.fail_after + 1
                         and u["redo_docs"] == 0)
            failed.append(res["failed"][0] if resume_ok else res["docs"])
        res["failed_per_unit"] = failed
        res.pop("failed")
        return res

    def probe(self, m: dict) -> None:
        outs, kdocs = self.pipeline_probe(m)
        t = time.perf_counter()
        with self.tracer.span("extractor.pipeline.nested_from_columnar"):
            for o in outs:
                pipeline.nested_from_columnar(o, False)
        m["extractor.pipeline.nested_from_columnar.s_per_kdoc"] = (
            time.perf_counter() - t) / kdocs
        self.job_probe(m, "extract_nested", job.extract_nested)
        m["job.buckets_skipped"] = statistics.mean(
            u["buckets_skipped"] for u in self.units)
        m["job.redo_docs"] = statistics.mean(
            u["redo_docs"] for u in self.units)


# vocabulary, language mix, source count and duplicate rates of the repo's
# sf0.1 ``documents`` test table, so the curation chain does the same kind
# of work: a quality gate, exact duplicates, and near-duplicate chains
# ("<text> dup") for the connected-components dedup
_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = (("en", 0.41), ("de", 0.14), ("es", 0.15), ("fr", 0.15),
          ("zh", 0.15))
_NEAR_DUP, _EXACT_DUP = 0.05, 0.002


def make_documents(n: int, seed: int) -> pa.Table:
    """A seeded ``documents`` table with fresh ``doc_id``s."""
    r = random.Random(seed)
    langs, weights = zip(*_LANGS)
    base = seed * 1_000_000
    texts = []
    for i in range(n):
        roll = r.random()
        if i and roll < _NEAR_DUP:
            texts.append(texts[r.randrange(i)] + " dup")
        elif i and roll < _NEAR_DUP + _EXACT_DUP:
            texts.append(texts[r.randrange(i)])
        else:
            texts.append(" ".join(r.choices(_WORDS, k=r.randint(10, 100))))
    return pa.table({
        "doc_id": pa.array(range(base, base + n), pa.int64()),
        "text": texts,
        "lang": r.choices(langs, weights, k=n),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _materialized_oracle() -> str:
    """``ORACLE["curation_pipeline"]`` with its ``toks`` CTE materialized.

    DuckDB otherwise re-evaluates the whole CTE chain under ``toks`` on
    every step of the recursive packing CTE, which is quadratic in the
    docs: 8.5 s at 400 docs against 0.4 s materialized, same rows."""
    sql = curation.ORACLE["curation_pipeline"]
    if sql.count("), toks AS (") != 1:
        raise RuntimeError("ORACLE['curation_pipeline'] changed shape")
    return sql.replace("), toks AS (", "), toks AS MATERIALIZED (")


class CurationProbe(Workload):
    """The ``operators.*`` layers, probed in ``bulk_flat``'s traced run:
    ``q_curation_pipeline`` over a seeded documents table (one warm call,
    one timed call, checked against its DuckDB oracle), then each
    operator of the chain forced on its own."""

    n_docs = 3000

    def _query(self) -> list[tuple]:
        with job_group(self.ctx.sc, self.tracer,
                       "operators.curation.curation_pipeline"):
            rows = curation.q_curation_pipeline(self.spark, self.dir).collect()
        return [tuple(r) for r in rows]

    def _oracle(self) -> list[tuple]:
        import duckdb

        con = duckdb.connect()
        try:
            path = os.path.join(self.dir, "documents.parquet")
            con.execute("CREATE VIEW documents AS SELECT * FROM "
                        f"read_parquet('{path}')")
            return con.execute(_materialized_oracle()).fetchall()
        finally:
            con.close()

    def run(self, m: dict) -> None:
        self.dir = self.path("documents")
        os.makedirs(self.dir)
        pq.write_table(make_documents(self.n_docs, self.seed),
                       os.path.join(self.dir, "documents.parquet"))
        self._query()
        t = time.perf_counter()
        rows = self._query()
        m["operators.curation.curation_pipeline.s"] = time.perf_counter() - t
        m["operators.curation.curation_pipeline.spark_jobs"] = (
            self.tracer.named("operators.curation.curation_pipeline")[-1]
            ["jobs"])

        def norm(rows):
            return sorted(tuple(round(v, 4) if isinstance(v, float) else v
                                for v in r) for r in rows)

        if norm(rows) != norm(self._oracle()):
            raise RuntimeError("q_curation_pipeline differs from its oracle")

        spark, sc = self.spark, self.ctx.sc

        def docs():
            with self.tracer.span("operators.common.load"):
                return common.load(spark, self.dir, "documents",
                                   rebalance=True)

        m["operators.common.load.s"] = self.forced(
            "operators.common.load", docs)
        m["operators.text.curated_corpus.s"] = self.forced(
            "operators.text.curated_corpus",
            lambda: text.curated_corpus(docs(), ("doc_id", "source", "text")))
        with job_group(sc, self.tracer, "operators.dedup.dedup_clusters") \
                as rec:
            m["operators.dedup.dedup_clusters.s"] = self.forced(
                "operators.dedup.dedup_clusters",
                lambda: dedup.dedup_clusters(docs()))
        m["operators.dedup.dedup_clusters.spark_jobs"] = rec["jobs"]
        m["operators.relational.domain_mixture_sample.s"] = self.forced(
            "operators.relational.domain_mixture_sample",
            lambda: relational.domain_mixture_sample(
                docs().select("doc_id", "source"),
                relational.MIXTURE_WEIGHTS))
        m["operators.text.sequence_packing.s"] = self.forced(
            "operators.text.sequence_packing",
            lambda: text.sequence_packing(docs().select("doc_id", "text")))


WORKLOADS = {w.name: w for w in (BulkFlat, ResumeNested)}
