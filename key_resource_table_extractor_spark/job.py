"""The batch extraction job: read → salt → mapInArrow extract → sink,
with bucket-granular checkpoint/resume.

Replaces the reference's FastAPI + multiprocessing.Queue + Postgres job store
(reference scripts/api.py:48-64, task_manager.py:31-98) with:

- parallelism = partitions of the doc table (salted by ``doc_id``);
- resumability = a checkpoint table of completed buckets; a re-run skips
  completed buckets entirely (reference analogue: skip-if-output-exists,
  scripts/batch_pdf_table_extractor.py:32-34 → SURVEY §2 O6);
- per-bucket lineage/metrics = per-bucket conditional aggregates in one
  ``observe()`` on each wave's input and output during its one write
  pass: table/error counts from the two internal per-row columns the
  Arrow function adds to a bucketed batch (``__tables``, ``__error``),
  dropped before the write — the output holds data and error rows only.

At cluster scale the same code runs unchanged via ``spark-submit --py-files``:
buckets are deterministic hash ranges of ``doc_id``, run in waves of
contiguous buckets, each wave an idempotent staged write — a killed run
resumes at wave granularity (one bucket per wave at production bucket
sizes) without reprocessing completed doc ranges.
"""

from __future__ import annotations

import datetime
import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import spec, synth
from .extractor.pipeline import (
    encode_spans,
    make_extract_fn,
    make_map_in_arrow_fn,
)
from .schemas import (
    CHECKPOINT_SCHEMA,
    DOCUMENT_SPANS_SCHEMA,
    EXTRACTED_SPANS_DDL,
    NESTED_RESULT_DDL,
)

# perfbench's traced probe reads both names; no row has kind STATS_KIND
DATA_KINDS, STATS_KIND = spec.DATA_KINDS, "stats"


# --------------------------------------------------------------------------
# sources
# --------------------------------------------------------------------------

def read_spans(spark: SparkSession, path: str) -> DataFrame:
    """Scan the (doc_id, spans) table. Column pruning/pushdown apply."""
    return spark.read.schema(DOCUMENT_SPANS_SCHEMA).parquet(path)


def synthesize_spans(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: ``spark.range`` over
    ``partitions`` (default: the default parallelism) → ``generate_spans``,
    doc ids keyed by ``synth.KEY_FORMAT``.

    Generation is keyed by doc_id only (synth._rng), so the corpus is
    identical at any partitioning — scalable to arbitrary n_docs with no
    driver-side materialization.
    """
    partitions = partitions or spark.sparkContext.defaultParallelism
    ids = spark.range(0, n_docs, numPartitions=partitions)
    return generate_spans(ids, seed)


def generate_spans(
    ids: DataFrame, seed: int = 42, key_format: str = synth.KEY_FORMAT
) -> DataFrame:
    """``(doc_id, spans)`` table of the synth docs keyed by the integer
    ids of ``ids``' one column: one ``mapInArrow`` running
    ``synth.generate_columns`` → ``pipeline.encode_spans`` per batch."""

    def gen(batches):
        for rb in batches:
            yield encode_spans(synth.generate_columns(
                rb.column(0).to_pylist(), seed, key_format
            ))

    return ids.mapInArrow(gen, DOCUMENT_SPANS_SCHEMA)


def synth_extract(
    ids: DataFrame,
    output_mode: str = "spans",
    seed: int = 42,
    key_format: str = synth.SF_KEY_FORMAT,
    **options,
) -> DataFrame:
    """Fused synth+extract over a bare ``doc_id`` frame: one
    ``mapInArrow`` with ``output_mode``'s schema that, per batch, runs
    ``synth.generate_columns`` then the ``make_extract_fn`` step every
    other extraction runs (``options`` are its options).

    The unfused shape (``generate_spans`` → exchange → extract) encodes
    the span payload to Arrow, shuffles it and decodes it again. Fused,
    the generated columns go straight into the extraction inside ONE task
    (guide §8: shuffle the 8-byte doc ids, never the payload); only the
    extraction output crosses Arrow. Results are identical: generation is
    keyed by doc_id only and extraction is a pure per-doc function
    (pinned by tests/test_modes_and_nested.py fused-equality tests).
    """
    extract_fn = make_extract_fn(output_mode, **options)

    def fn(batches):
        for rb in batches:
            yield extract_fn(synth.generate_columns(
                rb.column("doc_id").to_pylist(), seed, key_format
            ))[0]

    return ids.mapInArrow(fn, output_ddl(output_mode))


# --------------------------------------------------------------------------
# partitioning / skew
# --------------------------------------------------------------------------

def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 0) -> DataFrame:
    """Deterministic hash repartition on ``(doc_id, salt)``.

    The balance comes from hashing the doc key once: a row goes to
    ``pmod(murmur3(doc_id, salt), n)``, so each partition gets about 1/n
    of the docs. A key first reduced to n small ints would be hashed
    again modulo n, and those n values collide (about 0.6·n partitions
    would get docs). Murmur3 is independent of the bucket's
    ``xxhash64(doc_id)``, so a one-bucket wave spreads as evenly.
    ``salt`` only changes the placement (it can move mega-docs that hash
    together apart, SURVEY §4 skew note); results are byte-identical at
    any salt (the determinism test) — extraction is a pure per-doc
    function.
    """
    return df.repartition(num_partitions, F.col("doc_id"), F.lit(salt))


def _bucket_of(n_buckets: int):
    """A doc's bucket: ``pmod(xxhash64(doc_id), n_buckets)``, the
    placement the run writes and delete/upsert recompute."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")


def _partition_keys(spark: SparkSession, n: int) -> list[int]:
    """Int keys ``k_0..k_{n-1}`` such that ``repartition(n, key)`` puts
    the rows of key ``k_i`` on task ``i``: hash partitioning places a row
    at ``pmod(hash(key), n)``, the same murmur3 ``F.hash`` computes, so
    the first int of ``range(m)`` landing on each task is searched for
    (one small job; m grows until every task has one)."""
    k, m = F.col("id").cast("int"), 16 * n
    while True:
        found = dict(
            spark.range(m)
            .groupBy(F.pmod(F.hash(k), F.lit(n)))
            .agg(F.min(k))
            .collect()
        )
        if len(found) == n:
            return [found[i] for i in range(n)]
        m *= 4


# --------------------------------------------------------------------------
# extract
# --------------------------------------------------------------------------

def output_ddl(output_mode: str) -> str:
    """The schema of ``output_mode``'s rows (a mode ``make_extract_fn``
    accepts): flat span rows for "spans", else ``(doc_id, result)``."""
    return EXTRACTED_SPANS_DDL if output_mode == "spans" else NESTED_RESULT_DDL


def _extraction(output_mode: str, **options):
    """``df -> df.mapInArrow(...)`` running the one extraction entry
    (``pipeline.make_map_in_arrow_fn``); building it validates
    ``output_mode`` before any Spark work."""
    fn = make_map_in_arrow_fn(output_mode, **options)
    # an int bucket column passes through onto every output row, next to
    # the per-row counts run_extraction observes and drops
    return lambda df: df.mapInArrow(fn, output_ddl(output_mode) + (
        ", bucket int, __tables int, __error boolean"
        if "bucket" in df.columns else ""))


def extract(
    df: DataFrame,
    excepted_lines: list[int] | None = None,
    excepted_pages: list[int] | None = None,
    row_model: str = "votes",
    gap_min_spaces: int | None = None,
) -> DataFrame:
    """spans table → extracted span rows: the data rows plus one
    ``kind='error'`` row per doc that failed (``data_spans`` keeps the
    data rows). The options are those of ``pipeline.make_extract_fn``."""
    return _extraction(
        "spans",
        excepted_lines=excepted_lines,
        excepted_pages=excepted_pages,
        row_model=row_model,
        gap_min_spaces=gap_min_spaces,
    )(df)


def extract_nested(
    df: DataFrame,
    with_colspans: bool = False,
    row_model: str = "votes",
    excepted_lines: list[int] | None = None,
    excepted_pages: list[int] | None = None,
    gap_min_spaces: int | None = None,
    midcol_rowspans: bool = False,
) -> DataFrame:
    """spans table → one row per doc with the reference's result-JSON
    wrapper (S7 sink parity; FIXTURES.md §4). ``with_colspans`` switches
    cells to the gold-JSON ``{"content", "colspan"}`` shape (see
    ``pipeline.nested_from_columnar``)."""
    return _extraction(
        "nested-colspans" if with_colspans else "nested",
        row_model=row_model,
        excepted_lines=excepted_lines,
        excepted_pages=excepted_pages,
        gap_min_spaces=gap_min_spaces,
        midcol_rowspans=midcol_rowspans,
    )(df)


def data_spans(out: DataFrame) -> DataFrame:
    """Filter the extraction output to the data contract (FIXTURES.md §2)."""
    return out.filter(F.col("kind").isin(*DATA_KINDS))


# --------------------------------------------------------------------------
# checkpointed, resumable run
# --------------------------------------------------------------------------

def _read_checkpoint(spark: SparkSession, checkpoint_path: str):
    """The checkpoint rows, or None when no checkpoint was written yet.
    Any other read error raises: an unreadable checkpoint taken as empty
    would silently re-run every bucket."""
    fs, jvm = _fs(spark, checkpoint_path)
    if not fs.exists(jvm.org.apache.hadoop.fs.Path(checkpoint_path)):
        return None
    # recursive: checkpoint rows live in per-write subdirectories so M
    # concurrent shard drivers never share a FileOutputCommitter staging
    # dir (concurrent appends to ONE parquet dir can clobber each other's
    # _temporary staging)
    return (
        spark.read.schema(CHECKPOINT_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(checkpoint_path)
    )


def completed_buckets(spark: SparkSession, checkpoint_path: str, run_id: str) -> set:
    cp = _read_checkpoint(spark, checkpoint_path)
    if cp is None:
        return set()
    rows = (
        cp.filter((F.col("run_id") == run_id) & (F.col("status") == "done"))
        .select("bucket")
        .distinct()
        .collect()
    )
    return {r["bucket"] for r in rows}


# Each wave observes its buckets' metrics as conditional aggregates, a
# cost per row linear in the wave's width: 16 buckets add ~3% to a
# 6k-doc wave on 4 cores, 64 buckets ~40%.
_MAX_WAVE = 16


def _wave_width(spark: SparkSession, input_df: DataFrame, n_buckets: int) -> int:
    """Buckets per wave: as many as fit in one scan's worth of input
    splits, ``spark.sql.files.maxPartitionBytes`` x ``defaultParallelism``,
    a bucket's input being the input files' total size / K; at least
    one, at most ``_MAX_WAVE``. An input with no files (a synthesized
    frame) has no size and runs one bucket per wave. The sizes come from
    one listing per input directory."""
    files = input_df.inputFiles()
    if not files:
        return 1
    fs, jvm = _fs(spark, files[0])
    P = jvm.org.apache.hadoop.fs.Path
    by_dir: dict[str, tuple] = {}
    for f in files:  # URI strings: escaped, so parse them as URIs
        p = P(jvm.java.net.URI(f))
        d = p.getParent()
        by_dir.setdefault(d.toString(), (d, set()))[1].add(p.getName())
    total = sum(
        int(st.getLen())
        for d, names in by_dir.values()
        for st in fs.listStatus(d)
        if st.getPath().getName() in names
    )
    budget = jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    ) * spark.sparkContext.defaultParallelism
    return max(1, min(_MAX_WAVE, budget * n_buckets // max(total, 1)))


def _by_bucket(wave: list[int], metrics: dict) -> list:
    """``observe()`` aggregates of ``metrics`` (name -> (aggregate,
    expression)) per bucket of the wave: ``agg(when(bucket == b, expr))``
    aliased ``<name>_<b>``."""
    return [
        agg(F.when(F.col("bucket") == b, expr)).alias(f"{name}_{b}")
        for b in wave
        for name, (agg, expr) in metrics.items()
    ]


def run_extraction(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    checkpoint_path: str,
    run_id: str | None = None,
    n_buckets: int = 8,
    partitions_per_bucket: int | None = None,
    salt: int = 0,
    fail_after_bucket: int | None = None,
    buckets: list[int] | None = None,
    excepted_lines: list[int] | None = None,
    excepted_pages: list[int] | None = None,
    row_model: str = "votes",
    gap_min_spaces: int | None = None,
    output_mode: str = "spans",
    adopt_k: bool = False,
    midcol_rowspans: bool = False,
) -> dict:
    """Run (or resume) the extraction over ``input_df``.

    Buckets = pmod(xxhash64(doc_id), n_buckets). The buckets still to do
    run in contiguous waves (sized by ``_wave_width``; one bucket per wave
    for a file-less input or a production-size bucket). A wave is one
    scan, one salted exchange into ``partitions_per_bucket`` partitions
    (partitions per wave), one ``mapInArrow`` and one staged
    ``partitionBy("bucket")`` write through ``_rewrite_buckets``, the
    write path compact/delete/upsert share; a bucket with no output row
    is committed with one schema-only file. One checkpoint write then
    appends a row per bucket of the wave, ``wall_ms`` being the wave's.
    A killed run re-invoked with the same ``run_id`` skips completed
    buckets: resume granularity and blast radius are one wave.

    ``output_mode``: "spans" (default) writes the flat span table;
    "nested" / "nested-colspans" write the S7 result-JSON table (one
    (doc_id, result) row per doc) under the SAME bucket checkpoint
    discipline — a 10^9-doc nested export is resumable exactly like the
    flat one. Any other mode raises ``ValueError`` before the
    bucket-count marker or any bucket is written.

    Per-bucket checkpoint metrics are per-bucket conditional aggregates
    in one input and one output ``df.observe()`` per wave, collected
    DURING the single write pass. In every mode ``n_docs``,
    ``n_spans_in`` and the doc_id bounds are observed on the input, so
    they count every doc processed, including docs that yield no output
    row; the rest is observed on the output, from the per-row
    ``__tables``/``__error`` columns of ``pipeline.make_map_in_arrow_fn``,
    dropped before the write: ``n_spans_out`` counts the rows that are
    not errors (flat: data rows; nested: docs with a table),
    ``n_tables`` sums ``__tables`` (flat: tables; nested: pages, one
    table each) and ``n_errors`` counts the error rows or records, so
    both modes count the same tables and errors.

    ``buckets`` restricts the run to a subset of distinct bucket ids in
    ``range(n_buckets)``, else ``ValueError`` before any write: at large K
    an orchestrator can shard buckets across concurrent driver processes
    (each an independent, idempotent write + checkpoint append) instead of
    this driver's serial waves — see docs/SCALE.md.

    ``fail_after_bucket`` injects a crash after that bucket commits — used
    by the resume tests; a wave ends at the first bucket >= it.

    ``adopt_k`` opts into correcting a mistyped ``n_buckets`` on a
    data-free output (see ``_write_bucket_count_marker``); the default
    refuses ANY K mismatch, which is the fail-safe when another driver
    might still be computing its first bucket at the old K.
    """
    from pyspark.sql import Observation

    extract_wave = _extraction(
        output_mode,
        excepted_lines=excepted_lines,
        excepted_pages=excepted_pages,
        row_model=row_model,
        gap_min_spaces=gap_min_spaces,
        midcol_rowspans=midcol_rowspans,
    )
    if buckets is not None and (
        len(set(buckets)) != len(buckets)
        or not set(buckets) <= set(range(n_buckets))
    ):
        raise ValueError(
            f"buckets={buckets} must be distinct ids in range({n_buckets})"
        )
    run_id = run_id or uuid.uuid4().hex[:12]
    partitions_per_bucket = (
        partitions_per_bucket or spark.sparkContext.defaultParallelism
    )
    _write_bucket_count_marker(spark, output_path, n_buckets, adopt_k=adopt_k)
    done = completed_buckets(spark, checkpoint_path, run_id)
    bucketed = input_df.select("doc_id", "spans").withColumn(
        "bucket", _bucket_of(n_buckets)
    )
    requested = buckets if buckets is not None else range(n_buckets)
    todo = [b for b in requested if b not in done]
    # skips are counted WITHIN the requested subset only: a shard driver's
    # summary must not conflate other shards' checkpoint rows with its own
    summary = {
        "run_id": run_id,
        "buckets_run": 0,
        "buckets_skipped": len(done & set(requested)),
    }
    in_metrics = {
        "n_docs": (F.count, F.lit(1)),
        # a null span list is 0 spans
        "n_spans_in": (F.sum, F.coalesce(F.array_size("spans"), F.lit(0))),
        "doc_id_min": (F.min, F.col("doc_id")),
        "doc_id_max": (F.max, F.col("doc_id")),
    }
    out_metrics = {
        "n_spans_out": (F.sum, (~F.col("__error")).cast("long")),
        "n_tables": (F.sum, F.col("__tables")),
        "n_errors": (F.sum, F.col("__error").cast("long")),
    }

    fs, jvm = _fs(spark, output_path)
    width = _wave_width(spark, input_df, n_buckets) if todo else 1
    while todo:
        wave = todo[:width]
        if fail_after_bucket is not None:
            stop = [i for i, b in enumerate(wave) if b >= fail_after_bucket]
            wave = wave[: stop[0] + 1] if stop else wave
        todo = todo[len(wave):]
        t0 = time.time()
        tag = f"{run_id}_{wave[0]}_{uuid.uuid4().hex[:6]}"
        obs_in = Observation(f"krt_in_{tag}")
        obs_out = Observation(f"krt_out_{tag}")

        def rows():
            wdf = bucketed.filter(F.col("bucket").isin(*wave))
            wdf = salted_repartition(wdf, partitions_per_bucket, salt)
            wdf = wdf.observe(obs_in, *_by_bucket(wave, in_metrics))
            return extract_wave(wdf).observe(
                obs_out, *_by_bucket(wave, out_metrics)
            ).drop("__tables", "__error")

        _rewrite_buckets(
            spark, fs, jvm, output_path, f"run_{tag}", wave, rows,
            keep_empty=True,
        )
        m = obs_in.get | obs_out.get
        wall_ms = int((time.time() - t0) * 1000)
        now = datetime.datetime.now()
        spark.createDataFrame(
            [
                (
                    run_id, b, m[f"doc_id_min_{b}"], m[f"doc_id_max_{b}"],
                    int(m[f"n_docs_{b}"]), int(m[f"n_spans_in_{b}"] or 0),
                    int(m[f"n_spans_out_{b}"] or 0),
                    int(m[f"n_tables_{b}"] or 0),
                    int(m[f"n_errors_{b}"] or 0),
                    wall_ms, "done", now,
                )
                for b in wave
            ],
            CHECKPOINT_SCHEMA,
        ).write.mode("overwrite").parquet(
            # one subdirectory per checkpoint write: concurrent shard
            # drivers touch disjoint paths (see _read_checkpoint)
            f"{checkpoint_path}/cpw={run_id}_{wave[0]}_{uuid.uuid4().hex[:8]}"
        )
        summary["buckets_run"] += len(wave)
        if fail_after_bucket is not None and wave[-1] >= fail_after_bucket:
            raise RuntimeError(f"injected failure after bucket {wave[-1]}")
    return summary


def read_output(
    spark: SparkSession, output_path: str, buckets: list[int] | None = None
) -> DataFrame:
    """Final extracted spans (data contract) with bucket partition pruning.

    The output directory is hive-partitioned by ``bucket``; filtering on
    it prunes entire bucket directories at the scan (PartitionFilters) —
    at K=4096 buckets a single-bucket audit reads 1/4096 of the data.
    """
    df = spark.read.parquet(output_path)
    if buckets is not None:
        df = df.filter(F.col("bucket").isin(*[int(b) for b in buckets]))
    if "result" in df.columns:  # nested result-JSON output: no kind column
        return df
    return data_spans(df)


# Anchored: leftover staging/backup siblings (bucket=3.old under the
# .staging root, or anything a future tool drops next to the buckets)
# must never count — a wrong K silently re-hashes every doc for
# delete/upsert targeting.
_BUCKET_DIR_RE = re.compile(r"^bucket=(\d+)$")
# an interrupted swap's retired copy of a bucket, under the .staging root
_BACKUP_DIR_RE = re.compile(r"^bucket=(\d+)\.old$")


def _fs(spark: SparkSession, output_path: str):
    """(Hadoop FileSystem holding ``output_path``, the py4j JVM view)."""
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(output_path)
    return path.getFileSystem(spark._jsc.hadoopConfiguration()), jvm


def _bucket_inventory(fs, jvm, output_path: str):
    """Where every bucket's data lives now, from filesystem metadata
    alone: ``({bucket: (path, parquet files, bytes)}, sorted names under
    the .staging root)``.

    A bucket is its live ``bucket=N`` directory or, when an interrupted
    swap retired it, its ``.staging/bucket=N.old`` backup; the live
    directory wins. An empty directory is legal state (a fully-deleted
    bucket) and appears with zero files. Only ``.parquet`` files directly
    inside a bucket directory count. Each root costs a bounded number of
    FS calls — one ``listStatus`` for its directory set plus one
    recursive ``listFiles`` stream for the file stats — instead of a
    listing per bucket, which at K=4096 would be thousands of serial
    driver RPCs (seconds to minutes on an object store)."""
    P = jvm.org.apache.hadoop.fs.Path

    def walk(base: str, name_re):
        root = P(base)
        names, dirs = [], {}
        for st in fs.listStatus(root):
            name = st.getPath().getName()
            names.append(name)
            m = name_re.match(name)
            if m and st.isDirectory():
                dirs[name] = [int(m.group(1)), 0, 0]
        if dirs:
            prefix = fs.makeQualified(root).toString()
            it = fs.listFiles(root, True)
            while it.hasNext():
                st = it.next()
                head, parent, leaf = st.getPath().toString().rsplit("/", 2)
                if head == prefix and parent in dirs and leaf.endswith(
                    ".parquet"
                ):
                    dirs[parent][1] += 1
                    dirs[parent][2] += int(st.getLen())
        return sorted(names), {
            b: (f"{base}/{name}", n, size)
            for name, (b, n, size) in dirs.items()
        }

    if not fs.exists(P(output_path)):
        raise FileNotFoundError(f"no such output: {output_path}")
    staging = f"{output_path}.staging"
    leftovers, backups = (
        walk(staging, _BACKUP_DIR_RE) if fs.exists(P(staging)) else ([], {})
    )
    _, live = walk(output_path, _BUCKET_DIR_RE)
    return backups | live, leftovers


def _live_buckets(inv: dict, output_path: str) -> dict:
    """The inventory entries whose data sits in the live directory."""
    return {
        b: v for b, v in inv.items() if v[0] == f"{output_path}/bucket={b}"
    }


# Written once by run_extraction; underscore prefix keeps it invisible to
# Spark's partition discovery. Authoritative K for delete/upsert targeting:
# directory inference cannot detect a missing TOP bucket.
_BUCKET_COUNT_MARKER = "_krt_n_buckets"


def _read_bucket_count_marker(fs, jvm, output_path: str) -> int | None:
    p = jvm.org.apache.hadoop.fs.Path(f"{output_path}/{_BUCKET_COUNT_MARKER}")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        txt = jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()
    return int(txt.strip())


def _put_marker(fs, p, n_buckets: int) -> None:
    out = fs.create(p, True)
    try:
        out.writeBytes(str(int(n_buckets)))
    finally:
        out.close()


def _write_bucket_count_marker(
    spark, output_path: str, n_buckets: int, adopt_k: bool = False
) -> None:
    """Persist the run's K; refuse to continue an output written with a
    different K (resuming with a mismatched ``n_buckets`` would place the
    remaining buckets' docs under a different hash than the committed
    ones — silent corruption, so fail loudly instead). For a pre-marker
    (legacy) output the committed buckets are cross-checked before the
    caller's K becomes authoritative: any bucket outside
    ``range(n_buckets)`` proves a mismatch. (A legacy PARTIAL output
    whose committed ids all fit inside a smaller wrong K is undetectable
    — ship the marker with the original run to close that.) The two
    common cases — no output root yet, or a marker with the same K —
    list nothing.

    ``adopt_k=True`` opts into overwriting the marker of a DATA-FREE
    output (marker present, zero bucket dirs, zero ``.staging``
    leftovers) — the mistyped-K recovery path: a run launched with the
    wrong K that died before its first bucket commit constrains nothing.
    Adoption is NOT the default because the same filesystem state is
    indistinguishable from a live concurrent driver still computing its
    first bucket at the old K; silently overwriting its marker would
    interleave mixed-K buckets. The operator asserts "no other driver is
    running" by passing the flag (CLI ``--adopt-k``)."""
    fs, jvm = _fs(spark, output_path)
    p = jvm.org.apache.hadoop.fs.Path(f"{output_path}/{_BUCKET_COUNT_MARKER}")
    prev = _read_bucket_count_marker(fs, jvm, output_path)
    if prev == int(n_buckets):
        return  # unchanged: don't touch the marker's mtime
    if prev is None and not fs.exists(
        jvm.org.apache.hadoop.fs.Path(output_path)
    ):
        _put_marker(fs, p, n_buckets)
        return
    inv, leftovers = _bucket_inventory(fs, jvm, output_path)
    if prev is None:
        if inv and max(inv) >= int(n_buckets):
            raise ValueError(
                f"{output_path} holds bucket={max(inv)} — written with "
                f"n_buckets>{max(inv)}; refusing to continue it with "
                f"n_buckets={n_buckets}"
            )
        _put_marker(fs, p, n_buckets)
        return
    ids = _live_buckets(inv, output_path)
    # an interrupted-swap backup or staged copy under .staging IS data
    # hashed at the old K, so its presence blocks adoption too
    staged = [n for n in leftovers if n.startswith("bucket=")]
    if not ids and not staged and adopt_k:
        _put_marker(fs, p, n_buckets)
        return
    hint = (
        "; data-free output — pass adopt_k=True (--adopt-k) to "
        "correct a mistyped K IF no other driver is running it"
        if not ids and not staged
        else ""
    )
    raise ValueError(
        f"{output_path} was written with n_buckets={prev} "
        f"({len(ids)} bucket(s) committed"
        + (f", {len(staged)} staging leftover(s)" if staged else "")
        + f"); refusing to continue it with n_buckets={n_buckets}"
        + hint
    )


def _writer_bucket_count(fs, jvm, output_path: str, inv: dict) -> int:
    """The writer's K, for recomputing pmod(xxhash64(doc_id), K)
    placement. Prefer the marker ``run_extraction`` wrote (survives
    missing/partial bucket directories); fall back to inferring from the
    inventory, refusing to guess on a non-contiguous set (a sharded run
    still in flight, a bucket lost to a crash) rather than silently
    targeting the wrong buckets."""
    k = _read_bucket_count_marker(fs, jvm, output_path)
    if k is not None:
        return k
    if not inv:
        raise FileNotFoundError(f"no bucket directories under {output_path}")
    k = max(inv) + 1
    if len(inv) != k:
        raise ValueError(
            f"bucket directories under {output_path} are not contiguous "
            f"(found {len(inv)} of 0..{k - 1}); pass n_buckets= explicitly "
            "for a partial or sharded output"
        )
    return k


def _recover_bucket(fs, jvm, output_path: str, bucket: int) -> bool:
    """If a previous swap crashed after retiring the live directory but
    before committing the staged one, the data sits in the ``.staging``
    backup; restore it so the interrupted operation can simply re-run."""
    P = jvm.org.apache.hadoop.fs.Path
    path = P(f"{output_path}/bucket={bucket}")
    backup = P(f"{output_path}.staging/bucket={bucket}.old")
    if not fs.exists(path) and fs.exists(backup):
        if not fs.rename(backup, path):
            raise IOError(f"restoring {backup} to {path} failed")
        return True
    return False


def _swap_bucket_dir(fs, jvm, output_path: str, bucket: int, staging) -> None:
    """Commit a rewritten bucket: retire the live directory to a backup
    under the sibling ``.staging`` root (never inside the
    partition-discovered output tree — a half-finished swap must not make
    ``read_output`` double-count), move the staged directory in, then
    drop the backup. Hadoop ``FileSystem.rename`` reports failure by
    returning false, so every step is checked — a failed rename restores
    the live directory and raises instead of returning success."""
    P = jvm.org.apache.hadoop.fs.Path
    path = P(f"{output_path}/bucket={bucket}")
    backup = P(f"{output_path}.staging/bucket={bucket}.old")
    fs.mkdirs(P(f"{output_path}.staging"))
    if fs.exists(backup):
        fs.delete(backup, True)
    had_old = fs.exists(path)
    if had_old and not fs.rename(path, backup):
        raise IOError(f"retiring {path} to {backup} failed")
    if not fs.rename(staging, path):
        if had_old and not fs.rename(backup, path):
            raise IOError(
                f"committing {staging} to {path} failed AND restoring "
                f"{backup} failed — the bucket's data is in {backup}"
            )
        raise IOError(f"committing {staging} to {path} failed")
    if had_old:
        fs.delete(backup, True)


def _rewrite_buckets(
    spark, fs, jvm, output_path: str, name: str, buckets: list[int], rows,
    keep_empty: bool = False,
) -> int:
    """Replace each listed bucket's directory with its rows of ``rows()``
    — the one staged rewrite behind compact, delete and upsert.

    1. ``_recover_bucket`` each listed bucket, so an interrupted swap's
       backup is live again before anything reads it.
    2. Build ``rows()`` (a DataFrame with a ``bucket`` column; built only
       now because a parquet read lists its files when the DataFrame is
       made) and stage it in ONE write hive-partitioned by ``bucket``
       under ``.staging/<name>``: the Spark-job count is constant in the
       number of buckets (K=4096 rewrites in one data job, not ~4096
       sequential launches).
    3. Commit each staged directory with the checked ``_swap_bucket_dir``
       — a metadata-only rename. A bucket that staged no rows swaps in
       an empty directory (every row removed is legal state), unless it
       never existed (nothing to remove, nothing to add). With
       ``keep_empty`` (the run and compact) it swaps in a copy of one
       schema-only file instead, so every bucket run is committed, a
       compacted bucket keeps a file, and an output without a single
       row still reads as an empty table.
    4. Delete the stage root, however the rewrite ends.

    Returns the number of buckets swapped. Unlisted buckets are never
    touched: their files stay byte-identical. A repeated bucket id raises
    ``ValueError`` before anything is written (its second swap would
    commit an empty directory over the first)."""
    if len(set(buckets)) != len(buckets):
        raise ValueError(f"repeated bucket id in {buckets}")
    P = jvm.org.apache.hadoop.fs.Path
    stage_root = f"{output_path}.staging/{name}"
    swapped = 0
    try:
        for b in buckets:
            _recover_bucket(fs, jvm, output_path, b)
        frame = rows()
        frame.write.mode("overwrite").partitionBy("bucket").parquet(
            stage_root
        )
        empty = P(f"{stage_root}/_empty")
        for b in buckets:
            staged = P(f"{stage_root}/bucket={b}")
            if not fs.exists(staged):
                if keep_empty:
                    if not fs.exists(empty):
                        spark.createDataFrame(
                            [], frame.drop("bucket").schema
                        ).write.parquet(empty.toString())
                    if not jvm.org.apache.hadoop.fs.FileUtil.copy(
                        fs, empty, fs, staged, False,
                        spark._jsc.hadoopConfiguration(),
                    ):
                        raise IOError(f"copying {empty} to {staged} failed")
                elif fs.exists(P(f"{output_path}/bucket={b}")):
                    fs.mkdirs(staged)
                else:
                    continue
            _swap_bucket_dir(fs, jvm, output_path, b, staged)
            swapped += 1
    finally:
        fs.delete(P(stage_root), True)
    return swapped


def output_status(spark: SparkSession, output_path: str) -> dict:
    """Operational summary of a committed output from filesystem metadata
    alone — no Spark jobs, no data reads. Flags the conditions the
    maintenance ops care about: buckets missing vs the writer's K, and
    interrupted-swap backups awaiting recovery (a retired bucket counts
    as missing and shows up among the staging leftovers)."""
    fs, jvm = _fs(spark, output_path)
    inv, leftovers = _bucket_inventory(fs, jvm, output_path)
    live = _live_buckets(inv, output_path)
    k = _read_bucket_count_marker(fs, jvm, output_path)
    return {
        "n_buckets_marker": k,
        "buckets_present": len(live),
        "buckets_missing": (
            sorted(set(range(k)) - set(live)) if k is not None else None
        ),
        "parquet_files": sum(n for _, n, _ in live.values()),
        "parquet_bytes": sum(size for _, _, size in live.values()),
        "staging_leftovers": leftovers,
    }


def compact_output(
    spark: SparkSession,
    output_path: str,
    target_bytes: int = 256 << 20,
    buckets: list[int] | None = None,
    dry_run: bool = False,
) -> list[dict] | dict:
    """Rewrite every (or the given) bucket directory under
    ``output_path`` into ~``target_bytes`` parquet files — the standard
    small-files compaction a bucketed, many-executor writer needs at
    warehouse scale (K buckets × P partitions per run leaves K·P files;
    downstream scans want 128-512 MB objects). Not a lineage event: the
    checkpoint table is untouched. Buckets are independent — an
    orchestrator can shard this exactly like the extraction buckets (and
    a sharded driver MUST pass its own subset: compacting a bucket
    another driver is still writing would swap in a stale snapshot).

    The buckets come from the bucket inventory, so one retired by an
    interrupted swap is included, counted from its ``.staging`` backup
    (the real run restores it); a named bucket found nowhere raises
    ``FileNotFoundError``. Each gets ``files_target =
    ceil(bytes / target_bytes)``, 0 for a legal fully-deleted empty
    bucket, which the real run skips.

    ``dry_run=True`` reports that selection and touches nothing:
    filesystem metadata only — no Spark jobs, no recovery, no writes,
    untouched mtimes. ``files_target`` is an upper bound on the real
    run's ``files_after``, met exactly when every slot holds a row: a
    bucket with fewer docs than slots leaves some slots empty.

    The real run rewrites the selection through ``_rewrite_buckets``:
    per-row slot ``pmod(hash(doc_id), files_target(bucket))`` (murmur3,
    independent of the bucket's ``xxhash64``, so a bucket sees all its
    slots), and each (bucket, slot) pair on its own task
    (``_partition_keys``), one file each. The slot is a deterministic
    function of doc_id, so a retried task reproduces the same placement
    and a doc's rows stay in one output file. ``files_after`` is what
    landed in the live directory after the swap; a bucket whose files
    hold no row (a run's schema-only file) keeps one schema-only file.
    A repeated bucket id raises ``ValueError`` in both runs."""
    if buckets is not None and len(set(buckets)) != len(buckets):
        raise ValueError(f"repeated bucket id in {buckets}")
    fs, jvm = _fs(spark, output_path)
    inv, _ = _bucket_inventory(fs, jvm, output_path)
    per = []
    for b in sorted(inv) if buckets is None else buckets:
        if b not in inv:
            raise FileNotFoundError(f"{output_path}/bucket={b}")
        _, n, total = inv[b]
        per.append({
            "bucket": b,
            "bytes": total,
            "files_before": n,
            "files_target": max(1, -(-total // target_bytes)) if n else 0,
        })
    if dry_run:
        return {
            "dry_run": True,
            "buckets": per,
            "bytes": sum(s["bytes"] for s in per),
            "files_before": sum(s["files_before"] for s in per),
            "files_target": sum(s["files_target"] for s in per),
        }
    targets = [
        (s["bucket"], s["files_target"]) for s in per if s["files_target"]
    ]
    if targets:
        todo = [b for b, _ in targets]
        n_parts = sum(n for _, n in targets)
        keys = iter(_partition_keys(spark, n_parts))
        # bucket -> (its slot count, the task key of each of its slots)
        tmap = spark.createDataFrame(
            [(b, n, [next(keys) for _ in range(n)]) for b, n in targets],
            "bucket int, __ft int, __keys array<int>",
        )
        _rewrite_buckets(
            spark, fs, jvm, output_path, "compact_stage", todo,
            lambda: (
                spark.read.option("basePath", output_path)
                .parquet(*[f"{output_path}/bucket={b}" for b in todo])
                .join(F.broadcast(tmap), "bucket")
                .withColumn("__task", F.element_at(
                    "__keys", F.pmod(F.hash("doc_id"), F.col("__ft")) + 1
                ))
                .repartition(n_parts, "__task")
                .drop("__ft", "__keys", "__task")
            ),
            keep_empty=True,
        )
        inv, _ = _bucket_inventory(fs, jvm, output_path)
    return [
        {
            "bucket": s["bucket"],
            "bytes": s["bytes"],
            "files_before": s["files_before"],
            "files_after": inv[s["bucket"]][1],
        }
        for s in per
    ]


def delete_docs(
    spark: SparkSession,
    output_path: str,
    doc_ids: list[str] | DataFrame,
    n_buckets: int | None = None,
    dry_run: bool = False,
) -> dict:
    """Remove the given documents from a committed bucketed output (the
    right-to-be-forgotten / bad-doc backfill a long-lived corpus needs).

    ``doc_ids`` is either a small driver-side list (RTBF of hundreds) or
    a DataFrame with a ``doc_id`` column (a policy sweep deleting 10^7
    docs supplies its id table directly — the ids never materialize on
    the driver; only the affected-bucket id list does, bounded by K).

    Bucket-pruned: the bucket of every target id is recomputed with the
    SAME hash the writer used (pmod(xxhash64(doc_id), K)). K comes from
    the output's marker, or is inferred from a complete set of bucket
    directories and must be passed explicitly for a partial/sharded one
    (see ``_writer_bucket_count``). One hit-count pass over the affected
    buckets' data — live, or the ``.staging`` backup of a bucket an
    interrupted swap retired — selects the buckets that really lose rows.
    ``dry_run=True`` reports that selection read-only (the id-bucket
    aggregation and the hit count; no recovery, no writes, untouched
    mtimes): the sanity check before pointing a 10^7-id policy sweep at
    a live corpus. The real run rewrites exactly that selection through
    ``_rewrite_buckets`` — one staged write of the keep-rows, whatever
    the number of buckets (a sweep at K=4096 runs a constant handful of
    jobs, not ~4096) — so ``buckets_rewritten`` equals the dry run's
    ``buckets_affected`` and every other bucket, including a
    hash-affected one holding none of the ids, stays byte-identical.
    """
    fs, jvm = _fs(spark, output_path)
    # raises on a typo'd path, even with an explicit n_buckets
    inv, _ = _bucket_inventory(fs, jvm, output_path)
    if n_buckets is None:
        n_buckets = _writer_bucket_count(fs, jvm, output_path, inv)
    if isinstance(doc_ids, DataFrame):
        ids_src = doc_ids.select(F.col("doc_id").cast("string"))
    else:
        ids_src = spark.createDataFrame(
            [(d,) for d in doc_ids], "doc_id string"
        )
    bucket_of = _bucket_of(n_buckets)
    # cached: the id set feeds the affected-bucket aggregation, the
    # hit-count semi-join, and the staged anti-join — a DataFrame id
    # source would otherwise recompute for each
    ids = ids_src.withColumn("__bucket", bucket_of).persist()
    try:
        affected = sorted(
            r["__bucket"]
            for r in ids.select("__bucket").distinct().collect()
        )
        # ids may hash to never-written buckets (explicit-K partial), and
        # a legal fully-deleted empty dir holds nothing to delete and
        # must not sink schema inference
        paths = [inv[b][0] for b in affected if inv.get(b, ("", 0))[1]]
        by_bucket: dict[int, int] = {}
        if paths:
            hits = (
                spark.read.parquet(*paths)
                .join(ids.select("doc_id"), "doc_id", "left_semi")
                .groupBy(bucket_of.alias("b"))
                .count()
                .collect()
            )
            by_bucket = {int(r["b"]): int(r["count"]) for r in hits}
        hit_buckets = sorted(by_bucket)
        if dry_run:
            return {
                "dry_run": True,
                "buckets_total": n_buckets,
                "buckets_affected": hit_buckets,
                "rows_to_remove": sum(by_bucket.values()),
                "rows_by_bucket": [[b, by_bucket[b]] for b in hit_buckets],
            }
        rewritten = 0
        if hit_buckets:
            # the anti-join side is the full id set: broadcast when it
            # came as a driver-side list, left to AQE for a
            # DataFrame-sized sweep
            join_ids = ids.select("doc_id")
            if not isinstance(doc_ids, DataFrame):
                join_ids = F.broadcast(join_ids)
            rewritten = _rewrite_buckets(
                spark, fs, jvm, output_path, "delete_keep", hit_buckets,
                lambda: (
                    spark.read.option("basePath", output_path)
                    .parquet(*[
                        f"{output_path}/bucket={b}" for b in hit_buckets
                    ])
                    .join(join_ids, "doc_id", "left_anti")
                ),
            )
    finally:
        ids.unpersist()
    return {
        "buckets_rewritten": rewritten,
        "buckets_total": n_buckets,
        "rows_removed": sum(by_bucket.values()),
    }


def upsert_docs(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    output_mode: str = "spans",
    n_buckets: int | None = None,
    dry_run: bool = False,
    **extract_kw,
) -> dict:
    """Re-extract the documents present in ``input_df`` (a spans table of
    only the changed/new docs) and replace their rows in a committed
    bucketed output — the changed-document backfill that pairs with
    ``delete_docs`` (remove) and ``compact_output`` (rewrite-in-place) to
    complete the corpus-maintenance surface.

    The affected buckets are the hash buckets of the input doc_ids. The
    real run rewrites them through ``_rewrite_buckets`` in ONE staged
    write of (old rows minus the upserted doc_ids) ∪ (the freshly
    extracted rows): extraction runs once, inside that write, on the
    input with its ``bucket`` column, through the same bucketed
    ``mapInArrow`` branch as ``run_extraction`` (the two count columns
    dropped), and the Spark-job count is constant in the number of
    buckets touched. The replace set comes from ``input_df``, NOT from
    the extraction output — a changed doc whose new content yields zero
    rows (no tables detected) still has its stale rows removed. Buckets
    holding none of the upserted docs keep their files byte-identical; a
    doc new to the corpus lands in its hash bucket even if that directory
    did not exist yet. ``extract_kw`` forwards the extraction options
    (``row_model``, ``excepted_*``, ``gap_min_spaces``,
    ``midcol_rowspans``) so the replacement rows follow the same config
    as the original run; an invalid one raises ``ValueError`` before
    anything is read.

    Like compaction, an upsert is not a lineage event: the checkpoint
    table is untouched. The replacement rows are those a run writes:
    flat, a doc's data rows or its one ``kind='error'`` row; nested, its
    record.

    ``dry_run=True`` is the read-only pre-flight (``delete_docs``
    twin): no extraction, no writes — reports the affected buckets, how
    many input docs REPLACE existing rows (and how many stale rows those
    hold) versus how many are NEW to the corpus. Unlike delete's
    pre-flight, ``buckets_affected`` here is an UPPER BOUND on the real
    run's ``buckets_rewritten``, not an exact prediction: a bucket never
    written before whose only upserted docs extract to zero rows is
    skipped by the real run (nothing to remove, nothing to add), and the
    dry run cannot know the extraction outcome without running the
    extraction it exists to avoid. ``rows_to_replace``/``docs_*`` are
    exact.
    """
    extract = _extraction(output_mode, **extract_kw)
    fs, jvm = _fs(spark, output_path)
    # raises on a typo'd path, even with an explicit n_buckets
    inv, _ = _bucket_inventory(fs, jvm, output_path)
    if n_buckets is None:
        n_buckets = _writer_bucket_count(fs, jvm, output_path, inv)
    if input_df.isEmpty():  # mirror delete_docs([]) — a committed no-op
        if dry_run:
            return {
                "dry_run": True, "buckets_total": n_buckets,
                "buckets_affected": [], "docs_replacing": 0,
                "docs_new": 0, "rows_to_replace": 0,
            }
        return {
            "buckets_rewritten": 0,
            "buckets_total": n_buckets,
            "docs_upserted": 0,
        }
    bucket_of = _bucket_of(n_buckets)
    ids = (
        input_df.select("doc_id").distinct()
        .withColumn("bucket", bucket_of)
        .persist()
    )
    try:
        n_docs = ids.count()
        affected = sorted(
            r["bucket"] for r in ids.select("bucket").distinct().collect()
        )
        # affected buckets holding rows, live or retired by an
        # interrupted swap; a legal empty dir holds nothing to replace
        existing = [b for b in affected if inv.get(b, ("", 0))[1]]
        if dry_run:
            rows_to_replace = docs_replacing = 0
            if existing:
                rows_to_replace, docs_replacing = (
                    spark.read.parquet(*[inv[b][0] for b in existing])
                    .join(ids.select("doc_id"), "doc_id", "left_semi")
                    .agg(F.count(F.lit(1)), F.countDistinct("doc_id"))
                    .first()
                )
            return {
                "dry_run": True,
                "buckets_total": n_buckets,
                "buckets_affected": affected,
                "docs_replacing": docs_replacing,
                "docs_new": n_docs - docs_replacing,
                "rows_to_replace": rows_to_replace,
            }
        new_rows = extract(
            input_df.select("doc_id", "spans").withColumn("bucket", bucket_of)
        ).drop("__tables", "__error")

        def rows():
            if not existing:  # every doc new to its bucket
                return new_rows
            return (
                # explicit schema: no footer read to infer it
                spark.read.schema(new_rows.schema)
                .option("basePath", output_path)
                .parquet(*[f"{output_path}/bucket={b}" for b in existing])
                .join(
                    F.broadcast(ids.select("doc_id")), "doc_id", "left_anti"
                )
                .unionByName(new_rows)
            )

        rewritten = _rewrite_buckets(
            spark, fs, jvm, output_path, "upsert_merged", affected, rows
        )
    finally:
        ids.unpersist()
    return {
        "buckets_rewritten": rewritten,
        "buckets_total": n_buckets,
        "docs_upserted": n_docs,
    }
