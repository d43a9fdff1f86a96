"""The batch extraction job: read → salt → mapInArrow extract → sink,
with bucket-granular checkpoint/resume.

Replaces the reference's FastAPI + multiprocessing.Queue + Postgres job store
(reference scripts/api.py:48-64, task_manager.py:31-98) with:

- parallelism = partitions of the doc table (salted by ``doc_id``);
- resumability = a checkpoint table of completed buckets; a re-run skips
  completed buckets entirely (reference analogue: skip-if-output-exists,
  scripts/batch_pdf_table_extractor.py:32-34 → SURVEY §2 O6 left anti join);
- per-partition lineage/metrics = every Arrow batch emits one ``kind='stats'``
  row (JSON metrics) which the job aggregates into the checkpoint row.

At cluster scale the same code runs unchanged via ``spark-submit --py-files``:
buckets are deterministic hash ranges of ``doc_id``, each bucket an
independent, idempotent (overwrite) write — a killed run resumes at bucket
granularity without reprocessing completed doc ranges.
"""

from __future__ import annotations

import re
import time
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import synth
from .extractor.pipeline import make_extract_fn, make_map_in_arrow_fn
from .schemas import (
    DOCUMENT_SPANS_SCHEMA,
    EXTRACTED_SPANS_DDL,
    NESTED_RESULT_DDL,
)

STATS_KIND = "stats"
ERROR_KIND = "error"
DATA_KINDS = ("text", "media")


# --------------------------------------------------------------------------
# sources
# --------------------------------------------------------------------------

def read_spans(spark: SparkSession, path: str) -> DataFrame:
    """Scan the (doc_id, spans) table. Column pruning/pushdown apply."""
    return spark.read.schema(DOCUMENT_SPANS_SCHEMA).parquet(path)


def synthesize_spans(
    spark: SparkSession, n_docs: int, seed: int = 42, partitions: int | None = None
) -> DataFrame:
    """Distributed deterministic corpus: spark.range → mapInPandas generator.

    Generation is keyed by doc_id only (synth._rng), so the corpus is
    identical at any partitioning — scalable to arbitrary n_docs with no
    driver-side materialization.
    """
    partitions = partitions or spark.sparkContext.defaultParallelism

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids = [f"doc_{seed}_{int(i):07d}" for i in pdf["id"]]
            rows = []
            for doc_id in ids:
                spans = [
                    {"kind": k, "text": t, "media_ref": m, "offset": o}
                    for (k, t, m, o) in synth.generate_doc(doc_id, seed)
                ]
                rows.append((doc_id, spans))
            yield pd.DataFrame(rows, columns=["doc_id", "spans"])

    return (
        spark.range(0, n_docs, numPartitions=partitions)
        .mapInPandas(gen, DOCUMENT_SPANS_SCHEMA)
    )


def make_synth_extract_fn(
    seed: int = 42,
    key_format: str = "sfdoc_{}",
    output_mode: str = "spans",
    **options,
):
    """Fused synth+extract ``mapInArrow`` fn over a bare ``doc_id`` frame.

    The un-fused shape (generate spans → Arrow → exchange → Arrow →
    extract) pays for the span payload three times: pandas→Arrow struct
    serialization out of the generator, a full shuffle of the generated
    text, and Arrow→numpy back into the extractor. Fusing keeps the spans
    as plain Python tuples inside ONE task (guide §8: shuffle the 8-byte
    doc ids, never the payload) — the only rows that ever cross Arrow are
    the extraction OUTPUT rows. Only the input adapter is its own: the
    generated spans go through the same ``make_extract_fn`` step as every
    other extraction (``options`` are its options). Byte-identical
    results: generation is keyed by doc_id only and extraction is a pure
    per-doc function (pinned by tests/test_modes_and_nested.py
    fused-equality tests).
    """
    import numpy as np

    extract_fn = make_extract_fn(output_mode, **options)

    def fn(batches):
        gen = synth.generate_doc
        for rb in batches:
            ids = rb.column("doc_id").to_pylist()
            keys = [key_format.format(i) for i in ids]
            lens = np.empty(len(keys), dtype=np.int64)
            flat: list[tuple] = []
            for j, k in enumerate(keys):
                sp = gen(k, seed)
                lens[j] = len(sp)
                flat.extend(sp)
            if flat:
                kinds, texts, media, offs = zip(*flat)
            else:
                kinds = texts = media = offs = ()
            yield extract_fn((
                np.array(keys, dtype=object),
                np.repeat(np.arange(len(keys)), lens),
                np.array(kinds, dtype=object),
                np.array(texts, dtype=object),
                np.array(media, dtype=object),
                np.array(offs, dtype=np.int64),
            ))

    return fn


# --------------------------------------------------------------------------
# partitioning / skew
# --------------------------------------------------------------------------

def salted_repartition(df: DataFrame, num_partitions: int, salt: int = 0) -> DataFrame:
    """Deterministic salted hash repartition by doc_id.

    Different ``salt`` values give different placements but must give
    byte-identical results (the determinism test) — extraction is a pure
    per-doc function. At cluster scale this defuses hot partitions when many
    mega-docs hash together (SURVEY §4 skew note).
    """
    key = F.pmod(
        F.xxhash64(F.col("doc_id"), F.lit(salt)), F.lit(num_partitions)
    ).cast("int")
    return df.repartition(num_partitions, key)


# --------------------------------------------------------------------------
# extract
# --------------------------------------------------------------------------

def _extraction(output_mode: str, **options):
    """``df -> df.mapInArrow(...)`` running the one extraction entry
    (``pipeline.make_map_in_arrow_fn``); building it validates
    ``output_mode`` before any Spark work."""
    fn = make_map_in_arrow_fn(output_mode, **options)
    ddl = EXTRACTED_SPANS_DDL if output_mode == "spans" else NESTED_RESULT_DDL
    return lambda df: df.mapInArrow(fn, ddl)


def extract(
    df: DataFrame,
    merge_rows: bool = True,
    excepted_lines: list[int] | None = None,
    excepted_pages: list[int] | None = None,
    row_model: str | None = None,
    gap_min_spaces: int | None = None,
) -> DataFrame:
    """spans table → extracted span rows (+ per-batch stats rows). The
    options are those of ``pipeline.make_extract_fn``."""
    return _extraction(
        "spans",
        merge_rows=merge_rows,
        excepted_lines=excepted_lines,
        excepted_pages=excepted_pages,
        row_model=row_model,
        gap_min_spaces=gap_min_spaces,
    )(df)


def extract_nested(
    df: DataFrame,
    merge_rows: bool = True,
    with_colspans: bool = False,
    row_model: str | None = None,
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
        merge_rows=merge_rows,
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
    try:
        # recursive: checkpoint rows live in per-write subdirectories so M
        # concurrent shard drivers never share a FileOutputCommitter
        # staging dir (concurrent appends to ONE parquet dir can clobber
        # each other's _temporary staging)
        return (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(checkpoint_path)
        )
    except Exception:
        return None


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


def resume_filter(input_df: DataFrame, done_docs: DataFrame) -> DataFrame:
    """Doc-level resume: left anti join against already-processed doc_ids
    (SURVEY §2 O6 — the reference's skip-if-output-exists)."""
    return input_df.join(done_docs.select("doc_id").distinct(), "doc_id", "left_anti")


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
    row_model: str | None = None,
    gap_min_spaces: int | None = None,
    output_mode: str = "spans",
    adopt_k: bool = False,
    midcol_rowspans: bool = False,
) -> dict:
    """Run (or resume) the extraction over ``input_df``.

    Buckets = pmod(xxhash64(doc_id), n_buckets); each bucket is extracted and
    written independently (idempotent overwrite of its directory), then a
    checkpoint row is appended. A killed run re-invoked with the same
    ``run_id`` skips completed buckets.

    ``output_mode``: "spans" (default) writes the flat span table;
    "nested" / "nested-colspans" write the S7 result-JSON table (one
    (doc_id, result) row per doc) under the SAME bucket checkpoint
    discipline — a 10^9-doc nested export is resumable exactly like the
    flat one. Nested buckets carry no per-batch stats rows, so their
    checkpoint rows record doc counts and doc_id bounds with zeroed
    span/table/error tallies. Any other mode raises ``ValueError`` before
    the bucket-count marker or any bucket is written.

    Per-bucket metrics (the per-batch ``kind='stats'`` rows plus the output
    row count) are collected with ``df.observe()`` DURING the single write
    pass — no post-write re-read of the bucket directory.

    ``buckets`` restricts the run to a subset of bucket ids: at large K an
    orchestrator can shard buckets across concurrent driver processes
    (each an independent, idempotent write + checkpoint append) instead of
    this driver's serial loop — see docs/SCALE.md.

    ``fail_after_bucket`` injects a crash after that bucket commits — used by
    the resume test.

    ``adopt_k`` opts into correcting a mistyped ``n_buckets`` on a
    data-free output (see ``_write_bucket_count_marker``); the default
    refuses ANY K mismatch, which is the fail-safe when another driver
    might still be computing its first bucket at the old K.
    """
    from pyspark.sql import Observation

    extract_bucket = _extraction(
        output_mode,
        excepted_lines=excepted_lines,
        excepted_pages=excepted_pages,
        row_model=row_model,
        gap_min_spaces=gap_min_spaces,
        midcol_rowspans=midcol_rowspans,
    )
    run_id = run_id or uuid.uuid4().hex[:12]
    partitions_per_bucket = (
        partitions_per_bucket or spark.sparkContext.defaultParallelism
    )
    _write_bucket_count_marker(spark, output_path, n_buckets, adopt_k=adopt_k)
    done = completed_buckets(spark, checkpoint_path, run_id)
    bucketed = input_df.withColumn(
        "__bucket",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"),
    )
    todo = buckets if buckets is not None else range(n_buckets)
    # skips are counted WITHIN the requested subset only: a shard driver's
    # summary must not conflate other shards' checkpoint rows with its own
    summary = {
        "run_id": run_id,
        "buckets_run": 0,
        "buckets_skipped": len(done & set(todo)),
    }
    is_stats = F.col("kind") == STATS_KIND

    def _stat(field):
        return F.when(is_stats, F.get_json_object("text", f"$.{field}"))

    for b in todo:
        if b in done:
            continue
        t0 = time.time()
        bdf = bucketed.filter(F.col("__bucket") == b).drop("__bucket")
        bdf = salted_repartition(bdf, partitions_per_bucket, salt)
        obs = Observation(f"krt_{run_id}_{b}_{uuid.uuid4().hex[:6]}")
        out = extract_bucket(bdf)
        if output_mode == "spans":
            out = out.observe(
                obs,
                F.sum(_stat("n_docs").cast("long")).alias("n_docs"),
                F.sum(_stat("n_spans_in").cast("long")).alias("n_spans_in"),
                F.sum(_stat("n_tables").cast("long")).alias("n_tables"),
                F.sum(_stat("n_errors").cast("long")).alias("n_errors"),
                F.min(_stat("doc_id_min")).alias("doc_id_min"),
                F.max(_stat("doc_id_max")).alias("doc_id_max"),
                F.sum(
                    F.when(F.col("kind").isin(*DATA_KINDS), 1).otherwise(0)
                ).alias("n_spans_out"),
            )
        else:
            out = out.observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("doc_id_min"),
                F.max("doc_id").alias("doc_id_max"),
                F.count(F.lit(1)).alias("n_spans_out"),
            )
        bucket_dir = f"{output_path}/bucket={b}"
        out.write.mode("overwrite").parquet(bucket_dir)
        m = obs.get
        cp_row = [(
            run_id, b, m["doc_id_min"], m["doc_id_max"],
            int(m["n_docs"] or 0), int(m.get("n_spans_in") or 0),
            int(m["n_spans_out"] or 0), int(m.get("n_tables") or 0),
            int(m.get("n_errors") or 0),
            int((time.time() - t0) * 1000), "done",
        )]
        spark.createDataFrame(
            cp_row,
            "run_id string, bucket int, doc_id_min string, doc_id_max string,"
            " n_docs long, n_spans_in long, n_spans_out long, n_tables long,"
            " n_errors long, wall_ms long, status string",
        ).withColumn("ts", F.current_timestamp()).write.mode(
            "overwrite"
        ).parquet(
            # one subdirectory per checkpoint write: concurrent shard
            # drivers touch disjoint paths (see _read_checkpoint)
            f"{checkpoint_path}/cpw={run_id}_{b}_{uuid.uuid4().hex[:8]}"
        )
        summary["buckets_run"] += 1
        if fail_after_bucket is not None and b >= fail_after_bucket:
            raise RuntimeError(f"injected failure after bucket {b}")
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


def _parquet_dir_stats(fs, path) -> tuple[int, int]:
    """(file count, total bytes) of the .parquet files directly under
    ``path`` — the one counting policy shared by compaction sizing and
    output_status so the two can't drift."""
    n, size = 0, 0
    for f in fs.listStatus(path):
        if f.getPath().getName().endswith(".parquet"):
            n += 1
            size += int(f.getLen())
    return n, size


def _walk_bucket_file_stats(fs, jvm, root_path: str):
    """(dir-name -> (parquet files, bytes), set of dir names) under
    ``root_path`` from two bounded FS calls — one ``listStatus`` for the
    directory set (an empty, fully-deleted bucket dir is legal state and
    holds no files to walk) plus one recursive ``listFiles`` stream for
    the per-directory file stats — instead of one ``listStatus`` per
    bucket (VERDICT r7 item 7: the K=4096 dry-run metadata loops were
    serial driver RPCs, seconds-to-minutes on an object store)."""
    P = jvm.org.apache.hadoop.fs.Path
    root = P(root_path)
    if not fs.exists(root):
        return {}, set()
    dirs: set[str] = set()
    for st in fs.listStatus(root):
        if st.isDirectory():
            dirs.add(st.getPath().getName())
    stats: dict[str, list[int]] = {}
    it = fs.listFiles(root, True)
    while it.hasNext():
        st = it.next()
        fp = st.getPath()
        if not fp.getName().endswith(".parquet"):
            continue
        cur = stats.setdefault(fp.getParent().getName(), [0, 0])
        cur[0] += 1
        cur[1] += int(st.getLen())
    return {k: (v[0], v[1]) for k, v in stats.items()}, dirs


def _bucket_ids(fs, root) -> list[int]:
    """Bucket ids committed under an output root (exact-name match only)."""
    if not fs.exists(root):
        raise FileNotFoundError(f"no such output: {root}")
    ids = []
    for f in fs.listStatus(root):
        m = _BUCKET_DIR_RE.match(f.getPath().getName())
        if m and f.isDirectory():
            ids.append(int(m.group(1)))
    return sorted(ids)


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
    (legacy) output the committed directories are cross-checked before
    the caller's K becomes authoritative: any directory outside
    ``range(n_buckets)`` proves a mismatch. (A legacy PARTIAL output
    whose committed ids all fit inside a smaller wrong K is undetectable
    — ship the marker with the original run to close that.)

    ``adopt_k=True`` opts into overwriting the marker of a DATA-FREE
    output (marker present, zero bucket dirs, zero ``.staging``
    leftovers) — the mistyped-K recovery path: a run launched with the
    wrong K that died before its first bucket commit constrains nothing.
    Adoption is NOT the default because the same filesystem state is
    indistinguishable from a live concurrent driver still computing its
    first bucket at the old K; silently overwriting its marker would
    interleave mixed-K buckets. The operator asserts "no other driver is
    running" by passing the flag (CLI ``--adopt-k``)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(f"{output_path}/{_BUCKET_COUNT_MARKER}")
    fs = p.getFileSystem(conf)
    prev = _read_bucket_count_marker(fs, jvm, output_path)
    root = jvm.org.apache.hadoop.fs.Path(output_path)
    if prev is not None:
        if prev != int(n_buckets):
            ids = _bucket_ids(fs, root) if fs.exists(root) else []
            staging_root = jvm.org.apache.hadoop.fs.Path(
                f"{output_path}.staging"
            )
            staged = (
                sorted(
                    f.getPath().getName()
                    for f in fs.listStatus(staging_root)
                    if f.getPath().getName().startswith("bucket=")
                )
                if fs.exists(staging_root)
                else []
            )
            if not ids and not staged and adopt_k:
                # data-free stub: a run launched with this K died before
                # its first bucket commit, so nothing constrains the hash
                # yet — the operator opted in (adopt_k) to correcting it.
                # An interrupted-swap backup or staged copy under
                # .staging IS data hashed at the old K, so its presence
                # blocks adoption above.
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
        return  # unchanged: don't touch the marker's mtime
    if fs.exists(root):
        ids = _bucket_ids(fs, root)
        if ids and ids[-1] + 1 > int(n_buckets):
            raise ValueError(
                f"{output_path} holds bucket={ids[-1]} — written with "
                f"n_buckets>{ids[-1]}; refusing to continue it with "
                f"n_buckets={n_buckets}"
            )
    _put_marker(fs, p, n_buckets)


def _writer_bucket_count(fs, jvm, root, output_path: str) -> int:
    """The writer's K, for recomputing pmod(xxhash64(doc_id), K)
    placement. Prefer the marker ``run_extraction`` wrote (survives
    missing/partial bucket directories); fall back to inferring from the
    committed directories, refusing to guess on a non-contiguous set (a
    sharded run still in flight, a bucket lost to a crash) rather than
    silently targeting the wrong buckets."""
    k = _read_bucket_count_marker(fs, jvm, output_path)
    if k is not None:
        return k
    ids = _bucket_ids(fs, root)
    if not ids:
        raise FileNotFoundError(f"no bucket directories under {output_path}")
    k = ids[-1] + 1
    if ids != list(range(k)):
        raise ValueError(
            f"bucket directories under {output_path} are not contiguous "
            f"(found {len(ids)} of 0..{k - 1}); pass n_buckets= explicitly "
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


def output_status(spark: SparkSession, output_path: str) -> dict:
    """Operational summary of a committed output from filesystem metadata
    alone — no Spark jobs, no data reads. Flags the conditions the
    maintenance ops care about: buckets missing vs the writer's K, and
    interrupted-swap backups awaiting recovery."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(output_path)
    fs = root.getFileSystem(conf)
    ids = _bucket_ids(fs, root)
    k = _read_bucket_count_marker(fs, jvm, output_path)
    n_files = 0
    n_bytes = 0
    for b in ids:
        p = jvm.org.apache.hadoop.fs.Path(f"{output_path}/bucket={b}")
        n, size = _parquet_dir_stats(fs, p)
        n_files += n
        n_bytes += size
    staging_root = jvm.org.apache.hadoop.fs.Path(f"{output_path}.staging")
    pending = []
    if fs.exists(staging_root):
        pending = sorted(
            f.getPath().getName()
            for f in fs.listStatus(staging_root)
        )
    return {
        "n_buckets_marker": k,
        "buckets_present": len(ids),
        "buckets_missing": (
            sorted(set(range(k)) - set(ids)) if k is not None else None
        ),
        "parquet_files": n_files,
        "parquet_bytes": n_bytes,
        "staging_leftovers": pending,
    }


def compact_bucket(
    spark: SparkSession,
    output_path: str,
    bucket: int,
    target_bytes: int = 256 << 20,
) -> dict:
    """Rewrite one committed bucket directory into ~``target_bytes``
    parquet files (the standard small-files compaction a bucketed,
    many-executor writer needs at warehouse scale: K buckets × P
    partitions per run leaves K·P files; downstream scans want
    128-512 MB objects). The rewrite is idempotent and bucket-local —
    it can run concurrently with other buckets' compactions and never
    touches the checkpoint table (compaction is not a lineage event).

    Swap discipline (shared with ``delete_docs``/``upsert_docs``): the
    rewritten copy is staged under the sibling ``.staging`` root, the
    live directory is retired to a backup there, the staged copy is
    renamed in, and only then is the backup dropped — every rename
    checked, and a crash between retire and commit is healed by the
    ``_recover_bucket`` restore on the next run."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    bucket_dir = f"{output_path}/bucket={bucket}"
    path = jvm.org.apache.hadoop.fs.Path(bucket_dir)
    fs = path.getFileSystem(conf)
    _recover_bucket(fs, jvm, output_path, bucket)
    if not fs.exists(path):
        raise FileNotFoundError(bucket_dir)

    # size from the parquet files themselves — getContentSummary would
    # also count checksum/marker siblings and overstate the target split
    n_before, total = _parquet_dir_stats(fs, path)
    if n_before == 0:
        # a fully-deleted bucket is a LEGAL empty directory (the batched
        # delete/upsert swap in bare dirs); nothing to compact, and a
        # schema-less read would raise UNABLE_TO_INFER_SCHEMA
        return {
            "bucket": bucket, "bytes": 0,
            "files_before": 0, "files_after": 0,
        }
    n_files = max(1, -(-total // target_bytes))
    df = spark.read.parquet(bucket_dir)
    staging = jvm.org.apache.hadoop.fs.Path(
        f"{output_path}.staging/bucket={bucket}.compacting"
    )
    df.repartition(n_files).write.mode("overwrite").parquet(str(staging))
    _swap_bucket_dir(fs, jvm, output_path, bucket, staging)
    # recount post-swap: repartition(n) emits FEWER files than n when the
    # bucket has fewer rows, so the computed target is not the truth
    n_after, _ = _parquet_dir_stats(fs, path)
    return {
        "bucket": bucket,
        "bytes": total,
        "files_before": n_before,
        "files_after": n_after,
    }


def compact_output(
    spark: SparkSession,
    output_path: str,
    target_bytes: int = 256 << 20,
    buckets: list[int] | None = None,
    dry_run: bool = False,
) -> list[dict] | dict:
    """Compact every (or the given) bucket directory under
    ``output_path``. Buckets are independent — an orchestrator can shard
    this loop exactly like the extraction buckets themselves (and a
    sharded driver MUST pass its own subset: compacting a bucket another
    driver is still writing would swap in a stale snapshot).

    ``dry_run=True`` is the read-only pre-flight (delete/upsert twin,
    and the one an operator most wants before pointing a rewrite at a
    100 TB corpus on a guessed target size): filesystem metadata only —
    no Spark jobs, no recovery, no writes, untouched mtimes. Reports per
    bucket the parquet files/bytes today and the computed
    ``files_target`` the rewrite would aim for; a bucket currently
    retired by an interrupted swap is counted from its ``.staging``
    backup (matching what the healed real run would compact) and left
    retired. ``files_target`` is an upper bound on the real run's
    ``files_after``: ``repartition(n)`` emits fewer files when the
    bucket holds fewer rows than partitions, which only the rewrite
    itself can know."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(output_path)
    fs = root.getFileSystem(conf)
    if buckets is None:
        # include buckets currently retired by an interrupted swap (only
        # their .staging backup exists) — compact_bucket's recovery
        # restores them, so the natural retry must enumerate them
        buckets = set(_bucket_ids(fs, root))
        staging_root = jvm.org.apache.hadoop.fs.Path(f"{output_path}.staging")
        if fs.exists(staging_root):
            for f in fs.listStatus(staging_root):
                m = re.match(r"^bucket=(\d+)\.old$", f.getPath().getName())
                if m:
                    buckets.add(int(m.group(1)))
        buckets = sorted(buckets)
    if dry_run:
        # one listing walk per root instead of a listStatus per bucket
        live_st, live_dirs = _walk_bucket_file_stats(fs, jvm, output_path)
        bk_st, bk_dirs = _walk_bucket_file_stats(
            fs, jvm, f"{output_path}.staging"
        )
        per = []
        for b in buckets:
            ln, bn = f"bucket={b}", f"bucket={b}.old"
            if ln in live_dirs:
                n, total = live_st.get(ln, (0, 0))
            elif bn in bk_dirs:
                n, total = bk_st.get(bn, (0, 0))
            else:  # mirror compact_bucket on an explicit miss
                raise FileNotFoundError(f"{output_path}/bucket={b}")
            per.append({
                "bucket": b,
                "bytes": total,
                "files_before": n,
                # 0 for a legal fully-deleted empty bucket — the real
                # run skips it rather than rewriting
                "files_target": (
                    max(1, -(-total // target_bytes)) if n else 0
                ),
            })
        return {
            "dry_run": True,
            "buckets": per,
            "bytes": sum(s["bytes"] for s in per),
            "files_before": sum(s["files_before"] for s in per),
            "files_target": sum(s["files_target"] for s in per),
        }
    # Batched real run (round 8, mirroring the round-7 delete/upsert
    # batching): the data path is ONE staged write for ALL buckets —
    # per-row `__slot = pmod(xxhash64(doc_id), files_target(bucket))`
    # from the same per-bucket targets the dry-run reports, repartition
    # on (bucket, __slot), write hive-partitioned by bucket to staging —
    # then the existing checked metadata-only swaps. Job count is
    # constant in the number of buckets (K=4096 compacts in 1 data job,
    # not ~4096 sequential launches). `__slot` is a deterministic
    # function of doc_id (guide §2.5: retried tasks reproduce the same
    # placement; a doc's rows stay in one output file). files_target
    # stays the upper bound on files_after: (bucket, slot) pairs that
    # hash to the same task are concatenated by the writer.
    P = jvm.org.apache.hadoop.fs.Path
    for b in buckets:
        _recover_bucket(fs, jvm, output_path, b)
    stats: list[dict] = []
    targets: dict[int, int] = {}
    for b in buckets:
        path = P(f"{output_path}/bucket={b}")
        if not fs.exists(path):
            raise FileNotFoundError(f"{output_path}/bucket={b}")
        n_before, total = _parquet_dir_stats(fs, path)
        if n_before == 0:
            # legal fully-deleted empty bucket: nothing to compact
            stats.append({
                "bucket": b, "bytes": 0,
                "files_before": 0, "files_after": 0,
            })
            continue
        targets[b] = max(1, -(-total // target_bytes))
        stats.append({
            "bucket": b, "bytes": total, "files_before": n_before,
        })
    if targets:
        tmap = spark.createDataFrame(
            sorted(targets.items()), "bucket int, __ft int"
        )
        stage_root = f"{output_path}.staging/compact_stage"
        total_slots = sum(targets.values())
        n_parts = max(
            spark.sparkContext.defaultParallelism, total_slots
        )
        (
            spark.read.option("basePath", output_path)
            .parquet(*[
                f"{output_path}/bucket={b}" for b in sorted(targets)
            ])
            .join(F.broadcast(tmap), "bucket")
            .withColumn(
                "__slot",
                F.pmod(F.xxhash64("doc_id"), F.col("__ft")).cast("int"),
            )
            .repartition(n_parts, F.col("bucket"), F.col("__slot"))
            .drop("__ft", "__slot")
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(stage_root)
        )
        for b in sorted(targets):
            _swap_bucket_dir(
                fs, jvm, output_path, b, P(f"{stage_root}/bucket={b}")
            )
        fs.delete(P(stage_root), True)
    for s in stats:
        if "files_after" not in s:
            s["files_after"] = _parquet_dir_stats(
                fs, P(f"{output_path}/bucket={s['bucket']}")
            )[0]
    return stats


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
    SAME hash the writer used (pmod(xxhash64(doc_id), K)). K is inferred
    from the committed directories when the output is complete and must
    be passed explicitly for a partial/sharded one (see
    ``_writer_bucket_count``). Only affected bucket directories are read
    and rewritten — at K=4096 deleting a handful of docs touches a
    handful of directories, not the corpus — and the rewrite is BATCHED:
    one hit-count pass plus one staged write hive-partitioned by
    ``bucket`` cover every affected directory, so the Spark-job count is
    constant in the number of buckets touched (a 10^7-id policy sweep at
    K=4096 runs 2 jobs, not ~4096). Each bucket still commits through
    the checked retire/commit swap of ``compact_bucket`` — now a pure
    metadata rename per bucket; untouched buckets (including
    hash-affected ones holding none of the ids) keep their files
    byte-identical.

    ``dry_run=True`` reports what the real run would do — affected
    buckets and rows to remove per bucket — read-only (two actions: the
    bucket-list aggregation and the semi-join count; no recovery, no
    writes, untouched mtimes): the sanity check an operator wants before
    pointing a 10^7-id policy sweep at a live corpus. A bucket currently
    retired by an interrupted swap is counted from its ``.staging``
    backup, matching what the healed real run would see. The real run
    swaps ONLY buckets that actually lose rows (a staged copy with zero
    removals is discarded), so ``buckets_rewritten`` equals the dry
    run's ``buckets_affected`` and every other bucket — including a
    hash-affected one holding no matching rows — stays byte-identical.
    """
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(output_path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):  # even with explicit n_buckets: a typo'd path
        raise FileNotFoundError(f"no such output: {output_path}")
    if n_buckets is None:
        n_buckets = _writer_bucket_count(fs, jvm, root, output_path)
    if isinstance(doc_ids, DataFrame):
        ids_src = doc_ids.select(F.col("doc_id").cast("string"))
    else:
        ids_src = spark.createDataFrame(
            [(d,) for d in doc_ids], "doc_id string"
        )
    ids = ids_src.withColumn(
        "__bucket",
        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int"),
    )
    # cached: the id set feeds the affected-bucket aggregation, the
    # hit-count semi-join, and the staged anti-join — a DataFrame id
    # source would otherwise recompute for each
    ids = ids.persist()
    try:
        affected = sorted(
            r["__bucket"]
            for r in ids.select("__bucket").distinct().collect()
        )
        if dry_run:
            # one listing walk per root instead of exists+listStatus
            # per bucket; same selection: live dir wins over a retired
            # .staging backup, and legal fully-deleted empty dirs hold
            # nothing and must not sink schema inference
            live_st, live_dirs = _walk_bucket_file_stats(
                fs, jvm, output_path
            )
            bk_st, bk_dirs = _walk_bucket_file_stats(
                fs, jvm, f"{output_path}.staging"
            )
            paths = []
            for b in affected:
                ln, bn = f"bucket={b}", f"bucket={b}.old"
                if ln in live_dirs:
                    if live_st.get(ln, (0, 0))[0]:
                        paths.append(f"{output_path}/bucket={b}")
                elif bn in bk_dirs and bk_st.get(bn, (0, 0))[0]:
                    paths.append(f"{output_path}.staging/{bn}")
            by_bucket: dict[int, int] = {}
            if paths:
                hits = (
                    spark.read.parquet(*paths)
                    .join(ids.select("doc_id"), "doc_id", "left_semi")
                    .groupBy(
                        F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets))
                        .cast("int")
                        .alias("b")
                    )
                    .count()
                    .collect()
                )
                by_bucket = {int(r["b"]): int(r["count"]) for r in hits}
            return {
                "dry_run": True,
                "buckets_total": n_buckets,
                "buckets_affected": [
                    b for b in affected if by_bucket.get(b)
                ],
                "rows_to_remove": sum(by_bucket.values()),
                "rows_by_bucket": [
                    [b, by_bucket[b]] for b in sorted(by_bucket)
                ],
            }
        # Batched rewrite: the per-bucket work is TWO Spark jobs total —
        # a hit-count pass and one staged write partitioned by bucket —
        # regardless of how many buckets the ids touch, so a 10^7-id
        # policy sweep at K=4096 stops paying ~4096 sequential job
        # launches of mostly fixed overhead. The checked per-bucket
        # retire/commit swaps remain, but as pure metadata renames.
        P = jvm.org.apache.hadoop.fs.Path
        for b in affected:
            _recover_bucket(fs, jvm, output_path, b)
        # explicit-K partial: ids may hash to never-written buckets; a
        # fully-deleted bucket is a legal EMPTY dir — it holds nothing
        # to delete and a schema-less read of it would fail, so only
        # dirs with parquet files join the hit-count scan
        existing = [
            b for b in affected
            if fs.exists(P(f"{output_path}/bucket={b}"))
            and _parquet_dir_stats(fs, P(f"{output_path}/bucket={b}"))[0]
        ]
        removed = 0
        rewritten = 0
        if existing:
            paths = [f"{output_path}/bucket={b}" for b in existing]
            # job 1: per-bucket hit counts — also the exact removed-row
            # counts, and they bound the swap set to buckets that really
            # lose rows (a hash-affected bucket holding none of the ids
            # keeps its files byte-identical, matching dry_run's
            # buckets_affected)
            hits = (
                spark.read.option("basePath", output_path).parquet(*paths)
                .join(ids.select("doc_id"), "doc_id", "left_semi")
                .groupBy("bucket")
                .count()
                .collect()
            )
            by_bucket = {int(r["bucket"]): int(r["count"]) for r in hits}
            hit_buckets = sorted(by_bucket)
            if hit_buckets:
                # job 2: every hit bucket's keep-rows staged in ONE write
                # (hive-partitioned like the live tree, so each staged
                # bucket dir swaps in as-is). The anti-join side is the
                # full id set: broadcast when it came as a driver-side
                # list, left to AQE for a DataFrame-sized sweep.
                join_ids = ids.select("doc_id")
                if not isinstance(doc_ids, DataFrame):
                    join_ids = F.broadcast(join_ids)
                stage_root = f"{output_path}.staging/delete_keep"
                keep = (
                    spark.read.option("basePath", output_path).parquet(
                        *[f"{output_path}/bucket={b}" for b in hit_buckets]
                    )
                    .join(join_ids, "doc_id", "left_anti")
                )
                keep.write.mode("overwrite").partitionBy("bucket").parquet(
                    stage_root
                )
                for b in hit_buckets:
                    staged = P(f"{stage_root}/bucket={b}")
                    if not fs.exists(staged):
                        # every row of the bucket was removed: an empty
                        # directory is the correct post-delete state
                        fs.mkdirs(staged)
                    _swap_bucket_dir(fs, jvm, output_path, b, staged)
                    removed += by_bucket[b]
                    rewritten += 1
                fs.delete(P(stage_root), True)
    finally:
        ids.unpersist()
    return {
        "buckets_rewritten": rewritten,
        "buckets_total": n_buckets,
        "rows_removed": removed,
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

    Extraction runs ONCE: the replacement rows are written to a staging
    root partitioned by the writer's own bucket hash, and ONE further
    merged write stages every affected bucket's (old rows minus upserted
    doc_ids) ∪ (its staged new rows) — the Spark-job count is constant
    in the number of buckets touched, with each bucket still committing
    through the checked retire/commit swap of ``compact_bucket`` as a
    metadata-only rename. The replace set is derived from ``input_df``, NOT
    from the extraction output — a changed doc whose new content yields
    zero rows (no tables detected) still has its stale rows removed.
    Buckets holding none of the upserted docs keep their files
    byte-identical; a doc new to the corpus lands in its hash bucket even
    if that directory did not exist yet. ``extract_kw`` forwards the
    extraction options (``row_model``, ``excepted_*``, ``gap_min_spaces``)
    so the replacement rows follow the same config as the original run.

    Like compaction, an upsert is not a lineage event: the checkpoint
    table is untouched and only ``kind in DATA_KINDS`` rows are written
    for the replaced docs (per-batch ``stats`` rows describe original
    run batches, which a partial rewrite cannot meaningfully amend).

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
    from pyspark.sql.types import IntegerType, StructField, StructType

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(output_path)
    fs = root.getFileSystem(conf)
    if not fs.exists(root):  # even with explicit n_buckets: a typo'd path
        raise FileNotFoundError(f"no such output: {output_path}")
    if n_buckets is None:
        n_buckets = _writer_bucket_count(fs, jvm, root, output_path)
    if input_df.isEmpty():  # mirror delete_docs([]) — a committed no-op
        summary = {
            "buckets_rewritten": 0,
            "buckets_total": n_buckets,
            "docs_upserted": 0,
        }
        if dry_run:
            summary = {
                "dry_run": True, "buckets_total": n_buckets,
                "buckets_affected": [], "docs_replacing": 0,
                "docs_new": 0, "rows_to_replace": 0,
            }
        return summary
    bucket_of = F.pmod(F.xxhash64("doc_id"), F.lit(n_buckets)).cast("int")
    if dry_run:
        P = jvm.org.apache.hadoop.fs.Path
        ids = (
            input_df.select("doc_id").distinct()
            .withColumn("__bucket", bucket_of)
            .persist()
        )
        try:
            n_input = ids.count()
            affected = sorted(
                r["__bucket"]
                for r in ids.select("__bucket").distinct().collect()
            )
            paths = []
            for b in affected:
                live = f"{output_path}/bucket={b}"
                backup = f"{output_path}.staging/bucket={b}.old"
                if fs.exists(P(live)):
                    paths.append(live)
                elif fs.exists(P(backup)):
                    paths.append(backup)
            # legal fully-deleted empty dirs hold nothing and must not
            # sink schema inference when every path is one
            paths = [
                p for p in paths if _parquet_dir_stats(fs, P(p))[0]
            ]
            docs_replacing = 0
            rows_to_replace = 0
            if paths:
                # docs never cross buckets (bucket = f(doc_id)), so the
                # per-bucket distinct-doc counts sum to the global one
                hits = (
                    spark.read.parquet(*paths)
                    .join(ids.select("doc_id"), "doc_id", "left_semi")
                    .groupBy(bucket_of.alias("b"))
                    .agg(
                        F.count(F.lit(1)).alias("n"),
                        F.countDistinct("doc_id").alias("d"),
                    )
                    .collect()
                )
                docs_replacing = sum(int(r["d"]) for r in hits)
                rows_to_replace = sum(int(r["n"]) for r in hits)
            return {
                "dry_run": True,
                "buckets_total": n_buckets,
                "buckets_affected": affected,
                "docs_replacing": docs_replacing,
                "docs_new": n_input - docs_replacing,
                "rows_to_replace": rows_to_replace,
            }
        finally:
            ids.unpersist()
    new_rows = _extraction(output_mode, **extract_kw)(input_df)
    if output_mode == "spans":
        new_rows = data_spans(new_rows)
    stage_root = f"{output_path}.staging/upsert_rows"
    stage_path = jvm.org.apache.hadoop.fs.Path(stage_root)
    (
        new_rows.withColumn("bucket", bucket_of)
        .write.mode("overwrite").partitionBy("bucket").parquet(stage_root)
    )
    # explicit schema: a staged write where every doc produced zero rows
    # has no parquet files to infer from, and the replace set below must
    # still be honored
    bucketed_schema = StructType(
        new_rows.schema.fields + [StructField("bucket", IntegerType())]
    )
    staged = spark.read.schema(bucketed_schema).parquet(stage_root)
    fresh_buckets = {
        r["bucket"] for r in staged.select("bucket").distinct().collect()
    }
    ids = (
        input_df.select("doc_id").distinct()
        .withColumn("bucket", bucket_of)
        .cache()
    )
    affected = sorted(r["bucket"] for r in ids.select("bucket").distinct().collect())
    n_docs = ids.count()
    rewritten = 0
    # Batched rewrite (delete_docs twin): ONE staged write merges every
    # affected bucket's (old rows minus upserted ids) ∪ (its fresh rows),
    # hive-partitioned by bucket so each staged dir swaps in as-is — the
    # Spark-job count stays constant in the number of buckets touched,
    # and the checked per-bucket swaps are pure metadata renames.
    P = jvm.org.apache.hadoop.fs.Path
    for b in affected:
        _recover_bucket(fs, jvm, output_path, b)
    existing = [
        b for b in affected if fs.exists(P(f"{output_path}/bucket={b}"))
    ]
    # a bucket with nothing to remove (never written) and nothing to add
    # (its docs extracted zero rows) needs no swap at all
    existing_set = set(existing)
    swap_buckets = [
        b for b in affected if b in existing_set or b in fresh_buckets
    ]
    merge_root = f"{output_path}.staging/upsert_merged"
    if swap_buckets:
        if existing:
            # explicit schema: an existing bucket dir can be EMPTY (fully
            # deleted earlier) and must not sink schema inference
            kept = (
                spark.read.schema(bucketed_schema)
                .option("basePath", output_path).parquet(
                    *[f"{output_path}/bucket={b}" for b in existing]
                )
                .join(
                    F.broadcast(ids.select("doc_id")), "doc_id", "left_anti"
                )
            )
            merged = kept.unionByName(staged)
        else:  # every doc new to the corpus, no hash bucket written yet
            merged = staged
        merged.write.mode("overwrite").partitionBy("bucket").parquet(
            merge_root
        )
        for b in swap_buckets:
            staging = P(f"{merge_root}/bucket={b}")
            if not fs.exists(staging):
                # all of the bucket's rows were replaced by docs that now
                # extract to nothing: empty is the correct new state
                fs.mkdirs(staging)
            _swap_bucket_dir(fs, jvm, output_path, b, staging)
            rewritten += 1
        fs.delete(P(merge_root), True)
    ids.unpersist()
    fs.delete(stage_path, True)
    return {
        "buckets_rewritten": rewritten,
        "buckets_total": n_buckets,
        "docs_upserted": n_docs,
    }
