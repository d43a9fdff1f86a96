"""Resume, determinism-under-salting, and checkpoint lineage tests
(SURVEY.md §5 items 3 and 4; BASELINE.md resumability/skew rows)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from key_resource_table_extractor_spark import job

N_DOCS = 160


def sorted_pdf(df):
    return (
        df.orderBy("doc_id", "seq")
        .toPandas()
        .reset_index(drop=True)
    )


def test_resume_skips_completed_buckets(spark, tmp_path):
    inp = job.synthesize_spans(spark, N_DOCS, partitions=4)
    out1 = str(tmp_path / "out")
    cp = str(tmp_path / "cp")

    # clean full run → golden output
    gold_dir = str(tmp_path / "gold")
    job.run_extraction(
        spark, inp, gold_dir, str(tmp_path / "cp_gold"),
        run_id="gold", n_buckets=4, partitions_per_bucket=4,
    )
    gold = sorted_pdf(job.read_output(spark, gold_dir))

    # killed run: crash after bucket 1 commits
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run_extraction(
            spark, inp, out1, cp, run_id="r1", n_buckets=4,
            partitions_per_bucket=4, fail_after_bucket=1,
        )
    done = job.completed_buckets(spark, cp, "r1")
    assert done == {0, 1}

    # resume: only the remaining buckets run
    summary = job.run_extraction(
        spark, inp, out1, cp, run_id="r1", n_buckets=4, partitions_per_bucket=4
    )
    assert summary["buckets_skipped"] == 2
    assert summary["buckets_run"] == 2

    resumed = sorted_pdf(job.read_output(spark, out1))
    assert resumed.equals(gold)

    # checkpoint lineage is consistent
    cpdf = spark.read.parquet(cp).filter(F.col("run_id") == "r1")
    rows = {r["bucket"]: r for r in cpdf.collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert sum(r["n_docs"] for r in rows.values()) == N_DOCS
    for r in rows.values():
        assert r["status"] == "done"
        assert r["n_errors"] == 0
        assert r["doc_id_min"] <= r["doc_id_max"]


def test_bucket_subset_sharding(spark, tmp_path):
    """`buckets=` shards a run across invocations (the concurrent-
    orchestrator shape at large K): two half-runs + checkpoint equal one
    clean full run, and a third invocation has nothing left to do."""
    inp = job.synthesize_spans(spark, 80, partitions=2)
    out = str(tmp_path / "o")
    cp = str(tmp_path / "c")
    common = dict(n_buckets=4, partitions_per_bucket=2)
    s1 = job.run_extraction(spark, inp, out, cp, run_id="sh",
                            buckets=[0, 2], **common)
    s2 = job.run_extraction(spark, inp, out, cp, run_id="sh",
                            buckets=[1, 3], **common)
    assert s1["buckets_run"] == 2 and s2["buckets_run"] == 2
    # per-shard summaries are self-consistent: a re-run of ONE subset counts
    # only skips within that subset, not other shards' checkpoint rows
    s1b = job.run_extraction(spark, inp, out, cp, run_id="sh",
                             buckets=[0, 2], **common)
    assert s1b["buckets_run"] == 0 and s1b["buckets_skipped"] == 2, s1b
    full = job.run_extraction(spark, inp, out, cp, run_id="sh", **common)
    assert full["buckets_run"] == 0 and full["buckets_skipped"] == 4
    gold_dir = str(tmp_path / "g")
    job.run_extraction(spark, inp, gold_dir, str(tmp_path / "gc"),
                       run_id="g", **common)
    assert sorted_pdf(job.read_output(spark, out)).equals(
        sorted_pdf(job.read_output(spark, gold_dir))
    )


def test_determinism_across_salts_and_partitioning(spark):
    inp = job.synthesize_spans(spark, N_DOCS, partitions=3)
    a = sorted_pdf(
        job.data_spans(job.extract(job.salted_repartition(inp, 2, salt=0)))
    )
    b = sorted_pdf(
        job.data_spans(job.extract(job.salted_repartition(inp, 7, salt=123)))
    )
    assert a.equals(b)


def test_mega_doc_skew_present_and_handled(spark):
    # corpus plants mega docs ~1/97; make sure at least one exists and that
    # extraction still succeeds with bounded Arrow batches
    inp = job.synthesize_spans(spark, 200, partitions=4)
    sizes = inp.select(F.size("spans").alias("n")).agg(
        F.max("n").alias("mx"), F.expr("percentile(n, 0.5)").alias("med")
    ).collect()[0]
    assert sizes["mx"] > 10 * sizes["med"]
    out = job.data_spans(job.extract(job.salted_repartition(inp, 4, salt=1)))
    assert out.count() > 0


def test_read_output_prunes_bucket_partitions(spark, tmp_path):
    from key_resource_table_extractor_spark.plans.audit import explain_str

    inp = job.synthesize_spans(spark, 60, partitions=2)
    out_dir = str(tmp_path / "po")
    job.run_extraction(
        spark, inp, out_dir, str(tmp_path / "pcp"), run_id="pp",
        n_buckets=3, partitions_per_bucket=2,
    )
    pruned = job.read_output(spark, out_dir, buckets=[1])
    plan = explain_str(pruned)
    assert "PartitionFilters" in plan and "bucket" in plan
    all_rows = job.read_output(spark, out_dir).count()
    one = pruned.count()
    assert 0 < one < all_rows


def test_cli_nested_output_mode(spark, tmp_path):
    """--output-mode nested-colspans writes the S7 result-JSON table and
    every result parses into the reference wrapper shape."""
    import json as _json
    import subprocess
    import sys

    out = str(tmp_path / "nested")
    r = subprocess.run(
        [sys.executable, "scripts/run_job.py", "--n-docs", "60",
         "--out", out, "--checkpoint", str(tmp_path / "cp"),
         "--master", "local[2]", "--output-mode", "nested-colspans"],
        capture_output=True, text=True, cwd="/root/repo", timeout=300,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = _json.loads(r.stdout.strip().splitlines()[-1])
    assert summary["output_mode"] == "nested-colspans"
    rows = spark.read.parquet(out).collect()
    assert summary["output_rows"] == len(rows) > 0
    for row in rows:
        res = _json.loads(row["result"])
        assert res["paper_id"] == row["doc_id"]
        for page in res["result"]["pages"]:
            for tbl in page["tables"]:
                for cells in tbl["rows"]:
                    assert all(
                        set(c) >= {"content", "colspan"} for c in cells
                    )


def test_rerun_with_different_n_buckets_refused(spark, tmp_path):
    """Continuing a committed output with a different n_buckets would hash
    the remaining docs under a different bucket set — refused loudly."""
    from key_resource_table_extractor_spark import job

    inp = job.synthesize_spans(spark, 20, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="k1", n_buckets=4,
        partitions_per_bucket=2,
    )
    with pytest.raises(ValueError, match="n_buckets=4"):
        job.run_extraction(
            spark, inp, out, str(tmp_path / "cp"), run_id="k2", n_buckets=8,
            partitions_per_bucket=2,
        )
    # same K resumes fine
    s = job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="k1", n_buckets=4,
        partitions_per_bucket=2,
    )
    assert s["buckets_skipped"] == 4
    # legacy (pre-marker) output: committed dirs outside range(K) still
    # prove the mismatch
    import os

    os.remove(os.path.join(out, "_krt_n_buckets"))
    with pytest.raises(ValueError, match="holds bucket=3"):
        job.run_extraction(
            spark, inp, out, str(tmp_path / "cp"), run_id="k3", n_buckets=2,
            partitions_per_bucket=2,
        )
    # the refusal message names how much data constrains the K
    os.rename(
        os.path.join(str(tmp_path), "out"), os.path.join(str(tmp_path), "o2")
    )
    out2 = str(tmp_path / "o2")
    job._write_bucket_count_marker(spark, out2, 4)
    with pytest.raises(ValueError, match=r"4 bucket\(s\) committed"):
        job.run_extraction(
            spark, inp, out2, str(tmp_path / "cp"), run_id="k4", n_buckets=8,
            partitions_per_bucket=2,
        )


def test_mistyped_k_on_data_free_output_is_recoverable(spark, tmp_path):
    """A run launched with a mistyped K that dies before its first bucket
    commit leaves only the marker behind; nothing constrains the hash
    yet, so a relaunch with the corrected K plus the explicit adopt_k
    opt-in must run. WITHOUT the opt-in the relaunch refuses: the same
    filesystem state could be a live concurrent driver still computing
    its first bucket at the old K, and overwriting its marker would
    interleave mixed-K buckets."""
    from key_resource_table_extractor_spark import job

    out = str(tmp_path / "out")
    # simulate the dead run: marker persisted, zero buckets committed
    job._write_bucket_count_marker(spark, out, 40)
    inp = job.synthesize_spans(spark, 20, seed=42)
    with pytest.raises(ValueError, match="--adopt-k"):
        job.run_extraction(
            spark, inp, out, str(tmp_path / "cp"), run_id="fix",
            n_buckets=4, partitions_per_bucket=2,
        )
    with open(f"{out}/_krt_n_buckets") as fh:
        assert fh.read().strip() == "40"  # refusal left the marker alone
    s = job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="fix", n_buckets=4,
        partitions_per_bucket=2, adopt_k=True,
    )
    assert s["buckets_run"] == 4
    with open(f"{out}/_krt_n_buckets") as fh:
        assert fh.read().strip() == "4"
    assert job.read_output(spark, out).count() > 0


def test_staging_backup_blocks_k_adoption(spark, tmp_path):
    """An interrupted swap can leave the ONLY copy of a bucket under the
    .staging root (live dir retired, staged copy not yet committed). The
    output root then has a marker and zero bucket dirs — but it is NOT
    data-free, so a relaunch with a different K must refuse, not adopt —
    even when the operator passes the adopt_k opt-in."""
    import os
    import shutil

    from key_resource_table_extractor_spark import job

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 10, seed=42), out,
        str(tmp_path / "cp"), run_id="swp", n_buckets=1,
        partitions_per_bucket=2,
    )
    # simulate the retire-crash window: live bucket moved to .staging
    os.makedirs(f"{out}.staging", exist_ok=True)
    shutil.move(f"{out}/bucket=0", f"{out}.staging/bucket=0.old")
    with pytest.raises(ValueError, match="staging leftover"):
        job.run_extraction(
            spark, job.synthesize_spans(spark, 10, seed=42), out,
            str(tmp_path / "cp"), run_id="swp2", n_buckets=4,
            partitions_per_bucket=2, adopt_k=True,
        )
    # same K still heals via _recover_bucket on the next maintenance op
    stats = job.compact_output(spark, out)
    assert [s["bucket"] for s in stats] == [0]
    assert job.read_output(spark, out).count() > 0


def test_cli_maintenance_surface(spark, tmp_path):
    """scripts/maintain_output.py routes delete/upsert/compact to the job
    maintenance ops and reports their summaries."""
    import json as _json
    import subprocess
    import sys

    from key_resource_table_extractor_spark import job, synth
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 50, seed=42), out,
        str(tmp_path / "cp"), run_id="mcli", n_buckets=3,
        partitions_per_bucket=2,
    )
    changed = "doc_42_0000004"
    spark.createDataFrame(
        [(changed, [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in synth.generate_doc(changed, 9)
        ])],
        DOCUMENT_SPANS_SCHEMA,
    ).write.mode("overwrite").parquet(str(tmp_path / "changed"))

    def run(*argv):
        r = subprocess.run(
            [sys.executable, "scripts/maintain_output.py",
             "--master", "local[2]", *argv],
            capture_output=True, text=True, cwd="/root/repo", timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return _json.loads(r.stdout.strip().splitlines()[-1])

    gone = "doc_42_0000007"
    s = run("delete", "--out", out, "--doc-ids", gone)
    assert s["cmd"] == "delete" and s["rows_removed"] > 0
    gone_pq = "doc_42_0000011"
    spark.createDataFrame(
        [(gone_pq,)], "doc_id string"
    ).write.parquet(str(tmp_path / "del_ids"))
    s = run("delete", "--out", out, "--doc-ids-parquet",
            str(tmp_path / "del_ids"))
    assert s["cmd"] == "delete" and s["rows_removed"] > 0
    s = run("upsert", "--out", out, "--input", str(tmp_path / "changed"))
    assert s["cmd"] == "upsert" and s["docs_upserted"] == 1
    s = run("compact", "--out", out, "--target-mb", "256")
    assert s["cmd"] == "compact" and s["files_after"] == 3
    s = run("status", "--out", out)
    assert s["n_buckets_marker"] == 3 and s["buckets_present"] == 3
    assert s["buckets_missing"] == [] and s["staging_leftovers"] == []
    assert s["parquet_files"] == 3 and s["parquet_bytes"] > 0

    got = job.read_output(spark, out)
    assert got.where(F.col("doc_id") == gone).count() == 0
    assert got.where(F.col("doc_id") == gone_pq).count() == 0
    from key_resource_table_extractor_spark import oracle
    rows = [
        tuple(r)[1:] for r in got.where(F.col("doc_id") == changed)
        .orderBy("seq").drop("bucket").collect()
    ]
    assert rows == oracle.extract_document(synth.generate_doc(changed, 9))


def test_nested_mode_checkpoint_resume(spark, tmp_path):
    """Nested output under the bucket checkpoint: a crashed run resumes,
    skips committed buckets, and the final table equals a clean
    single-run export doc-for-doc."""
    from key_resource_table_extractor_spark import job

    inp = job.synthesize_spans(spark, 120, seed=42)
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    try:
        job.run_extraction(
            spark, inp, out, cp, run_id="nres", n_buckets=4,
            fail_after_bucket=1, output_mode="nested-colspans",
        )
        raise AssertionError("injected failure did not raise")
    except RuntimeError:
        pass
    summary = job.run_extraction(
        spark, inp, out, cp, run_id="nres", n_buckets=4,
        output_mode="nested-colspans",
    )
    assert summary["buckets_skipped"] == 2
    assert summary["buckets_run"] == 2
    got = {
        r["doc_id"]: r["result"]
        for r in job.read_output(spark, out).collect()
    }
    clean = {
        r["doc_id"]: r["result"]
        for r in job.extract_nested(inp, with_colspans=True).collect()
    }
    # docs with no detected tables emit no nested row on either path
    assert got == clean and len(got) > 0
    # the checkpoint counts every doc and span PROCESSED, not only the
    # docs that produced a nested row
    cp_rows = (
        job._read_checkpoint(spark, cp).where(F.col("run_id") == "nres")
        .agg(F.sum("n_docs").alias("docs"), F.sum("n_spans_in").alias("spans"))
        .first()
    )
    assert len(got) < 120
    assert cp_rows["docs"] == 120
    assert cp_rows["spans"] == inp.select(F.sum(F.size("spans"))).first()[0]


def test_compaction_preserves_rows_and_shrinks_files(spark, tmp_path):
    """compact_output rewrites each bucket into ~target-size files with
    byte-identical row content (spans survive exactly) and the output
    stays readable through read_output with partition pruning intact."""
    import os

    from key_resource_table_extractor_spark import job

    inp = job.synthesize_spans(spark, 200, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="cpk", n_buckets=3,
        partitions_per_bucket=8,
    )
    before = sorted(
        tuple(r) for r in job.read_output(spark, out).collect()
    )
    n_parquet_before = sum(
        1 for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b)) if f.endswith(".parquet")
    )
    stats = job.compact_output(spark, out, target_bytes=256 << 20)
    assert [s["bucket"] for s in stats] == [0, 1, 2]
    after = sorted(
        tuple(r) for r in job.read_output(spark, out).collect()
    )
    assert after == before
    n_parquet_after = sum(
        1 for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b)) if f.endswith(".parquet")
    )
    assert n_parquet_after == 3 < n_parquet_before  # tiny corpus → 1/bucket
    # files_after reports what actually landed in the live dirs, not the
    # computed repartition target
    assert sum(s["files_after"] for s in stats) == n_parquet_after
    # idempotent: a second pass keeps the same file count and rows
    job.compact_output(spark, out)
    assert sorted(
        tuple(r) for r in job.read_output(spark, out).collect()
    ) == before


def test_compact_reports_actual_files_when_fewer_than_target(spark, tmp_path):
    """A bucket with fewer rows than the computed file target emits fewer
    parquet files than repartition(n) asked for; the summary must report
    the real count (an operator sizing a 100 TB compaction trusts it)."""
    import os

    from key_resource_table_extractor_spark import job

    out = str(tmp_path / "out")
    spark.range(3).withColumn("doc_id", F.concat(F.lit("d"), "id")).coalesce(
        1
    ).write.parquet(f"{out}/bucket=0")
    # ~hundreds of bytes / 64 per file → target well above the 3 rows
    [stats] = job.compact_output(spark, out, target_bytes=64, buckets=[0])
    n_live = sum(
        1 for f in os.listdir(f"{out}/bucket=0") if f.endswith(".parquet")
    )
    computed_target = max(1, -(-stats["bytes"] // 64))
    assert stats["files_after"] == n_live < computed_target
    assert stats["files_before"] == 1
    assert [r["id"] for r in spark.read.parquet(f"{out}/bucket=0")
            .orderBy("id").collect()] == [0, 1, 2]


def test_delete_docs_is_bucket_pruned(spark, tmp_path):
    """delete_docs rewrites ONLY the buckets holding the target ids:
    their rows vanish, every other doc's rows survive exactly, and
    untouched bucket directories keep their files byte-identical."""
    import os

    from key_resource_table_extractor_spark import job

    inp = job.synthesize_spans(spark, 150, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="del", n_buckets=5,
        partitions_per_bucket=4,
    )
    all_docs = [
        r["doc_id"]
        for r in job.read_output(spark, out).select("doc_id")
        .distinct().collect()
    ]
    targets = sorted(all_docs)[:3]
    before = {
        r["doc_id"]
        for r in job.read_output(spark, out).select("doc_id").collect()
    }
    mtimes = {
        b: sorted(
            (f, os.path.getmtime(os.path.join(out, b, f)))
            for f in os.listdir(os.path.join(out, b))
            if f.endswith(".parquet")
        )
        for b in os.listdir(out) if b.startswith("bucket=")
    }
    stats = job.delete_docs(spark, out, targets)
    assert stats["rows_removed"] > 0
    assert 1 <= stats["buckets_rewritten"] <= 3 < stats["buckets_total"]
    after = {
        r["doc_id"]
        for r in job.read_output(spark, out).select("doc_id").collect()
    }
    assert after == before - set(targets)
    # untouched buckets: same files, same mtimes (never rewritten)
    from pyspark.sql import functions as FF
    target_buckets = {
        int(r["b"]) for r in spark.createDataFrame(
            [(t,) for t in targets], "doc_id string"
        ).select(
            FF.pmod(FF.xxhash64("doc_id"), FF.lit(5)).cast("int").alias("b")
        ).collect()
    }
    for b, files in mtimes.items():
        bid = int(b.split("=")[1])
        if bid not in target_buckets:
            now = sorted(
                (f, os.path.getmtime(os.path.join(out, b, f)))
                for f in os.listdir(os.path.join(out, b))
                if f.endswith(".parquet")
            )
            assert now == files, b


def test_delete_dry_run_predicts_real_run_and_touches_nothing(spark, tmp_path):
    """dry_run reports exactly the buckets and row counts the real delete
    then removes, without touching a single file (all mtimes identical),
    and ignores ids absent from the corpus."""
    import os

    from key_resource_table_extractor_spark import job

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 60, seed=42), out,
        str(tmp_path / "cp"), run_id="dry", n_buckets=4,
        partitions_per_bucket=2,
    )
    docs = sorted(
        r["doc_id"] for r in job.read_output(spark, out)
        .select("doc_id").distinct().collect()
    )
    targets = docs[:3] + ["doc_42_9999999"]  # one id not in the corpus
    mtimes = {
        (b, f): os.path.getmtime(os.path.join(out, b, f))
        for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b))
    }
    dry = job.delete_docs(spark, out, targets, dry_run=True)
    assert dry["dry_run"] is True and dry["buckets_total"] == 4
    assert dry["rows_to_remove"] > 0
    assert sum(n for _b, n in dry["rows_by_bucket"]) == dry["rows_to_remove"]
    after = {
        (b, f): os.path.getmtime(os.path.join(out, b, f))
        for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b))
    }
    assert after == mtimes  # read-only: nothing rewritten
    real = job.delete_docs(spark, out, targets)
    assert real["rows_removed"] == dry["rows_to_remove"]
    # the real run swaps EXACTLY the dry run's affected buckets: a
    # hash-affected bucket with zero matching rows keeps its files
    assert real["buckets_rewritten"] == len(dry["buckets_affected"])
    for (b, f), m in mtimes.items():
        if int(b.split("=")[1]) not in set(dry["buckets_affected"]):
            assert os.path.getmtime(os.path.join(out, b, f)) == m, (b, f)


def test_compact_dry_run_predicts_real_run_and_touches_nothing(
    spark, tmp_path
):
    """Compact dry-run (delete/upsert twin): filesystem metadata only —
    all mtimes untouched, a retired bucket counted from its .staging
    backup and LEFT retired — with files_target an upper bound on (and
    bytes/files_before an exact match of) the subsequent real run."""
    import shutil

    from key_resource_table_extractor_spark import job

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 60, seed=42), out,
        str(tmp_path / "cp"), run_id="cdry", n_buckets=3,
        partitions_per_bucket=4,
    )
    # retire one bucket mid-swap: dry-run must count its backup
    os.makedirs(f"{out}.staging", exist_ok=True)
    shutil.move(f"{out}/bucket=1", f"{out}.staging/bucket=1.old")
    mtimes = {
        (b, f): os.path.getmtime(os.path.join(out, b, f))
        for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b))
    }
    dry = job.compact_output(spark, out, target_bytes=1 << 20, dry_run=True)
    assert dry["dry_run"] is True
    assert [s["bucket"] for s in dry["buckets"]] == [0, 1, 2]
    assert all(s["files_before"] > 0 and s["bytes"] > 0
               for s in dry["buckets"])
    assert dry["files_before"] == sum(
        s["files_before"] for s in dry["buckets"]
    )
    after = {
        (b, f): os.path.getmtime(os.path.join(out, b, f))
        for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b))
    }
    assert after == mtimes  # read-only: nothing rewritten, no recovery
    assert os.path.exists(f"{out}.staging/bucket=1.old")  # still retired
    real = job.compact_output(spark, out, target_bytes=1 << 20)
    assert [s["bucket"] for s in real] == [0, 1, 2]
    for d, r in zip(dry["buckets"], real):
        assert d["bytes"] == r["bytes"]
        assert d["files_before"] == r["files_before"]
        assert r["files_after"] <= d["files_target"]  # documented bound
    # round-trip intact after recovery + compaction
    assert job.read_output(spark, out).count() > 0


def test_upsert_dry_run_reports_replace_new_split(spark, tmp_path):
    """Upsert dry-run: read-only (all mtimes untouched, no extraction),
    reporting how many input docs replace existing rows — and how many
    stale rows those hold — versus docs new to the corpus."""
    import os

    from key_resource_table_extractor_spark import job, synth
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 40, seed=42), out,
        str(tmp_path / "cp"), run_id="udry", n_buckets=3,
        partitions_per_bucket=2,
    )
    changed = ["doc_42_0000004", "doc_42_0000008"]
    new = ["doc_77_0000000"]
    upsert_input = spark.createDataFrame(
        [(d, [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in synth.generate_doc(d, 9)
        ]) for d in changed + new],
        DOCUMENT_SPANS_SCHEMA,
    )
    stale_rows = (
        spark.read.parquet(out)
        .where(F.col("doc_id").isin(changed)).count()
    )
    mtimes = {
        (b, f): os.path.getmtime(os.path.join(out, b, f))
        for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b))
    }
    dry = job.upsert_docs(spark, upsert_input, out, dry_run=True)
    assert dry["dry_run"] is True and dry["buckets_total"] == 3
    assert dry["docs_replacing"] == 2 and dry["docs_new"] == 1
    assert dry["rows_to_replace"] == stale_rows > 0
    assert dry["buckets_affected"]
    after = {
        (b, f): os.path.getmtime(os.path.join(out, b, f))
        for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b))
    }
    assert after == mtimes
    # empty input stays a no-op in dry-run shape too
    empty = job.upsert_docs(
        spark,
        spark.createDataFrame([], DOCUMENT_SPANS_SCHEMA),
        out,
        dry_run=True,
    )
    assert empty == {
        "dry_run": True, "buckets_total": 3, "buckets_affected": [],
        "docs_replacing": 0, "docs_new": 0, "rows_to_replace": 0,
    }


def test_delete_docs_via_dataframe_id_table(spark, tmp_path):
    """The mass-delete overload: ids arrive as a parquet-backed DataFrame
    (never materialized on the driver), affected buckets derive by
    aggregation, and the same bucket-local rewrite applies — verified at
    two bucket counts with untouched buckets byte-identical."""
    import os

    from key_resource_table_extractor_spark import job

    for k, n_docs in ((3, 60), (7, 90)):
        out = str(tmp_path / f"out{k}")
        job.run_extraction(
            spark, job.synthesize_spans(spark, n_docs, seed=42), out,
            str(tmp_path / f"cp{k}"), run_id=f"dfk{k}", n_buckets=k,
            partitions_per_bucket=2,
        )
        all_docs = sorted(
            r["doc_id"]
            for r in job.read_output(spark, out).select("doc_id")
            .distinct().collect()
        )
        targets = all_docs[:4]
        ids_path = str(tmp_path / f"ids{k}.parquet")
        spark.createDataFrame(
            [(t,) for t in targets], "doc_id string"
        ).write.parquet(ids_path)
        mtimes = {
            b: sorted(
                (f, os.path.getmtime(os.path.join(out, b, f)))
                for f in os.listdir(os.path.join(out, b))
                if f.endswith(".parquet")
            )
            for b in os.listdir(out) if b.startswith("bucket=")
        }
        stats = job.delete_docs(spark, out, spark.read.parquet(ids_path))
        assert stats["rows_removed"] > 0
        assert stats["buckets_total"] == k
        survivors = {
            r["doc_id"]
            for r in job.read_output(spark, out).select("doc_id").collect()
        }
        assert survivors == set(all_docs) - set(targets)
        from pyspark.sql import functions as FF
        target_buckets = {
            int(r["b"]) for r in spark.read.parquet(ids_path).select(
                FF.pmod(FF.xxhash64("doc_id"), FF.lit(k))
                .cast("int").alias("b")
            ).collect()
        }
        assert stats["buckets_rewritten"] == len(target_buckets)
        for b, files in mtimes.items():
            if int(b.split("=")[1]) not in target_buckets:
                now = sorted(
                    (f, os.path.getmtime(os.path.join(out, b, f)))
                    for f in os.listdir(os.path.join(out, b))
                    if f.endswith(".parquet")
                )
                assert now == files, (k, b)


def test_mass_delete_job_count_constant_in_buckets(spark, tmp_path):
    """VERDICT r6 task 1: the delete rewrite is BATCHED — across 32+
    affected buckets the whole data path is a constant handful of Spark
    jobs (hit-count pass + one staged partitionBy(bucket) write), not
    one-per-bucket; results equal the per-bucket semantics (survivors
    exact, untouched buckets byte-identical) and the dry-run numbers
    still predict the real run exactly."""
    from key_resource_table_extractor_spark import job

    k = 36
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 150, seed=42), out,
        str(tmp_path / "cp"), run_id="mass", n_buckets=k,
        partitions_per_bucket=1,
    )
    all_docs = sorted(
        r["doc_id"] for r in job.read_output(spark, out)
        .select("doc_id").distinct().collect()
    )
    targets = all_docs[:100]
    ids_path = str(tmp_path / "ids.parquet")
    spark.createDataFrame(
        [(t,) for t in targets], "doc_id string"
    ).write.parquet(ids_path)
    target_buckets = {
        int(r["b"]) for r in spark.read.parquet(ids_path).select(
            F.pmod(F.xxhash64("doc_id"), F.lit(k)).cast("int").alias("b")
        ).collect()
    }
    assert len(target_buckets) >= 32, "fixture must spread over 32+ buckets"
    mtimes = {
        (b, f): os.path.getmtime(os.path.join(out, b, f))
        for b in os.listdir(out) if b.startswith("bucket=")
        for f in os.listdir(os.path.join(out, b))
    }
    dry = job.delete_docs(
        spark, out, spark.read.parquet(ids_path), dry_run=True
    )
    sc = spark.sparkContext
    group = "krt-mass-delete"
    sc.setJobGroup(group, "batched delete under test")
    try:
        stats = job.delete_docs(spark, out, spark.read.parquet(ids_path))
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # pre-batching this was >= 1 job per affected bucket (>= 32 here);
    # the batched path is id-collect + hit-count + one staged write,
    # each possibly split into a few AQE stage-jobs
    assert 0 < n_jobs <= 16, n_jobs
    assert stats["buckets_rewritten"] == len(dry["buckets_affected"])
    assert stats["rows_removed"] == dry["rows_to_remove"]
    assert set(dry["buckets_affected"]) == target_buckets
    survivors = {
        r["doc_id"]
        for r in job.read_output(spark, out).select("doc_id").collect()
    }
    assert survivors == set(all_docs) - set(targets)
    for (b, f), m in mtimes.items():
        if int(b.split("=")[1]) not in target_buckets:
            assert os.path.getmtime(os.path.join(out, b, f)) == m, (b, f)
    # no staging leftovers after the batched swap loop
    assert job.output_status(spark, out)["staging_leftovers"] == []


def test_fully_deleted_bucket_is_legal_state_for_every_op(spark, tmp_path):
    """Review r7: a full-bucket delete swaps in a truly EMPTY directory
    (the batched partitionBy write emits no partition for it — reachable
    in the nested modes, whose buckets hold only (doc_id, result) rows).
    Every later operation must treat that as legal state, not a schema-
    inference crash: compact skips it, a second delete targeting it
    no-ops, dry-runs count it as zero, read_output still works, and an
    upsert can repopulate it."""
    from key_resource_table_extractor_spark import job, synth
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 40, seed=42), out,
        str(tmp_path / "cp"), run_id="emb", n_buckets=3,
        partitions_per_bucket=2, output_mode="nested",
    )
    b0_docs = [
        r["doc_id"] for r in job.read_output(spark, out)
        .where(F.col("bucket") == 0).select("doc_id").distinct().collect()
    ]
    assert b0_docs, "fixture needs a populated bucket 0"
    stats = job.delete_docs(spark, out, b0_docs)
    assert stats["buckets_rewritten"] == 1
    assert stats["rows_removed"] == len(b0_docs)
    # bucket 0 is now an empty dir with zero parquet files
    assert os.path.isdir(f"{out}/bucket=0")
    assert not [
        f for f in os.listdir(f"{out}/bucket=0") if f.endswith(".parquet")
    ]
    # read_output: schema comes from the surviving buckets
    assert job.read_output(spark, out).where(F.col("bucket") == 0).count() == 0
    # compact: dry-run reports zeros, real run skips the empty bucket
    dry = job.compact_output(spark, out, dry_run=True)
    empty_row = next(s for s in dry["buckets"] if s["bucket"] == 0)
    assert empty_row == {
        "bucket": 0, "bytes": 0, "files_before": 0, "files_target": 0
    }
    real = job.compact_output(spark, out)
    assert next(s for s in real if s["bucket"] == 0)["files_after"] == 0
    # delete targeting only the emptied bucket: clean no-op both ways
    dry2 = job.delete_docs(spark, out, b0_docs[:1], dry_run=True)
    assert dry2["buckets_affected"] == [] and dry2["rows_to_remove"] == 0
    real2 = job.delete_docs(spark, out, b0_docs[:1])
    assert real2 == {
        "buckets_rewritten": 0, "buckets_total": 3, "rows_removed": 0
    }
    # upsert repopulates the emptied bucket
    doc = b0_docs[0]
    spans = [
        {"kind": k, "text": t, "media_ref": m, "offset": o}
        for (k, t, m, o) in synth.generate_doc(doc)
    ]
    up = job.upsert_docs(
        spark,
        spark.createDataFrame([(doc, spans)], DOCUMENT_SPANS_SCHEMA),
        out,
        output_mode="nested",
    )
    assert up["buckets_rewritten"] == 1
    assert (
        job.read_output(spark, out).where(F.col("doc_id") == doc).count() == 1
    )


def test_maintenance_round_trip_equals_fresh_run(spark, tmp_path):
    """The composed invariant an operator actually relies on: after
    compact → delete → upsert on a committed output, the surviving corpus
    equals a FRESH full extraction of the equivalent input — row-set
    equality on the data contract, not just counts. (The per-op tests
    verify each step in isolation; this pins their composition.)"""
    from key_resource_table_extractor_spark import job, synth
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    n_docs, k = 80, 4
    all_ids = [f"doc_42_{i:07d}" for i in range(n_docs)]
    deleted = all_ids[5:10]
    changed = all_ids[20:23]
    new_ids = ["doc_99_0000000", "doc_99_0000001"]

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, n_docs, seed=42), out,
        str(tmp_path / "cp"), run_id="rt", n_buckets=k,
        partitions_per_bucket=2,
    )
    job.compact_output(spark, out)
    job.delete_docs(spark, out, deleted)

    def spans_rows(ids, variant):
        return [
            (d, [
                {"kind": kk, "text": t, "media_ref": m, "offset": o}
                for (kk, t, m, o) in synth.generate_doc(d, variant)
            ])
            for d in ids
        ]

    upsert_input = spark.createDataFrame(
        spans_rows(changed, 9) + spans_rows(new_ids, 9),
        DOCUMENT_SPANS_SCHEMA,
    )
    job.upsert_docs(spark, upsert_input, out)

    # the equivalent input: survivors at the original variant, changed +
    # new docs at the upserted variant
    survivors = [d for d in all_ids if d not in set(deleted) | set(changed)]
    fresh_input = spark.createDataFrame(
        spans_rows(survivors, 42) + spans_rows(changed, 9)
        + spans_rows(new_ids, 9),
        DOCUMENT_SPANS_SCHEMA,
    )
    fresh_out = str(tmp_path / "fresh")
    job.run_extraction(
        spark, fresh_input, fresh_out, str(tmp_path / "cp2"), run_id="rt2",
        n_buckets=k, partitions_per_bucket=2,
    )

    maintained = sorted(
        tuple(r) for r in job.read_output(spark, out).collect()
    )
    fresh = sorted(
        tuple(r) for r in job.read_output(spark, fresh_out).collect()
    )
    assert maintained == fresh
    # some docs legitimately extract zero data spans (no relevant table),
    # so the output doc set is a subset of the input — but never contains
    # a deleted doc, and is non-trivial
    got_docs = {t[0] for t in maintained}
    assert got_docs <= set(survivors + changed + new_ids)
    assert not got_docs & set(deleted)
    assert len(got_docs) > n_docs // 2


def test_upsert_docs_replaces_and_inserts(spark, tmp_path):
    """upsert_docs swaps in freshly-extracted rows for changed docs and
    inserts brand-new docs, leaving every other doc's rows (and every
    unaffected bucket's files) untouched."""
    import os

    from key_resource_table_extractor_spark import job, oracle, synth
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    inp = job.synthesize_spans(spark, 120, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="ups", n_buckets=5,
        partitions_per_bucket=4,
    )
    changed = ["doc_42_0000004", "doc_42_0000011"]
    brand_new = "doc_new_0000000"

    def spans_row(doc_id, seed):
        return (doc_id, [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in synth.generate_doc(doc_id, seed)
        ])

    upsert_in = spark.createDataFrame(
        [spans_row(d, 7) for d in changed] + [spans_row(brand_new, 7)],
        DOCUMENT_SPANS_SCHEMA,
    )
    before = {
        tuple(r) for r in job.read_output(spark, out).collect()
        if r["doc_id"] not in changed
    }
    mtimes = {
        b: sorted(
            (f, os.path.getmtime(os.path.join(out, b, f)))
            for f in os.listdir(os.path.join(out, b))
            if f.endswith(".parquet")
        )
        for b in os.listdir(out) if b.startswith("bucket=")
    }
    stats = job.upsert_docs(spark, upsert_in, out)
    assert stats["docs_upserted"] == 3
    assert 1 <= stats["buckets_rewritten"] <= 3
    assert stats["buckets_total"] == 5

    got = job.read_output(spark, out)
    # replaced + inserted docs carry the NEW content, oracle-exact
    for d in changed + [brand_new]:
        rows = [
            tuple(r)[1:] for r in got.where(F.col("doc_id") == d)
            .orderBy("seq").drop("bucket").collect()
        ]
        exp = oracle.extract_document(synth.generate_doc(d, 7))
        assert rows == exp, d
    # every untouched doc's rows survive exactly
    untouched_now = {
        tuple(r) for r in got.collect()
        if r["doc_id"] not in changed + [brand_new]
    }
    assert untouched_now == before
    # buckets holding none of the upserted docs were never rewritten
    target_buckets = {
        int(r["b"]) for r in spark.createDataFrame(
            [(d,) for d in changed + [brand_new]], "doc_id string"
        ).select(
            F.pmod(F.xxhash64("doc_id"), F.lit(5)).cast("int").alias("b")
        ).collect()
    }
    for b, files in mtimes.items():
        if int(b.split("=")[1]) not in target_buckets:
            now = sorted(
                (f, os.path.getmtime(os.path.join(out, b, f)))
                for f in os.listdir(os.path.join(out, b))
                if f.endswith(".parquet")
            )
            assert now == files, b
    # staged replacement rows cleaned up; no temp dirs inside the
    # partition-discovered output root
    assert not os.path.exists(out + ".staging/upsert_rows")
    assert all(
        job._BUCKET_DIR_RE.match(d) for d in os.listdir(out)
        if not d.startswith(("_", "."))  # Spark hides _* and .* entries
    )


def test_upsert_zero_output_doc_still_removes_stale_rows(spark, tmp_path):
    """A changed doc whose NEW content yields no extraction rows must
    still have its stale rows removed — the replace set comes from the
    input, not from the extraction output."""
    from key_resource_table_extractor_spark import job, oracle
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    inp = job.synthesize_spans(spark, 40, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="upz", n_buckets=3,
        partitions_per_bucket=2,
    )
    # pick a doc that currently HAS output rows
    changed = (
        job.read_output(spark, out).select("doc_id").distinct().head()["doc_id"]
    )
    tableless = [
        {"kind": "text", "text": "plain paragraph with no tables at all",
         "media_ref": None, "offset": 0},
        {"kind": "text", "text": "another prose line", "media_ref": None,
         "offset": 1},
    ]
    assert oracle.extract_document(
        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in tableless]
    ) == []
    stats = job.upsert_docs(
        spark,
        spark.createDataFrame([(changed, tableless)], DOCUMENT_SPANS_SCHEMA),
        out,
    )
    assert stats["docs_upserted"] == 1
    assert stats["buckets_rewritten"] == 1
    got = job.read_output(spark, out)
    assert got.where(F.col("doc_id") == changed).count() == 0


def test_flat_upsert_writes_the_error_row_a_run_writes(spark, tmp_path):
    """A flat upsert writes the rows a run writes: a changed doc whose new
    spans have a null offset is replaced by its one ``kind='error'`` row
    in the raw bucket, which ``read_output`` filters out."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.extractor.pipeline import (
        _SPAN_TYPE,
    )

    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 40, seed=42), out,
        str(tmp_path / "cp"), run_id="upe", n_buckets=3,
        partitions_per_bucket=2,
    )
    changed = (
        job.read_output(spark, out).select("doc_id").distinct().head()["doc_id"]
    )
    bad = [{"kind": "text", "text": "Antibody  Source  Identifier",
            "media_ref": "", "offset": None}]
    # pyarrow-written: Spark's row schema refuses a null offset
    inp = str(tmp_path / "changed.parquet")
    pq.write_table(pa.table({
        "doc_id": [changed], "spans": pa.array([bad], pa.list_(_SPAN_TYPE)),
    }), inp)
    job.upsert_docs(spark, job.read_spans(spark, inp), out)
    raw = spark.read.parquet(out).where(F.col("doc_id") == changed).collect()
    assert [(r["seq"], r["kind"]) for r in raw] == [(0, "error")]
    assert "null offset" in raw[0]["text"]
    assert job.read_output(spark, out).where(
        F.col("doc_id") == changed).count() == 0


def test_upsert_dry_run_buckets_affected_is_upper_bound(spark, tmp_path):
    """Documented asymmetry with delete's pre-flight: upsert dry_run's
    ``buckets_affected`` is an UPPER bound on the real ``buckets_
    rewritten``. A never-written bucket whose only upserted docs extract
    to zero rows is skipped by the real run, and the dry run cannot know
    that without running the extraction it exists to avoid."""
    from key_resource_table_extractor_spark import job, oracle
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    out = str(tmp_path / "out")
    # sharded output: bucket 2 of K=3 never written
    job.run_extraction(
        spark, job.synthesize_spans(spark, 30, seed=42), out,
        str(tmp_path / "cp"), run_id="ub", n_buckets=3,
        partitions_per_bucket=2, buckets=[0, 1],
    )
    assert not os.path.exists(f"{out}/bucket=2")
    # a NEW doc id hashing into the never-written bucket
    cands = spark.createDataFrame(
        [(f"newdoc_{i}",) for i in range(16)], "doc_id string"
    ).withColumn(
        "b", F.pmod(F.xxhash64("doc_id"), F.lit(3)).cast("int")
    ).collect()
    new_id = next(r["doc_id"] for r in cands if r["b"] == 2)
    tableless = [
        {"kind": "text", "text": "prose only, nothing tabular here",
         "media_ref": None, "offset": 0},
    ]
    assert oracle.extract_document(
        [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in tableless]
    ) == []
    upsert_in = spark.createDataFrame(
        [(new_id, tableless)], DOCUMENT_SPANS_SCHEMA
    )
    dry = job.upsert_docs(spark, upsert_in, out, dry_run=True)
    assert dry["buckets_affected"] == [2]  # the bound, not a prediction
    assert dry["docs_new"] == 1 and dry["docs_replacing"] == 0
    real = job.upsert_docs(spark, upsert_in, out)
    assert real["buckets_rewritten"] == 0  # strictly under the dry bound
    assert not os.path.exists(f"{out}/bucket=2")  # still never written


def test_maintenance_k_resolution(spark, tmp_path):
    """The writer's K comes from the _krt_n_buckets marker (survives any
    missing bucket dir); the directory-inference fallback is anchored
    (lookalike dirs don't count) and refuses a non-contiguous set; an
    explicit n_buckets always overrides."""
    import os
    import shutil

    from key_resource_table_extractor_spark import job

    inp = job.synthesize_spans(spark, 40, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="kpi", n_buckets=4,
        partitions_per_bucket=2,
    )
    assert os.path.exists(os.path.join(out, "_krt_n_buckets"))
    # a stray lookalike dir inside the root must not change K
    os.makedirs(os.path.join(out, "bucket=2.junk"))
    assert job.delete_docs(spark, out, ["doc_42_0000001"])["buckets_total"] == 4
    shutil.rmtree(os.path.join(out, "bucket=2.junk"))
    # marker survives losing the TOP bucket (dir inference alone can't)
    shutil.rmtree(os.path.join(out, "bucket=3"))
    assert job.delete_docs(spark, out, ["doc_42_0000002"])["buckets_total"] == 4
    # no marker (pre-marker output) + non-contiguous dirs: refuse loudly
    os.remove(os.path.join(out, "_krt_n_buckets"))
    shutil.rmtree(os.path.join(out, "bucket=1"))
    with pytest.raises(ValueError, match="not contiguous"):
        job.delete_docs(spark, out, ["doc_42_0000005"])
    stats = job.delete_docs(spark, out, ["doc_42_0000005"], n_buckets=4)
    assert stats["buckets_total"] == 4
    # explicit K must not bypass the missing-output check
    with pytest.raises(FileNotFoundError):
        job.delete_docs(spark, str(tmp_path / "nope"), ["x"], n_buckets=4)


def test_compact_recovers_interrupted_swap(spark, tmp_path):
    """A crash between retiring the live dir and committing the staged
    one leaves the data in the .staging backup; the next run restores it
    and completes — both the natural retry over every bucket and a run
    naming only the retired bucket."""
    import os

    from key_resource_table_extractor_spark import job

    inp = job.synthesize_spans(spark, 30, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="rec", n_buckets=2,
        partitions_per_bucket=2,
    )
    before = {
        tuple(r) for r in job.read_output(spark, out, buckets=[0]).collect()
    }
    # simulate the retire-then-crash window
    os.makedirs(out + ".staging", exist_ok=True)
    os.rename(os.path.join(out, "bucket=0"), out + ".staging/bucket=0.old")
    # the half-swapped state is invisible to readers of the root
    assert job.read_output(spark, out, buckets=[1]).count() > 0
    # the natural retry (no explicit subset) must enumerate the retired
    # bucket even though only its .staging backup exists
    stats = job.compact_output(spark, out)
    assert [s["bucket"] for s in stats] == [0, 1]
    after = {
        tuple(r) for r in job.read_output(spark, out, buckets=[0]).collect()
    }
    assert after == before
    assert not os.path.exists(out + ".staging/bucket=0.old")
    # the same window again, healed by a run naming only that bucket
    os.rename(os.path.join(out, "bucket=0"), out + ".staging/bucket=0.old")
    stats = job.compact_output(spark, out, buckets=[0])
    assert [s["bucket"] for s in stats] == [0]
    assert stats[0]["files_after"] == 1
    after = {
        tuple(r) for r in job.read_output(spark, out, buckets=[0]).collect()
    }
    assert after == before
    assert not os.path.exists(out + ".staging/bucket=0.old")


def test_upsert_docs_empty_input_is_noop(spark, tmp_path):
    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    inp = job.synthesize_spans(spark, 20, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="upe", n_buckets=2,
        partitions_per_bucket=2,
    )
    before = job.read_output(spark, out).count()
    stats = job.upsert_docs(
        spark, spark.createDataFrame([], DOCUMENT_SPANS_SCHEMA), out
    )
    assert stats == {
        "buckets_rewritten": 0, "buckets_total": 2, "docs_upserted": 0,
    }
    assert job.read_output(spark, out).count() == before


def test_upsert_docs_nested_mode(spark, tmp_path):
    """The nested result-JSON output accepts the same upsert: the changed
    doc's ``result`` is re-rendered from the new spans, other docs keep
    their rows, and the staged schema matches the committed one."""
    from key_resource_table_extractor_spark import job, synth
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    inp = job.synthesize_spans(spark, 60, seed=42)
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, inp, out, str(tmp_path / "cp"), run_id="upn", n_buckets=3,
        partitions_per_bucket=2, output_mode="nested-colspans",
    )
    changed = "doc_42_0000007"
    new_spans = spark.createDataFrame(
        [(changed, [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in synth.generate_doc(changed, 9)
        ])],
        DOCUMENT_SPANS_SCHEMA,
    )
    before = {
        r["doc_id"]: r["result"]
        for r in job.read_output(spark, out).collect()
    }
    stats = job.upsert_docs(
        spark, new_spans, out, output_mode="nested-colspans"
    )
    assert stats == {
        "buckets_rewritten": 1, "buckets_total": 3, "docs_upserted": 1,
    }
    after = {
        r["doc_id"]: r["result"]
        for r in job.read_output(spark, out).collect()
    }
    assert set(after) == set(before)
    expected = job.extract_nested(
        new_spans, with_colspans=True
    ).collect()[0]["result"]
    assert after[changed] == expected
    assert after[changed] != before[changed]
    for d, res in before.items():
        if d != changed:
            assert after[d] == res, d


def test_batched_compact_job_count_constant_in_buckets(spark, tmp_path):
    """VERDICT r7 task 2: compact_output's REAL run is batched like
    delete/upsert — one staged partitionBy(bucket) write for every
    bucket (constant Spark-job count across 32+ buckets), files_after
    bounded by the dry-run's files_target, rows byte-preserved, and
    buckets excluded from an explicit subset keep identical mtimes."""
    from key_resource_table_extractor_spark import job

    k = 36
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 150, seed=42), out,
        str(tmp_path / "cp"), run_id="cmp", n_buckets=k,
        partitions_per_bucket=2,
    )
    before_rows = sorted(
        map(tuple, job.read_output(spark, out).drop("bucket").collect())
    )
    dry = job.compact_output(spark, out, dry_run=True)
    assert len(dry["buckets"]) >= 32
    # subset discipline: compact all but two buckets; the excluded two
    # must stay byte-identical (mtimes)
    excluded = [s["bucket"] for s in dry["buckets"][:2]]
    subset = [s["bucket"] for s in dry["buckets"][2:]]
    mtimes = {
        (b, f): os.path.getmtime(os.path.join(out, f"bucket={b}", f))
        for b in excluded
        for f in os.listdir(os.path.join(out, f"bucket={b}"))
    }
    sc = spark.sparkContext
    group = "krt-mass-compact"
    sc.setJobGroup(group, "batched compact under test")
    try:
        stats = job.compact_output(spark, out, buckets=subset)
    finally:
        sc.setJobGroup("", "")
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # pre-batching this was one read+repartition+write job per bucket
    # (>= 34 here); batched it is one staged write (a few AQE stage-jobs)
    assert 0 < n_jobs <= 16, n_jobs
    target_by_bucket = {
        s["bucket"]: s["files_target"] for s in dry["buckets"]
    }
    for s in stats:
        assert s["files_after"] <= target_by_bucket[s["bucket"]], s
        assert s["files_after"] >= 1, s
    after_rows = sorted(
        map(tuple, job.read_output(spark, out).drop("bucket").collect())
    )
    assert after_rows == before_rows
    for b in excluded:
        for f in os.listdir(os.path.join(out, f"bucket={b}")):
            assert os.path.getmtime(
                os.path.join(out, f"bucket={b}", f)
            ) == mtimes[(b, f)], (b, f)
    # no staging leftovers after the batched swap loop
    assert job.output_status(spark, out)["staging_leftovers"] == []


def _spans_df(spark, doc_ids, variant):
    from key_resource_table_extractor_spark import synth
    from key_resource_table_extractor_spark.schemas import DOCUMENT_SPANS_SCHEMA

    return spark.createDataFrame(
        [(d, [
            {"kind": k, "text": t, "media_ref": m, "offset": o}
            for (k, t, m, o) in synth.generate_doc(d, variant)
        ]) for d in doc_ids],
        DOCUMENT_SPANS_SCHEMA,
    )


def _bucket_of(spark, doc_id, k):
    return spark.createDataFrame([(doc_id,)], "doc_id string").select(
        F.pmod(F.xxhash64("doc_id"), F.lit(k)).cast("int")
    ).first()[0]


def test_delete_and_upsert_on_retired_bucket(spark, tmp_path):
    """A bucket retired to .staging/bucket=N.old by an interrupted swap
    is still the bucket's data: the delete and upsert dry runs count it
    from the backup and touch nothing, and the real runs restore it,
    rewrite it and leave no .staging entries behind."""
    import shutil

    from key_resource_table_extractor_spark import job, oracle, synth

    k = 3
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 60, seed=42), out,
        str(tmp_path / "cp"), run_id="ret", n_buckets=k,
        partitions_per_bucket=2,
    )
    rows = job.read_output(spark, out)
    docs = sorted(
        r["doc_id"] for r in rows.select("doc_id").distinct().collect()
    )
    gone = docs[0]
    b = _bucket_of(spark, gone, k)
    changed = next(d for d in docs[1:] if _bucket_of(spark, d, k) == b)
    n_gone = rows.where(F.col("doc_id") == gone).count()
    n_changed = rows.where(F.col("doc_id") == changed).count()

    def retire():
        os.makedirs(f"{out}.staging", exist_ok=True)
        shutil.move(f"{out}/bucket={b}", f"{out}.staging/bucket={b}.old")

    def snapshot():
        return {
            os.path.join(d, f): os.path.getmtime(os.path.join(d, f))
            for d, _, fs in os.walk(str(tmp_path))
            if d.startswith((out, f"{out}.staging"))
            for f in fs
        }

    retire()
    before = snapshot()
    dry = job.delete_docs(spark, out, [gone], dry_run=True)
    assert dry["buckets_affected"] == [b]
    assert dry["rows_to_remove"] == n_gone > 0
    assert snapshot() == before  # read-only: the bucket stays retired
    real = job.delete_docs(spark, out, [gone])
    assert real == {
        "buckets_rewritten": 1, "buckets_total": k, "rows_removed": n_gone,
    }
    assert job.read_output(spark, out).where(
        F.col("doc_id") == gone
    ).count() == 0
    assert os.listdir(f"{out}.staging") == []

    retire()
    before = snapshot()
    upsert_in = _spans_df(spark, [changed], 9)
    dry = job.upsert_docs(spark, upsert_in, out, dry_run=True)
    assert dry["buckets_affected"] == [b]
    assert dry["docs_replacing"] == 1 and dry["docs_new"] == 0
    assert dry["rows_to_replace"] == n_changed > 0
    assert snapshot() == before
    real = job.upsert_docs(spark, upsert_in, out)
    assert real == {
        "buckets_rewritten": 1, "buckets_total": k, "docs_upserted": 1,
    }
    got = [
        tuple(r)[1:] for r in job.read_output(spark, out)
        .where(F.col("doc_id") == changed).orderBy("seq")
        .drop("bucket").collect()
    ]
    assert got == oracle.extract_document(synth.generate_doc(changed, 9))
    assert os.listdir(f"{out}.staging") == []
    assert job.output_status(spark, out)["buckets_missing"] == []


def test_failed_upsert_cleans_up_and_reruns(spark, tmp_path, monkeypatch):
    """A swap that raises mid-upsert propagates the error, leaves no
    upsert stage root under .staging, and a plain re-run of the upsert
    then gives the same output as an upsert that never failed."""
    from key_resource_table_extractor_spark import job

    k = 3
    src = job.synthesize_spans(spark, 40, seed=42)
    outs = {}
    for name in ("failed", "clean"):
        outs[name] = str(tmp_path / name)
        job.run_extraction(
            spark, src, outs[name], str(tmp_path / f"cp_{name}"),
            run_id=name, n_buckets=k, partitions_per_bucket=2,
        )
    # changed docs in at least two buckets, so one swap lands before the
    # injected failure
    ids = [f"doc_42_{i:07d}" for i in range(12)]
    changed = {}
    for d in ids:
        changed.setdefault(_bucket_of(spark, d, k), d)
    assert len(changed) >= 2
    upsert_in = _spans_df(spark, sorted(changed.values()), 9)

    real_swap = job._swap_bucket_dir
    calls = []

    def failing_swap(*args):
        calls.append(args)
        if len(calls) == 2:
            raise IOError("injected swap failure")
        return real_swap(*args)

    monkeypatch.setattr(job, "_swap_bucket_dir", failing_swap)
    with pytest.raises(IOError, match="injected swap failure"):
        job.upsert_docs(spark, upsert_in, outs["failed"])
    monkeypatch.setattr(job, "_swap_bucket_dir", real_swap)
    assert not [
        d for d in os.listdir(outs["failed"] + ".staging")
        if d.startswith("upsert_")
    ]
    job.upsert_docs(spark, upsert_in, outs["failed"])
    job.upsert_docs(spark, upsert_in, outs["clean"])
    got, want = (
        sorted(tuple(r) for r in job.read_output(spark, outs[n]).collect())
        for n in ("failed", "clean")
    )
    assert got == want
