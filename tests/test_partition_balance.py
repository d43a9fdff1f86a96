"""Placement balance: the wave exchange gives each of n partitions about
1/n of the docs (so every core extracts and a wave writes one file per
partition), and compaction writes one file per (bucket, slot)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from key_resource_table_extractor_spark import job

N_DOCS = 6000


@pytest.fixture(scope="module")
def spans_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("balance") / "spans")
    job.synthesize_spans(spark, N_DOCS, seed=1).write.parquet(path)
    return path


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(path))


@pytest.mark.parametrize("n", [4, 8, 16])
@pytest.mark.parametrize("salt", [0, 1])
def test_salted_repartition_fills_every_partition(spark, spans_parquet, n,
                                                  salt):
    counts = [
        r["count"] for r in job.salted_repartition(
            job.read_spans(spark, spans_parquet), n, salt
        ).groupBy(F.spark_partition_id()).count().collect()
    ]
    assert sum(counts) == N_DOCS
    assert len(counts) == n, f"{n - len(counts)} of {n} partitions empty"
    assert max(counts) <= 1.3 * N_DOCS / n, counts


def test_one_bucket_wave_writes_one_file_per_partition(spark, spans_parquet,
                                                       tmp_path):
    """A one-bucket wave is filtered on the bucket hash; the exchange key
    must not depend on it, or the wave lands on a few partitions."""
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.read_spans(spark, spans_parquet), out,
        str(tmp_path / "cp"), run_id="bal", n_buckets=4,
        partitions_per_bucket=4, buckets=[2],
    )
    assert _parquet_files(f"{out}/bucket=2") == 4


@pytest.mark.parametrize("k,files_per_bucket", [(1, 4), (4, 8)])
def test_compaction_meets_files_target_when_every_slot_has_rows(
        spark, tmp_path, k, files_per_bucket):
    """Every (bucket, slot) pair gets its own file: slots come from a hash
    independent of the bucket's, and no two pairs share a task."""
    out = str(tmp_path / "out")
    job.run_extraction(
        spark, job.synthesize_spans(spark, 400, seed=3), out,
        str(tmp_path / "cp"), run_id="cmp", n_buckets=k,
        partitions_per_bucket=2,
    )
    dry = job.compact_output(spark, out, dry_run=True)
    target = min(b["bytes"] for b in dry["buckets"]) // files_per_bucket
    dry = job.compact_output(spark, out, target_bytes=target, dry_run=True)
    before = sorted(tuple(r) for r in job.read_output(spark, out).collect())
    stats = job.compact_output(spark, out, target_bytes=target)
    want = {b["bucket"]: b["files_target"] for b in dry["buckets"]}
    assert min(want.values()) >= files_per_bucket
    assert {s["bucket"]: s["files_after"] for s in stats} == want
    for b, n in want.items():
        assert _parquet_files(f"{out}/bucket={b}") == n
    assert sorted(
        tuple(r) for r in job.read_output(spark, out).collect()
    ) == before
