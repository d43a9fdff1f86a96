#!/usr/bin/env python
"""CLI entry for the extraction job (spark-submit compatible).

Examples:
    python scripts/run_job.py --n-docs 2000 --out /tmp/krt_out \
        --checkpoint /tmp/krt_cp --run-id demo --buckets 8
    spark-submit --py-files krt_pkg.zip scripts/run_job.py --input spans.parquet ...

Crash -> resume -> verify (the end-to-end drive):
    # 1. inject a crash after bucket 1 commits (expect RuntimeError)
    python scripts/run_job.py --n-docs 1500 --out /tmp/o --checkpoint /tmp/c \
        --run-id demo --buckets 4 --fail-after-bucket 1
    # 2. SAME --run-id resumes: committed buckets skipped, rest run
    python scripts/run_job.py --n-docs 1500 --out /tmp/o --checkpoint /tmp/c \
        --run-id demo --buckets 4
    # expect {"buckets_skipped": 2, "buckets_run": 2, "output_rows": >0}

Reads either an existing (doc_id, spans) parquet table (--input) or a
deterministic synthetic corpus (--n-docs). Resumable: re-run with the same
--run-id/--checkpoint and completed buckets are skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

# local-run convenience; on a cluster --py-files makes the package importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv=None):
    p = argparse.ArgumentParser(
        description=__doc__,
        # keep the crash->resume example's line structure in --help
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument("--input", help="parquet path of (doc_id, spans) table")
    p.add_argument("--n-docs", type=int, default=0, help="synthesize N docs instead")
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--out", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--run-id", default=None)
    p.add_argument("--buckets", type=int, default=8)
    p.add_argument("--partitions", type=int, default=None,
                   help="partitions per bucket wave (default: the "
                        "session's default parallelism)")
    p.add_argument("--salt", type=int, default=0)
    p.add_argument("--master", default=None, help="e.g. local[8]")
    p.add_argument("--fail-after-bucket", type=int, default=None,
                   help="inject a crash after this bucket (resume testing)")
    p.add_argument("--adopt-k", action="store_true",
                   help="allow correcting a mistyped --buckets on a "
                        "data-free output (marker only, no bucket dirs, "
                        "no .staging leftovers); off by default because "
                        "the same state could be a concurrent driver "
                        "still computing its first bucket at the old K")
    p.add_argument("--bucket-subset", default=None,
                   help="comma-separated bucket ids to run (orchestrator "
                        "sharding); default: all")
    p.add_argument("--excepted-lines", default=None,
                   help="comma-separated per-doc text-line indices to drop "
                        "(negative = from end)")
    p.add_argument("--excepted-pages", default=None,
                   help="comma-separated detected-region indices to skip "
                        "(negative = from end)")
    p.add_argument("--row-model", default="votes",
                   choices=["votes", "anchor", "none"],
                   help="merge mechanism (default: votes)")
    p.add_argument("--gap-min-spaces", type=int, default=None,
                   help="space-run length that counts as a column gap "
                        "(default 2)")
    p.add_argument("--output-mode", default="spans",
                   choices=["spans", "nested", "nested-colspans"],
                   help="spans = checkpointed flat span table (default); "
                        "nested / nested-colspans = one result-JSON row per "
                        "doc (the reference's S7 sink shape), under the "
                        "same bucket checkpoint/resume discipline")
    p.add_argument("--midcol-rowspans", action="store_true",
                   help="(nested-colspans + anchor) also recover rowspans "
                        "carried by NON-col-0 cells; off by default "
                        "because the evidence (covered row empty in that "
                        "column) is indistinguishable from a genuinely "
                        "empty sparse-column cell")
    p.add_argument("--compact-target-mb", type=int, default=0,
                   help="after the run, rewrite each bucket directory "
                        "into ~N MB parquet files (0 = off)")
    args = p.parse_args(argv)

    def _ints(s):
        return [int(x) for x in s.split(",")] if s else None

    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.session import build_session

    spark = build_session(app_name="krt-run", master=args.master)
    try:
        if args.input:
            inp = job.read_spans(spark, args.input)
        elif args.n_docs:
            inp = job.synthesize_spans(spark, args.n_docs, seed=args.seed)
        else:
            p.error("one of --input / --n-docs required")
        # nested modes share the bucket checkpoint/resume discipline with
        # the flat path (same --buckets / --bucket-subset /
        # --fail-after-bucket semantics); the summary keeps output_mode
        t0 = time.time()
        summary = job.run_extraction(
            spark, inp, args.out, args.checkpoint, run_id=args.run_id,
            n_buckets=args.buckets, partitions_per_bucket=args.partitions,
            salt=args.salt, fail_after_bucket=args.fail_after_bucket,
            buckets=_ints(args.bucket_subset),
            excepted_lines=_ints(args.excepted_lines),
            excepted_pages=_ints(args.excepted_pages),
            row_model=args.row_model,
            gap_min_spaces=args.gap_min_spaces,
            output_mode=args.output_mode,
            adopt_k=args.adopt_k,
            midcol_rowspans=args.midcol_rowspans,
        )
        wall = time.time() - t0
        if args.compact_target_mb:
            # a sharded driver compacts ONLY its own buckets: another
            # shard may still be writing the rest
            stats = job.compact_output(
                spark, args.out,
                target_bytes=args.compact_target_mb << 20,
                buckets=_ints(args.bucket_subset),
            )
            summary["compacted_files"] = sum(s["files_after"] for s in stats)
        out_rows = job.read_output(spark, args.out).count()
        summary.update({"wall_sec": round(wall, 2), "output_rows": out_rows})
        if args.output_mode != "spans":
            summary["output_mode"] = args.output_mode
        print(json.dumps(summary))
    finally:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
