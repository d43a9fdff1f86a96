#!/usr/bin/env python
"""Maintenance CLI for a committed bucketed extraction output
(spark-submit compatible) — the operational surface for the
compact / delete / upsert trio in ``job.py``.

Examples:
    python scripts/maintain_output.py compact --out /tmp/krt_out \
        --target-mb 256 --bucket-subset 0,1
    python scripts/maintain_output.py delete --out /tmp/krt_out \
        --doc-ids doc_42_0000004,doc_42_0000011
    python scripts/maintain_output.py delete --out /tmp/krt_out \
        --doc-ids-file bad_docs.txt
    python scripts/maintain_output.py delete --out /tmp/krt_out \
        --doc-ids-parquet policy_sweep_ids.parquet --dry-run
    python scripts/maintain_output.py upsert --out /tmp/krt_out \
        --input changed_docs.parquet --output-mode spans

``upsert --input`` is a (doc_id, spans) parquet table holding ONLY the
changed/new documents; extraction options (--row-model etc.) should match
the original run's so replacement rows follow the same config. All three
commands are bucket-local: untouched bucket directories keep their files
byte-identical, and none of them is a lineage event (the checkpoint table
is never modified).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# local-run convenience; on a cluster --py-files makes the package importable
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ints(s):
    return [int(x) for x in s.split(",")] if s else None


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--master", default=None, help="e.g. local[8]")
    sub = p.add_subparsers(dest="cmd", required=True)

    s = sub.add_parser("status", help="per-bucket file/byte summary "
                                      "(filesystem metadata only, no jobs)")
    s.add_argument("--out", required=True)

    c = sub.add_parser("compact", help="rewrite buckets into ~N MB files")
    c.add_argument("--out", required=True)
    c.add_argument("--target-mb", type=int, default=256)
    c.add_argument("--bucket-subset", default=None,
                   help="comma-separated bucket ids (shard drivers MUST "
                        "pass their own subset); default: all committed")
    c.add_argument("--dry-run", action="store_true",
                   help="read-only pre-flight: per-bucket files/bytes "
                        "today and the computed files_target (an upper "
                        "bound on the real files_after); no Spark jobs, "
                        "no writes")

    d = sub.add_parser("delete", help="remove documents by id (RTBF)")
    d.add_argument("--out", required=True)
    d.add_argument("--doc-ids", default=None,
                   help="comma-separated document ids")
    d.add_argument("--doc-ids-file", default=None,
                   help="file with one document id per line")
    d.add_argument("--doc-ids-parquet", default=None,
                   help="parquet path with a doc_id column (mass deletes: "
                        "the ids stay distributed, never on the driver)")
    d.add_argument("--n-buckets", type=int, default=None,
                   help="writer's bucket count (only needed for a "
                        "pre-marker partial output)")
    d.add_argument("--dry-run", action="store_true",
                   help="report affected buckets and rows to remove in "
                        "one read-only pass; no rewrites")

    u = sub.add_parser("upsert", help="re-extract and replace changed docs")
    u.add_argument("--out", required=True)
    u.add_argument("--input", required=True,
                   help="parquet path of the changed docs' (doc_id, spans)")
    u.add_argument("--output-mode", default="spans",
                   choices=["spans", "nested", "nested-colspans"])
    u.add_argument("--row-model", default="votes",
                   choices=["votes", "anchor", "none"])
    u.add_argument("--midcol-rowspans", action="store_true",
                   help="match a corpus written with run_job.py "
                        "--midcol-rowspans (replacement rows must follow "
                        "the original run's extraction config)")
    u.add_argument("--gap-min-spaces", type=int, default=None)
    u.add_argument("--excepted-lines", default=None)
    u.add_argument("--excepted-pages", default=None)
    u.add_argument("--n-buckets", type=int, default=None)
    u.add_argument("--dry-run", action="store_true",
                   help="read-only pre-flight: affected buckets, docs "
                        "replacing vs new, stale rows to replace; no "
                        "extraction, no writes")

    args = p.parse_args(argv)

    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.session import build_session

    spark = build_session(app_name="krt-maintain", master=args.master)
    try:
        if args.cmd == "status":
            summary = {"cmd": "status"} | job.output_status(spark, args.out)
        elif args.cmd == "compact":
            stats = job.compact_output(
                spark, args.out, target_bytes=args.target_mb << 20,
                buckets=_ints(args.bucket_subset),
                dry_run=args.dry_run,
            )
            if args.dry_run:
                summary = {"cmd": "compact"} | stats
            else:
                summary = {
                    "cmd": "compact",
                    "buckets_rewritten": len(stats),
                    "files_before": sum(s["files_before"] for s in stats),
                    "files_after": sum(s["files_after"] for s in stats),
                }
        elif args.cmd == "delete":
            srcs = [args.doc_ids, args.doc_ids_file, args.doc_ids_parquet]
            if sum(bool(s) for s in srcs) != 1:
                p.error("delete needs exactly one of --doc-ids / "
                        "--doc-ids-file / --doc-ids-parquet")
            if args.doc_ids_parquet:
                ids = spark.read.parquet(args.doc_ids_parquet)
            elif args.doc_ids:
                ids = [x.strip() for x in args.doc_ids.split(",") if x.strip()]
            else:
                with open(args.doc_ids_file) as fh:
                    ids = [ln.strip() for ln in fh if ln.strip()]
            summary = {"cmd": "delete"} | job.delete_docs(
                spark, args.out, ids, n_buckets=args.n_buckets,
                dry_run=args.dry_run,
            )
        else:
            summary = {"cmd": "upsert"} | job.upsert_docs(
                spark,
                job.read_spans(spark, args.input),
                args.out,
                output_mode=args.output_mode,
                n_buckets=args.n_buckets,
                dry_run=args.dry_run,
                row_model=args.row_model,
                gap_min_spaces=args.gap_min_spaces,
                excepted_lines=_ints(args.excepted_lines),
                excepted_pages=_ints(args.excepted_pages),
                midcol_rowspans=args.midcol_rowspans,
            )
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
