"""Output checks, run after the timed phase, one process per core:

    python3 perfbench/checks.py check_flat '<json args>'

Each process takes every ``nparts``-th input doc, runs the pure-Python
``oracle.extract_document`` on its spans and compares the committed output
of the job with it. The oracle runs once per doc; every timed output is
compared against it.
"""

from __future__ import annotations

import json
import os
import sys

import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from key_resource_table_extractor_spark import oracle, spec  # noqa: E402


def _input_slice(in_path: str, part: int, nparts: int) -> dict[str, list]:
    t = pq.read_table(in_path)
    t = t.take(list(range(part, t.num_rows, nparts)))
    return {
        d: [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in sp]
        for d, sp in zip(t.column("doc_id").to_pylist(),
                         t.column("spans").to_pylist())
    }


def _output(out_dir: str, ids: list[str], columns: list[str]):
    data = ds.dataset(out_dir, format="parquet", partitioning="hive")
    return data.to_table(
        columns=columns, filter=pc.field("doc_id").isin(ids)
    ).to_pylist()


def check_flat(args) -> dict:
    """Every doc's committed spans, per output dir, must equal the oracle's
    span sequence exactly (which implies equal per-doc span counts)."""
    in_path, out_dirs, part, nparts = args
    docs = _input_slice(in_path, part, nparts)
    ids = list(docs)
    expect = {d: oracle.extract_document(sp) for d, sp in docs.items()}
    failed = []
    spans_out = error_docs = 0
    for out_dir in out_dirs:
        got: dict[str, list] = {d: [] for d in ids}
        errors = set()
        for r in _output(out_dir, ids, ["doc_id", "seq", "kind", "text",
                                        "media_ref", "offset"]):
            if r["kind"] == "error":
                errors.add(r["doc_id"])
            elif r["kind"] in (spec.KIND_TEXT, spec.KIND_MEDIA):
                got[r["doc_id"]].append((r["seq"], r["kind"], r["text"],
                                         r["media_ref"], r["offset"]))
        bad = 0
        for d in ids:
            rows = sorted(got[d])
            spans_out += len(rows)
            bad += d in errors or rows != expect[d]
        error_docs += len(errors)
        failed.append(bad)
    return {"docs": len(ids), "failed": failed, "error_docs": error_docs,
            "spans_in": sum(len(sp) for sp in docs.values()),
            "spans_out": spans_out}


def _cells(result: str) -> list[str]:
    doc = json.loads(result)
    return [c for page in doc["result"]["pages"]
            for table in page["tables"] for row in table["rows"]
            for c in row]


def check_nested(args) -> dict:
    """Each doc's nested cells must equal the oracle's flat text spans in
    traversal order, and each resumed row, bucket included, must equal the
    uninterrupted reference run's row for that doc."""
    in_path, out_dir, ref_dir, part, nparts = args
    docs = _input_slice(in_path, part, nparts)
    ids = list(docs)
    cols = ["doc_id", "result", "bucket"]
    rows = _output(out_dir, ids, cols)
    got = {r["doc_id"]: r for r in rows}
    ref = {r["doc_id"]: r for r in _output(ref_dir, ids, cols)}
    bad = 0
    for d, sp in docs.items():
        texts = [t for _s, k, t, _m, _o in oracle.extract_document(sp)
                 if k == spec.KIND_TEXT]
        row = got.get(d)
        if row is None:
            bad += bool(texts) or d in ref  # a doc without tables has no row
            continue
        bad += _cells(row["result"]) != texts or row != ref.get(d)
    return {"docs": len(ids), "failed": [bad + len(rows) - len(got)],
            "spans_in": sum(len(sp) for sp in docs.values())}


def merge(parts: list[dict]) -> dict:
    out = {"docs": 0, "failed": [0] * len(parts[0]["failed"])}
    for p in parts:
        out["docs"] += p["docs"]
        out["failed"] = [a + b for a, b in zip(out["failed"], p["failed"])]
        for k, v in p.items():
            if k not in ("docs", "failed"):
                out[k] = out.get(k, 0) + v
    return out


if __name__ == "__main__":
    fn = {"check_flat": check_flat, "check_nested": check_nested}[sys.argv[1]]
    print(json.dumps(fn(json.loads(sys.argv[2]))))
