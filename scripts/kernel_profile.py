#!/usr/bin/env python
"""Per-stage CPU profile of the extraction kernel, one core, in process.

Builds one Arrow batch of N seeded synth docs and runs the production
extract step (``pipeline.make_extract_fn``) over it in each output mode.
Every kernel stage function is wrapped with a process-CPU timer, so one
pass yields the time of each stage:

- ``decode``: ``_decode_spans`` (Arrow batch → columns);
- ``segment_scan``, ``line_features``, ``in_table_pass``: the batch-wide
  line passes;
- ``region_build``: ``_build_regions`` (tables, columns, cells, row folds,
  rowspans, media routing);
- ``output_build``: ``_build_output`` (the output columns);
- ``sort_rest``: the rest of ``extract_columnar`` (validation, the span
  sort, line selection);
- ``extract_columnar``: the whole kernel call;
- ``encode``: the rest of the step (the flat batch, or
  ``nested_from_columnar`` and its JSON).

Prints one JSON object: per mode, the best of ``--passes`` process-CPU
passes of each stage, in s/kdoc (each stage's best taken separately).
The process is pinned to one CPU and Arrow to one thread.

Usage: python scripts/kernel_profile.py [--n-docs 2000] [--seed 1]
       [--passes 3] [--modes spans,nested,nested-colspans]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402

from key_resource_table_extractor_spark import synth  # noqa: E402
from key_resource_table_extractor_spark.extractor import pipeline  # noqa: E402

STAGES = {
    "segment_scan": "_segment_scan",
    "line_features": "_line_features",
    "in_table_pass": "_in_table_pass",
    "region_build": "_build_regions",
    "output_build": "_build_output",
}


def _timed(fn, acc: dict, name: str):
    def wrapper(*args, **kwargs):
        t = time.process_time()
        try:
            return fn(*args, **kwargs)
        finally:
            acc[name] = acc.get(name, 0.0) + time.process_time() - t
    return wrapper


def profile(n_docs: int, seed: int, passes: int, modes: list[str]) -> dict:
    batch = pipeline.encode_spans(synth.generate_columns(range(n_docs), seed))
    kdocs = n_docs / 1000
    acc: dict[str, float] = {}
    for name, attr in STAGES.items():
        setattr(pipeline, attr, _timed(getattr(pipeline, attr), acc, name))
    pipeline.extract_columnar = _timed(
        pipeline.extract_columnar, acc, "extract_columnar")
    result = {}
    for mode in modes:
        step = pipeline.make_extract_fn(mode)
        best: dict[str, float] = {}
        for _ in range(passes):
            acc.clear()
            t = time.process_time()
            columns = pipeline._decode_spans(batch)
            acc["decode"] = time.process_time() - t
            step(*columns)
            acc["total"] = time.process_time() - t
            acc["encode"] = (acc["total"] - acc["decode"]
                             - acc["extract_columnar"])
            acc["sort_rest"] = acc["extract_columnar"] - sum(
                acc.get(name, 0.0) for name in STAGES)
            for k, v in acc.items():
                best[k] = min(best.get(k, v), v)
        order = ["decode", "sort_rest", *STAGES, "extract_columnar",
                 "encode", "total"]
        result[mode] = {k: round(best.get(k, 0.0) / kdocs, 4) for k in order}
    return result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--n-docs", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--modes", default=",".join(pipeline.OUTPUT_MODES))
    args = ap.parse_args()
    os.sched_setaffinity(0, {min(os.sched_getaffinity(0))})
    pa.set_cpu_count(1)
    out = profile(args.n_docs, args.seed, args.passes, args.modes.split(","))
    print(json.dumps({"n_docs": args.n_docs, "seed": args.seed,
                      "passes": args.passes, "unit": "cpu_s_per_kdoc",
                      "modes": out}))


if __name__ == "__main__":
    main()
