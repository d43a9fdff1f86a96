#!/usr/bin/env python
"""Extra benchmarks (guide §1.4 noop-sink isolation) — NOT the frozen
headline bench. Used to attribute time inside composite query paths and to
A/B candidate optimizations. Results cited in OPTIMIZATION_r08.md.

Usage: python bench_extra.py <case> [...]
Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (same contract as bench.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402


def force(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, label, mk, passes=2):
    best = None
    for _ in range(passes):
        t0 = time.time()
        force(mk())
        dt = time.time() - t0
        best = dt if best is None else min(best, dt)
    print(json.dumps({"case": label, "sec": round(best, 3)}), flush=True)
    return best


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    cases = sys.argv[1:] or ["extract_decomp"]

    import __spark_entry__ as entry
    from key_resource_table_extractor_spark import job
    from key_resource_table_extractor_spark.session import build_session

    spark = build_session(
        app_name="krt-bench-extra",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    def _noop(it):
        for pdf in it:
            yield pdf

    spark.range(0, cpus * 10, numPartitions=cpus).mapInPandas(
        _noop, "id long"
    ).write.format("noop").mode("overwrite").save()

    sc = spark.sparkContext

    if "extract_decomp" in cases:
        # 1. synthesis only (scan -> mapInArrow generate_spans)
        sc.setJobDescription("synth only")
        timed(
            spark,
            "synth_only",
            lambda: entry._spans_from_documents(spark, sf_dir),
        )
        # 2. synthesis + salted repartition (adds the spans exchange)
        sc.setJobDescription("synth + salted repartition")
        timed(
            spark,
            "synth_salted",
            lambda: job.salted_repartition(
                entry._spans_from_documents(spark, sf_dir),
                sc.defaultParallelism,
            ),
        )
        # 3. full current flagship
        sc.setJobDescription("full extract_spans (current)")
        timed(
            spark,
            "extract_spans_current",
            lambda: entry.q_extract_spans(spark, sf_dir),
        )

    spark.stop()


if __name__ == "__main__":
    main()
