#!/usr/bin/env python3
"""The repo benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload bulk_flat --seed 1 --trace 0

Starts one Spark session on ``local[N]`` (N = usable cores, shuffle
partitions = N), makes the workload's inputs from ``--seed``, does one
untimed warm pass, then runs whole units of work back to back, one at a
time (a closed loop with one client): as many units as take ``--seconds``
on the development box.
Every output is checked afterwards; a wrong output makes the run exit 1.

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json; ``--trace 1``
alternates untraced and traced units, probes each layer, writes the spans
as JSON and prints the per-layer metrics. The last stdout line is the
result: ``{"correct", "attempted", "failed", "metrics"}``.

``--steadiness`` runs two sets of runs of every workload and compares
them against the bounds (see steady.py).

Everything the run writes stays under ``<checkout>/.perfbench``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")
RECONCILE_MARGIN = 0.25  # unit predicted from layer times vs untraced wall


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--steadiness", action="store_true")
    p.add_argument("--out")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep Spark's and Python's scratch files inside the checkout, and let
    the Python workers import the package from it."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = None


def _import_package():
    """The package under test must come from this checkout."""
    sys.path.insert(0, ROOT)
    import key_resource_table_extractor_spark as pkg

    where = os.path.dirname(os.path.abspath(pkg.__file__))
    if os.path.dirname(where) != ROOT:
        raise SystemExit(f"package imported from {where}, not {ROOT}")
    return pkg


def _stop(spark) -> None:
    """Stop Spark, its JVM and the JVM's Python workers; wait for each."""
    import proc

    procs = {p: s for p, s in proc.tree().items() if p != os.getpid()}
    gateway = spark.sparkContext._gateway
    spark.stop()
    jvm = getattr(gateway, "proc", None)
    gateway.shutdown()
    if jvm is not None:
        jvm.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            jvm.wait(timeout=30)
        except Exception:
            jvm.kill()
            jvm.wait()
    proc.wait_gone(procs, timeout=30)


def _map_in_processes(fn: str, args: list) -> list:
    """``checks.<fn>(a)`` for each ``a`` in its own Python process, all at
    once; each process is waited for before this returns."""
    import subprocess

    script = os.path.join(HERE, "checks.py")
    procs = [subprocess.Popen([sys.executable, script, fn, json.dumps(a)],
                              stdout=subprocess.PIPE) for a in args]
    outs = [p.communicate()[0] for p in procs]
    for p in procs:
        if p.returncode:
            raise RuntimeError(f"checks.{fn} exited {p.returncode}")
    return [json.loads(o) for o in outs]


def run(args, spec: dict) -> int:
    work = os.path.join(OUT_DIR, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _isolate(work)
    _import_package()
    import pandas
    import pyarrow
    import pyspark

    import proc
    from key_resource_table_extractor_spark.session import build_session
    from trace import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}")
    seconds = args.seconds or spec["run_seconds"]
    nproc = len(os.sched_getaffinity(0))
    master = f"local[{nproc}]"
    tracer = Tracer(f"{args.workload}-s{args.seed}-t{args.trace}")
    tracer.enabled = bool(args.trace)

    t = time.perf_counter()
    with tracer.span("session.build_session"):
        spark = build_session(
            app_name="perfbench", master=master, shuffle_partitions=nproc,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.driver.extraJavaOptions":
                    "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            })
    session_s = time.perf_counter() - t
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = types.SimpleNamespace(
            spark=spark, sc=spark.sparkContext, tracer=tracer, work=work,
            seed=args.seed, nproc=nproc, map_in_processes=_map_in_processes)
        wl = WORKLOADS[args.workload](ctx)

        t = time.perf_counter()
        wl.generate()
        gen_s = time.perf_counter() - t
        t = time.perf_counter()
        with tracer.span("bench.warm"):
            wl.warm()
        warm_s = time.perf_counter() - t

        # a fixed amount of work per run: as many units as fill `seconds`
        # at the development box's unit time, so a slow spell on the box
        # changes the time taken and not the work done
        n_units = max(1, round(seconds / wl.unit_s))
        if args.trace:
            # untraced and traced units alternate, first and last untraced,
            # so both kinds sit at the same mean position after the warm
            # pass and a linear drift of unit times cancels out of the
            # tracing overhead
            n_units = max(3, n_units | 1)
        jvm = spark.sparkContext._gateway.proc.pid
        with proc.Phase() as phase:
            for i in range(n_units):
                traced = bool(args.trace) and i % 2 == 1
                tracer.enabled = traced
                with tracer.span("bench.unit", index=i):
                    u = wl.unit(i)
                u["traced"] = traced
                wl.units.append(u)
        tracer.enabled = bool(args.trace)

        with tracer.span("bench.check"):
            checked = wl.check()
        layers = {}
        if args.trace:
            with tracer.span("bench.probe"):
                wl.probe(layers)
        info = wl.input_info()
    finally:
        _stop(spark)

    docs = sum(u["docs"] for u in wl.units)
    failed = sum(checked.pop("failed_per_unit"))
    e2e = {
        "setup_s": session_s + gen_s + warm_s,
        "docs_per_s": docs / sum(u["wall_s"] for u in wl.units),
        "resume_s": statistics.mean(u["complete_s"] for u in wl.units),
        "cpu_s_per_kdoc": phase.cpu_s / (docs / 1000),
        "peak_rss_mb": phase.peak_rss_mb,
    }
    info.update(
        workload=args.workload, seed=args.seed, seconds=seconds,
        master=master, nproc=nproc, shuffle_partitions=nproc,
        units=len(wl.units), unit_walls=[u["wall_s"] for u in wl.units],
        attempted_docs=docs, failed_docs=failed,
        failed_share=failed / docs, checks=checked,
        setup={"session_s": session_s, "generate_s": gen_s,
               "warm_s": warm_s},
        peak_rss_mb_jvm=phase.peaks_kb.get(jvm, 0) / 1024,
        peak_rss_mb_self=phase.peaks_kb.get(os.getpid(), 0) / 1024,
        versions={"spark": pyspark.__version__,
                  "pyarrow": pyarrow.__version__,
                  "pandas": pandas.__version__,
                  "python": platform.python_version()},
    )
    for u in wl.units:
        for key in ("buckets_skipped", "redo_docs"):
            if key in u:
                info.setdefault(key, []).append(u[key])

    if args.trace:
        untraced = [u["wall_s"] for u in wl.units if not u["traced"]]
        traced = [u["wall_s"] for u in wl.units if u["traced"]]
        base = statistics.mean(untraced)
        predicted = sum(wl.reconcile_terms.values())
        gap = abs(predicted - base) / base
        layers["session.build_session.s"] = session_s
        gens = tracer.named("synth.corpus")
        layers["synth.corpus.s"] = statistics.mean(
            s["end"] - s["start"] for s in gens) if gens else 0.0
        layers["proc.peak_rss_mb"] = phase.peak_rss_mb
        layers["proc.peak_rss_mb_jvm"] = info["peak_rss_mb_jvm"]
        layers["trace.overhead_s"] = statistics.mean(traced) - base
        layers["trace.reconcile_gap_share"] = gap
        layers["trace.spans"] = len(tracer.spans)
        info.update(reconcile_terms=wl.reconcile_terms,
                    reconcile_predicted_s=predicted,
                    reconcile_untraced_s=base,
                    reconcile_margin=RECONCILE_MARGIN,
                    reconciled=gap <= RECONCILE_MARGIN)
        metric_spec = spec["per_layer"]
        # a layer the workload never calls spent no time and did no work
        values = {m["name"]: layers.get(m["name"], 0.0) for m in metric_spec}
    else:
        metric_spec = spec["end_to_end"]
        values = {m["name"]: e2e[m["name"]] for m in metric_spec}
    info["end_to_end"] = e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in metric_spec}

    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    for sub in ("results", "traces"):
        os.makedirs(os.path.join(OUT_DIR, sub), exist_ok=True)
    if args.trace:
        tracer.dump(os.path.join(OUT_DIR, "traces", f"{tag}.json"))
    with open(os.path.join(OUT_DIR, "results", f"{tag}.json"), "w") as f:
        json.dump({"info": info, "layers": layers, "metrics": metrics}, f,
                  indent=1)
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"info": info}))
    for name, v in metrics.items():
        print(f"{name} = {v['value']:.6g} {v['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": docs,
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    spec = load_spec()
    if args.steadiness:
        import steady

        return steady.main(args, spec)
    if not args.workload:
        raise SystemExit("--workload is required")
    return run(args, spec)


if __name__ == "__main__":
    sys.exit(main())
