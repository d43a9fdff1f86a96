"""Steadiness self-check: two sets of runs of the same code, compared.

    python3 perfbench/run.py --steadiness [--out report.json]

Each set runs every workload of BENCHMARK.json ten times, each run a fresh
``run.py`` process with its own seed (set ``s`` uses seeds
``1000*s + 1 ..``). Per workload and end-to-end metric the report gives
each set's median and quartiles, the spread (quartile distance over the
median) against the metric's bound, and how far the second set's median
moved from the first's, in either direction. A metric passes when both
spreads and the move are within the bound; it is steady when both spreads
are below a third of the bound.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETS = 2
RUNS = 10


def _one(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", "0"]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    wall = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
    return {"workload": workload, "seed": seed, "exit": p.returncode,
            "run_s": wall, "result": res}


def _stats(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med, "values": values}


def main(args, spec: dict) -> int:
    names = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    runs = []
    for s in range(SETS):
        for w in names:
            for r in range(RUNS):
                one = _one(w, 1000 * s + r + 1, seconds)
                one["set"] = s
                runs.append(one)
                ok = one["result"] is not None and one["result"]["correct"]
                print(f"set {s} {w} seed {one['seed']}: "
                      f"{'ok' if ok else 'FAILED'} {one['run_s']:.1f}s",
                      file=sys.stderr, flush=True)

    report = {"sets": SETS, "runs_per_set": RUNS, "run_seconds": seconds,
              "workloads": {}}
    all_ok = all(r["result"] is not None and r["result"]["correct"]
                 for r in runs)
    steady = True
    for w in names:
        mine = [r for r in runs if r["workload"] == w and r["result"]]
        rows = {}
        for m in spec["end_to_end"]:
            per_set = [[r["result"]["metrics"][m["name"]]["value"]
                        for r in mine if r["set"] == s]
                       for s in range(SETS)]
            sets = [_stats(v) for v in per_set]
            first, second = sets[0]["median"], sets[1]["median"]
            move = (second - first) / first
            worst = max(st["spread"] for st in sets)
            ok = abs(move) <= m["bound"] and worst <= m["bound"]
            rows[m["name"]] = {
                "bound": m["bound"], "sets": sets,
                "pooled": _stats([v for vs in per_set for v in vs]),
                "median_move": move, "ok": ok,
                "steady": worst < m["bound"] / 3,
            }
            all_ok &= ok
            steady &= worst < m["bound"] / 3
            print(f"{w:14s} {m['name']:15s} "
                  + " ".join(f"med {st['median']:10.4g} spread "
                             f"{st['spread']:6.3f}" for st in sets)
                  + f" move {move:+.3f} bound {m['bound']}"
                  + ("" if ok else "  FAIL"))
        run_s = [r["run_s"] for r in runs if r["workload"] == w]
        report["workloads"][w] = {"metrics": rows,
                                  "mean_run_s": statistics.mean(run_s)}
    # a full schedule is 4 + 22 runs per workload
    per_run = [report["workloads"][w]["mean_run_s"] for w in names]
    report["est_schedule_s"] = 22 * sum(per_run) + 4 * max(per_run)
    report["ok"] = all_ok
    report["steady"] = steady
    report["runs"] = runs
    print(f"mean run s: {dict(zip(names, [round(x, 1) for x in per_run]))}"
          f"; est. schedule {report['est_schedule_s']:.0f}s; "
          f"ok={all_ok} steady={steady}")
    out = args.out or os.path.join(ROOT, ".perfbench", "steadiness.json")
    os.makedirs(os.path.dirname(os.path.abspath(out)), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    return 0 if all_ok else 1
