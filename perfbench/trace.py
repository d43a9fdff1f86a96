"""In-memory span tracer for the benchmark's own calls into the package.

A span is (id, name, start, end, parent, run). Spans are kept in a list and
written as JSON once, when the run ends. Tracing lives only in the
benchmark: each span wraps one call that a benchmark file makes into a
public function of ``key_resource_table_extractor_spark``.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.perf_counter(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
        }
        rec.update(attrs)
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part its children cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered = 0.0
            edge = s["start"]
            for c in sorted(kids.get(s["id"], ()), key=lambda c: c["start"]):
                lo, hi = max(c["start"], edge), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    edge = hi
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        rows = [dict(s, self_s=selfs[s["id"]]) for s in self.spans]
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": rows}, f, indent=1)


def spark_job_counts(sc, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks of one ``setJobGroup`` group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            si = st.getStageInfo(sid)
            if si is None:  # never submitted (skipped: output reused)
                continue
            stages += 1
            tasks += si.numTasks
            failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks,
            "failed_tasks": failed}


@contextlib.contextmanager
def job_group(sc, tracer: Tracer, name: str):
    """A span whose Spark jobs run under their own job group; the span
    records the group's job, stage and task counts when it ends.

    With tracing off this records nothing and sets no job group."""
    with tracer.span(name) as rec:
        if rec is None:
            yield
            return
        group = f"{tracer.run_id}-{rec['id']}"
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            sc.setJobGroup("", "")
            rec.update(spark_job_counts(sc, group))
