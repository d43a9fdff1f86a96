"""CPU time and peak memory of this process and all its descendants.

Read from ``/proc``: the tree is the benchmark's Python process, the Spark
JVM it launches and the JVM's Python workers. CPU counts ``utime + stime``
plus ``cutime + cstime``, so a worker that exits and is reaped keeps its
time in its parent's tally.
"""

from __future__ import annotations

import os
import signal
import time

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    """(ppid, cpu ticks, start ticks, state) of ``pid``, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(b")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5)
    cpu = sum(int(x) for x in fields[11:15])
    return int(fields[1]), cpu, int(fields[19]), fields[0]


def tree(root: int | None = None) -> dict[int, tuple]:
    """pid → stat tuple of ``root`` (default: this process) and its
    descendants."""
    root = root or os.getpid()
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            s = _stat(int(name))
            if s is not None:
                stats[int(name)] = s
    kids: dict[int, list[int]] = {}
    for pid, s in stats.items():
        kids.setdefault(s[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(kids.get(pid, ()))
    return out


def cpu_seconds() -> float:
    return sum(s[1] for s in tree().values()) / _TICK


def _peak_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Phase:
    """Tree CPU seconds over a phase, and the sum over the tree of each
    process's peak RSS during it.

    Each process's peak (``VmHWM``) is reset when the phase starts, by
    writing 5 to ``/proc/<pid>/clear_refs``. The summed per-process peaks
    bound the peak of the summed RSS from above, and unlike sampling they
    miss no short spike of a worker."""

    def __enter__(self):
        for pid in tree():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass
        self._cpu0 = cpu_seconds()
        return self

    def __exit__(self, *exc):
        self.cpu_s = cpu_seconds() - self._cpu0
        self.peaks_kb = {p: _peak_kb(p) for p in tree()}
        self.peak_rss_mb = sum(self.peaks_kb.values()) / 1024
        return False


def wait_gone(procs: dict[int, tuple], timeout: float) -> None:
    """Wait until every (pid, start time) in ``procs`` has exited; kill the
    stragglers after ``timeout`` seconds and wait for them too."""
    def alive():
        return [p for p, s in procs.items()
                if (t := _stat(p)) is not None and t[2] == s[2]
                and t[3] != b"Z"]

    deadline = time.monotonic() + timeout
    while (left := alive()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10
    while alive() and time.monotonic() < deadline:
        time.sleep(0.05)
