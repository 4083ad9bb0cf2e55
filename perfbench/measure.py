"""Host facts, process-tree CPU/RSS accounting, spans and statistics.

Nothing here imports Spark: the tests drive these pieces directly.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager, nullcontext

_TICK = os.sysconf("SC_CLK_TCK")


# --- host ---------------------------------------------------------------------

def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb(mem_mb: int) -> int:
    """An eighth of the host's RAM, between 1 and 16 GiB: the driver is
    also the only executor in local mode, the Python workers and the
    page cache need the rest, and the benchmark's inputs are small."""
    return max(1024, min(mem_mb // 8, 16384))


def loadavg() -> list:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def cpu_times() -> list:
    """Aggregate /proc/stat jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list, after: list) -> float:
    delta = [a - b for a, b in zip(after, before)]
    total = sum(delta)
    return delta[7] / total if total else 0.0


def process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / _TICK


# --- process tree ---------------------------------------------------------------

def _proc_table() -> dict:
    """{pid: (ppid, cpu_s)}; cpu counts reaped children too (cutime +
    cstime), so a worker that exits keeps its CPU in the tree through
    the parent that waited for it."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = s[s.rindex(")") + 2:].split()
        out[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: each resident page divided by the number
    of processes mapping it.  Summed over a tree it counts once what
    forked processes share (a JVM caught between fork and exec, Python
    workers forked from their daemon), which summed RSS counts twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_sample(root: int) -> tuple:
    """(cpu_s, pss_bytes) of ``root`` and all its live descendants."""
    table = _proc_table()
    kids: dict = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    cpu = mem = 0
    stack = [root]
    while stack:
        pid = stack.pop()
        if pid in table:
            cpu += table[pid][1]
            mem += _pss_bytes(pid)
            stack.extend(kids.get(pid, ()))
    return cpu, mem


class TreeMonitor:
    """Samples the process tree's resident memory (as PSS) in the
    background, for the peak, and its CPU on demand, for per-op deltas."""

    def __init__(self, root: int | None = None, interval_s: float = 0.25):
        self.root = root or os.getpid()
        self.peak_rss = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, args=(interval_s,), daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self, interval_s: float) -> None:
        while not self._stop.wait(interval_s):
            self.cpu()

    def cpu(self) -> float:
        cpu, rss = tree_sample(self.root)
        self.peak_rss = max(self.peak_rss, rss)
        return cpu


# --- spans ------------------------------------------------------------------------

class Tracer:
    """Spans (name, start, end, parent, op id) kept in memory around the
    benchmark's calls into the program.  A span's layer is the first
    dotted component of its name.  Disabled, ``span`` is a no-op."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self.op_id = None
        self._stack: list = []

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"name": name, "start": time.perf_counter(), "end": None,
                           "parent": parent, "op": self.op_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> list:
        """Each span's duration minus the time its child spans cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return [s["end"] - s["start"] - c for s, c in zip(self.spans, child)]

    def durations(self, name: str, ops=None) -> list:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and (ops is None or s["op"] in ops)]


# --- statistics -------------------------------------------------------------------

def tail(values: list, min_beyond: int = 10) -> tuple:
    """(value, percentile, samples beyond it): the highest whole
    percentile that leaves at least ``min_beyond`` samples above it.
    With too few samples for any, the maximum (percentile 100, 0 beyond)."""
    xs = sorted(values)
    n = len(xs)
    if n <= min_beyond:
        return xs[-1], 100, 0
    pct = 99
    while pct > 0 and n - _rank(n, pct) - 1 < min_beyond:
        pct -= 1
    r = _rank(n, pct)
    return xs[r], pct, n - r - 1


def _rank(n: int, pct: int) -> int:
    """Nearest-rank index of the pct-th percentile in n sorted samples."""
    return max(0, min(n - 1, -(-pct * n // 100) - 1))


def median(values: list) -> float:
    return statistics.median(values)
