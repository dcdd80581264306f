"""Latency percentiles, per-kind medians, the sample-count rule and
process-tree memory."""

from __future__ import annotations

import math
import os
import statistics
import threading

# a percentile is supported when at least this many samples lie beyond it
TAIL_SAMPLES = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated q-th percentile (0..100) of ``values``, the
    'inclusive' rule of ``statistics.quantiles``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def kind_medians(samples) -> dict:
    """{kind: median value} of an iterable of (kind, value) pairs."""
    by_kind: dict = {}
    for kind, value in samples:
        by_kind.setdefault(kind, []).append(value)
    return {k: statistics.median(v) for k, v in by_kind.items()}


def min_samples(q: float, tail: int = TAIL_SAMPLES) -> int:
    """Fewest samples that leave ``tail`` of them beyond percentile q."""
    return math.ceil(tail / (1.0 - q / 100.0) - 1e-9)


def highest_supported(n: int, candidates=(50, 75, 90, 95, 99), tail: int = TAIL_SAMPLES):
    """The highest candidate percentile with at least ``tail`` samples
    beyond it among ``n`` samples, or None."""
    ok = [q for q in candidates if n >= min_samples(q, tail)]
    return max(ok) if ok else None


# JVM threads that compile hot code: their work fades as a run warms up,
# so it is left out of the CPU an operation is charged with. The JVM is
# started with a fixed set of them, so none exits with its time.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _proc_table() -> dict[int, tuple[int, int, str]]:
    """{pid: (ppid, CPU clock ticks of the process and its reaped
    children, command name)} for every process in /proc."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        head, tail = stat.rsplit(")", 1)
        f = tail.split()
        table[int(name)] = (int(f[1]), int(f[11]) + int(f[12]) + int(f[13]) + int(f[14]), head.split("(", 1)[1])
    return table


def _jit_ticks(pid: int) -> int:
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        head, tail = stat.rsplit(")", 1)
        if head.split("(", 1)[1] in JIT_THREADS:
            f = tail.split()
            total += int(f[11]) + int(f[12])
    return total


def _tree_pids(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by ``root`` (default: this process) and its descendants, less
    the JVMs' JIT compiler threads. Time the hypervisor steals from the
    VM is not in it."""
    table = _proc_table()
    ticks = 0
    for p in _tree_pids(root or os.getpid(), table):
        if p in table:
            ticks += table[p][1] - (_jit_ticks(p) if table[p][2] == "java" else 0)
    return ticks / os.sysconf("SC_CLK_TCK")


def steal_ticks() -> tuple[int, int]:
    """(stolen, total) clock ticks of all CPUs since boot, /proc/stat."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[7], sum(f[:8])


def tree_rss_bytes(root: int | None = None) -> int:
    """Summed resident memory of ``root`` (default: this process) and
    all its descendants, read from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in _tree_pids(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the process tree's summed RSS every ``interval`` seconds
    on a background thread while used as a context manager."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes())
            self.samples += 1
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return False


def iqr_spread(values) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles``
    gives them (its default 'exclusive' method)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2

