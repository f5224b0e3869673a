"""Order statistics the benchmark reports, and the process-tree probes
it reads from ``/proc``."""

from __future__ import annotations

import math
import os
import statistics
import threading

#: A tail percentile must leave at least this many samples above it.
TAIL_MIN_BEYOND = 10


def tail_percentile(n: int) -> int:
    """The highest whole percentile of ``n`` samples that leaves at
    least ``TAIL_MIN_BEYOND`` samples above it.  Below 20 samples that
    percentile would not reach the median, so the maximum (100) stands
    in; callers report it with the sample count."""
    if n < 2 * TAIL_MIN_BEYOND:
        return 100
    return math.floor(100 * (n - TAIL_MIN_BEYOND) / n)


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile (``pct`` 0 gives the minimum)."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100 * len(ordered)))
    return ordered[rank - 1]


def tail(values: list[float]) -> tuple[float, int, int]:
    """``(value, percentile, samples)`` of the tail rule."""
    pct = tail_percentile(len(values))
    return percentile(values, pct), pct, len(values)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# ------------------------------------------------------------------ /proc

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, int, float] | None:
    """``(ppid, start time, own cpu seconds)`` of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields[0] is state; utime and stime are 11 and 12, starttime 19.
    return int(fields[1]), int(fields[19]), (int(fields[11]) + int(fields[12])) / _TICK


def process_tree(root: int | None = None) -> dict[int, tuple[int, float]]:
    """``pid -> (start time, cpu seconds)`` of ``root`` (default: this
    process) and each of its live descendants."""
    root = root or os.getpid()
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit() and (s := _stat(int(entry))) is not None:
            stats[int(entry)] = s
    tree, frontier = {}, [root]
    while frontier:
        pid = frontier.pop()
        if pid in stats and pid not in tree:
            tree[pid] = stats[pid][1:]
            frontier.extend(p for p, (ppid, _, _) in stats.items() if ppid == pid)
    return tree


class TreeCpu:
    """CPU seconds used by this process tree: the driver Python, the JVM
    and every Python worker.

    A process that exits keeps the CPU of its last reading.  Reading
    only at the ends of a pass would lose the CPU of Python workers that
    exit during it: Spark's worker daemon ignores ``SIGCHLD``, so the
    kernel adds no exited worker's CPU to the daemon's child times.  A
    thread therefore reads the tree every ``interval_s``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._last: dict[tuple[int, int], float] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-cpu", daemon=True)

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.total()

    def total(self) -> float:
        """CPU seconds of every process seen so far, read now."""
        tree = process_tree()
        with self._lock:
            for pid, (start, cpu) in tree.items():
                self._last[(pid, start)] = cpu
            return sum(self._last.values())


def cpu_ticks() -> tuple[int, int]:
    """``(steal, total)`` clock ticks of all CPUs since boot, from
    ``/proc/stat``.  Steal is time the hypervisor gave this machine's
    virtual CPUs to other guests; it slows every timed figure."""
    with open("/proc/stat") as fh:
        fields = [int(v) for v in fh.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7] if len(fields) > 7 else 0, sum(fields[:8])


def peak_rss_mib(pids: list[int]) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024
