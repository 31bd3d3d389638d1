"""Process-tree accounting read from /proc: CPU seconds, resident memory,
host steal share, and a fixed-work calibration probe.

The tree is rooted at the benchmark's own process, so it covers the
driver, the Spark JVM it launches, and the Python workers the JVM forks.
"""

from __future__ import annotations

import os
import threading
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # fields after the parenthesised command name, which may hold spaces
    return s[s.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """`root` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system seconds of the tree, including reaped children, so a
    worker that exits inside an interval still counts in the delta."""
    total = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            total += sum(int(x) for x in f[11:15])
    return total / _TICKS


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of the tree: pages shared between processes,
    such as the forked Python workers', count once in the sum, so the
    number does not jump with how many workers happen to be alive."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # the process ended between listing and reading
            pass
    return total


class PeakPss:
    """Samples the tree's proportional resident memory on a thread while
    it is running; `peak` is the largest sum seen. Use as a context
    manager around the region to cover, one region at a time. One sample
    walks the JVM's whole pre-touched heap (tens of ms), so samples are
    sparse enough to leave the measured runs nearly undisturbed."""

    def __init__(self, root: int, interval_s: float = 1.0):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakPss":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies of the host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total else 0.0


def calib_gflops(threads: int, reps: int = 40) -> float:
    """Aggregate GFLOP/s of a fixed einsum matmul on `threads` threads.
    einsum never calls threaded BLAS and releases the GIL, so the probe
    measures the cores the benchmark can get, not the BLAS build."""
    import numpy as np

    rng = np.random.RandomState(0)
    a, b = rng.rand(256, 256), rng.rand(256, 256)
    np.einsum("ij,jk->ik", a, b)

    def work() -> None:
        for _ in range(reps):
            np.einsum("ij,jk->ik", a, b)

    pool = [threading.Thread(target=work) for _ in range(threads)]
    t0 = time.perf_counter()
    for t in pool:
        t.start()
    for t in pool:
        t.join()
    dt = time.perf_counter() - t0
    return threads * reps * 2 * 256**3 / dt / 1e9
