"""Measurement helpers: the percentile rule, process-tree CPU and
memory from ``/proc``, and the host canary."""

from __future__ import annotations

import math
import os
import statistics
import threading
import time

#: percentiles the tail rule may report, highest first
TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def nearest_rank(sorted_vals: list[float], pct: float) -> float:
    """Nearest-rank percentile of an ascending list."""
    if not sorted_vals:
        raise ValueError("percentile of no samples")
    idx = max(0, math.ceil(pct / 100.0 * len(sorted_vals)) - 1)
    return sorted_vals[idx]


def tail_percentile(samples: list[float]) -> tuple[float, float, int]:
    """``(pct, value, n)``: the highest candidate percentile that has at
    least ten samples above its rank, so a tail is never read off a
    handful of points.  With fewer than 20 samples only the median
    qualifies."""
    vals = sorted(samples)
    n = len(vals)
    for pct in TAIL_CANDIDATES:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= 10 or pct == TAIL_CANDIDATES[-1]:
            return pct, nearest_rank(vals, pct), n
    raise AssertionError("unreachable")


def median(samples: list[float]) -> float:
    if not samples:
        raise ValueError("median of no samples")
    return float(statistics.median(samples))


def p50_or_zero(samples: list[float]) -> float:
    """Per-layer p50; a layer the workload never called reads 0."""
    return float(statistics.median(samples)) if samples else 0.0


# ------------------------------------------------------------ /proc tree

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: how often TreeMeter samples RSS
SAMPLE_S = 0.1


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def tree_pids(root: int, exclude: set[int] = frozenset()) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def proc_cpu_s(pid: int) -> float:
    """utime+stime of ``pid`` and of its reaped children."""
    st = _stat(pid)
    if st is None:
        return 0.0
    # fields 14-17 of stat, counted from 1 with pid and comm removed
    return sum(int(x) for x in st[11:15]) / _CLK


def tree_cpu_s(root: int, exclude: set[int] = frozenset()) -> float:
    return sum(proc_cpu_s(p) for p in tree_pids(root, exclude))


def _rss(pid: int) -> int:
    st = _stat(pid)
    return int(st[21]) * _PAGE if st is not None else 0


def tree_rss_bytes(root: int, exclude: set[int] = frozenset()) -> int:
    return sum(_rss(p) for p in tree_pids(root, exclude))


class TreeMeter:
    """CPU seconds and peak RSS of this process and its descendants
    over a region, and the peak RSS of this (the driver) process alone;
    processes in ``exclude`` (the load generator) are not the system
    under test and are left out.  A generator that
    exits inside the region is reaped by this process, so its CPU would
    land in our ``cutime``: :meth:`discount` takes it back out."""

    def __init__(self):
        self.root = os.getpid()
        self.exclude: set[int] = set()
        self.peak = 0
        self.driver_peak = 0
        self._discount = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._cpu0 = 0.0
        self.cpu_s = 0.0

    def _sample(self) -> None:
        while not self._stop.is_set():
            self._update()
            self._stop.wait(SAMPLE_S)

    def _update(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.root, self.exclude))
        self.driver_peak = max(self.driver_peak, _rss(self.root))

    def __enter__(self) -> TreeMeter:
        self._cpu0 = tree_cpu_s(self.root, self.exclude)
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()
        return self

    def discount(self, pid: int) -> None:
        """Call just before reaping an excluded child that has exited."""
        self._discount += proc_cpu_s(pid)

    def __exit__(self, *exc) -> None:
        self.cpu_s = tree_cpu_s(self.root, self.exclude) - self._cpu0 - self._discount
        self._stop.set()
        self._thread.join(timeout=5)
        self._update()


# ----------------------------------------------------------- host canary


def host_canary(spark) -> dict[str, float]:
    """The shape of ``bench.py``'s canary, sized down: a seeded numpy
    GEMM (best of 5) and a fixed ``spark.range`` hash group-by (median
    of 3 warm runs).  Context only — never a gate."""
    import numpy as np
    from pyspark.sql import functions as F

    rng = np.random.default_rng(0)
    a = rng.standard_normal((512, 512))
    b = rng.standard_normal((512, 512))
    (a @ b).sum()
    gemm = []
    for _ in range(5):
        t = time.perf_counter()
        (a @ b).sum()
        gemm.append(time.perf_counter() - t)

    def job():
        spark.range(2_000_000).groupBy((F.col("id") % 1000).alias("g")).count().count()

    job()
    runs = []
    for _ in range(3):
        t = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t)
    return {"host.canary_numpy_s": min(gemm), "host.canary_spark_s": statistics.median(runs)}
