"""Host context for every result: canaries, concurrent JVMs, peak RSS.

The canaries repeat the root ``bench.py`` definitions so that host drift
can be read next to every number, but live here so that an edit to
``bench.py`` cannot move this benchmark.
"""

from __future__ import annotations

import os
import time

import numpy as np


def cpu_count() -> int:
    """Cores this process may run on (``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # not Linux
        return os.cpu_count() or 1


def host_canary(reps: int = 3) -> float:
    """Pure-CPU numpy workload timed before Spark starts (best of ``reps``):
    50 rounds of an xxhash-style integer mix over a pinned-seed 1M-element
    int64 array."""
    rng = np.random.default_rng(42)
    a = rng.integers(0, 1 << 62, size=1_000_000, dtype=np.int64)
    m1 = np.int64(-7046029254386353131)
    m2 = np.int64(-4417276706812531889)
    best = float("inf")
    for _ in range(reps):
        x = a.copy()
        t0 = time.perf_counter()
        for _ in range(50):
            np.multiply(x, m1, out=x)
            x ^= x >> np.int64(29)
            np.multiply(x, m2, out=x)
            x ^= x >> np.int64(32)
        best = min(best, time.perf_counter() - t0)
    return best


def jvm_canary(spark, warmups: int = 0, reps: int = 1) -> float:
    """Fixed synthetic Spark job in the benchmark's own JVM (best of
    ``reps``): 20M-row range -> xxhash64 -> mod-1000 group-by sum.  Run
    it after the measured passes, when the JVM is warm."""
    import pyspark.sql.functions as F

    def run() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 20_000_000, 1, 32)
            .select((F.xxhash64("id") % 1000).alias("k"), F.xxhash64("id", F.lit(1)).alias("v"))
            .groupBy("k")
            .agg(F.try_sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .agg(F.try_sum("s"), F.try_sum("n"))
            .collect()
        )
        return time.perf_counter() - t0

    for _ in range(warmups):
        run()
    return min(run() for _ in range(reps))


def cpu_jiffies() -> tuple[int, int]:
    """(all, steal) CPU jiffies since boot, from /proc/stat.  Steal is time
    the hypervisor gave the machine's CPUs to other guests; it slows every
    timing, so each pass records its share next to its wall time."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return sum(f[:8]), f[7]


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except (OSError, IndexError, ValueError):
        pass
    return 0


def other_jvms() -> int:
    """Java processes on the host that this benchmark did not start."""
    mine = set(descendants(os.getpid()))
    n = 0
    for d in os.listdir("/proc"):
        if d.isdigit() and int(d) not in mine:
            try:
                with open(f"/proc/{d}/comm") as fh:
                    n += fh.read().strip() == "java"
            except OSError:
                pass
    return n


class PeakRss:
    """Peak RSS of this process's descendants (the driver JVM and its
    Python workers) over a ``with`` block: each process's high-water mark
    is reset on entry (``clear_refs``) and read on exit (``VmHWM``), so
    nothing polls while the block runs.  The figure is the sum of the
    per-process peaks."""

    def __enter__(self) -> PeakRss:
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass
        return self

    def __exit__(self, *exc) -> None:
        self.peak = 1024 * sum(_status_kb(p, "VmHWM:") for p in descendants(os.getpid()))
