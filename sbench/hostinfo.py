"""Host fingerprint recorded with every result: core count and affinity,
the measured parallel speedup of pure-Python work, RAM and library
versions.  nproc alone is not evidence of real cores on a shared host."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

PROBE_ITERS = 1_000_000


# One timed pure-Python burn, started at an agreed wall-clock time so that
# concurrent copies overlap; prints its own elapsed seconds.
_BURN = """import sys, time
time.sleep(max(0.0, float(sys.argv[1]) - time.time()))
t0 = time.perf_counter()
s = 0
for i in range(int(sys.argv[2])):
    s += i * i
print(time.perf_counter() - t0)
"""


def _burst(n: int) -> float:
    """Slowest of n concurrent burns, in seconds."""
    start = str(time.time() + 0.05)
    procs = [subprocess.Popen([sys.executable, "-I", "-c", _BURN, start,
                               str(PROBE_ITERS)], stdout=subprocess.PIPE,
                              text=True) for _ in range(n)]
    return max(float(p.communicate()[0]) for p in procs)


def _affinity() -> str:
    cpus = sorted(os.sched_getaffinity(0))
    ranges, start = [], None
    for i, c in enumerate(cpus):
        if start is None:
            start = c
        if i + 1 == len(cpus) or cpus[i + 1] != c + 1:
            ranges.append(f"{start}-{c}" if c != start else str(c))
            start = None
    return ",".join(ranges)


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def cpu_probe() -> dict:
    """Speedup of n concurrent pure-Python burns over one, for n = 1, 2, 4
    (best of 2 tries each)."""
    best = {n: min(_burst(n) for _ in range(2)) for n in (1, 2, 4)}
    return {str(n): round(n * best[1] / best[n], 3) for n in (1, 2, 4)}


def fingerprint() -> dict:
    from importlib.metadata import PackageNotFoundError, version

    def ver(dist: str) -> str | None:
        try:
            return version(dist)
        except PackageNotFoundError:
            return None

    return {
        "nproc": os.cpu_count(),
        "affinity": _affinity(),
        "cpu_probe_speedup": cpu_probe(),
        "ram_mb": ram_mb(),
        "python": platform.python_version(),
        **{dist: ver(dist) for dist in ("pyspark", "pyarrow", "pandas", "numpy")},
    }
