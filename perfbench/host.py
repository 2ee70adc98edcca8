"""Host sizing and measurement-window evidence.

Everything here reads the host, never the engine: the Spark session is
sized from ``/proc/meminfo`` and the CPU count, and every run records
the window it ran in (load average, hypervisor steal, a fixed-work CPU
loop and a memory-stream pass) so a slow run on a noisy co-tenant host
can be told apart from a slow engine.
"""

from __future__ import annotations

import os
import resource
import time

#: share of MemTotal given to the single local-mode JVM heap when
#: SPARK_DRIVER_MEM is unset (the session pre-touches the whole heap);
#: the rest stays free for Python workers, the page cache and the other
#: processes on the host
HEAP_SHARE = 0.2


def cpu_count() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def size_session() -> dict:
    """Export the core count and heap size the engine's session factory
    reads, keeping any value the caller already set."""
    cores = cpu_count()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    if "SPARK_DRIVER_MEM" not in os.environ:
        gib = max(1, int(mem_total_bytes() * HEAP_SHARE) // 2**30)
        os.environ["SPARK_DRIVER_MEM"] = f"{gib}g"
    return {"cores": cores, "driver_mem": os.environ["SPARK_DRIVER_MEM"]}


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class Window:
    """Load average and steal share between ``__init__`` and ``close``,
    plus one fixed-work calibration probe."""

    def __init__(self):
        self.load_start = list(os.getloadavg())
        self.ticks = _cpu_ticks()

    def close(self) -> dict:
        end = _cpu_ticks()
        d = [b - a for a, b in zip(self.ticks, end)]
        total = sum(d)
        steal = 100.0 * d[7] / total if total > 0 and len(d) > 7 else 0.0
        return {
            "loadavg_start": self.load_start,
            "loadavg_end": list(os.getloadavg()),
            "steal_pct": steal,
            **speed_probe(),
        }


def speed_probe() -> dict:
    """Fixed work, best of three: a pure-Python loop (single-core speed)
    and a 64 MiB numpy stream (memory bandwidth). Comparing these across
    artifacts normalizes throughput before anything is called a
    regression."""
    import numpy as np

    cpu_s = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        x = 0
        for i in range(1_000_000):
            x += i * i
        cpu_s = min(cpu_s, time.perf_counter() - t0)
    a = np.ones(64 * 2**20 // 8)
    b = np.empty_like(a)
    np.multiply(a, 1.0000001, out=b)
    bw = 0.0
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(4):
            np.multiply(a, 1.0000001, out=b)
            a, b = b, a
        bw = max(bw, 4 * 2 * a.nbytes / (time.perf_counter() - t0) / 1e9)
    return {"cpu_probe_s": cpu_s, "membw_gbps": bw}


def reset_peak_rss() -> bool:
    """Reset this process's peak-RSS mark (Linux ``clear_refs`` 5) so
    the next ``peak_rss_mb`` covers only what follows. Returns False
    when the kernel refuses, in which case the peak covers the whole
    process lifetime."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    try:
        with open("/proc/self/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
