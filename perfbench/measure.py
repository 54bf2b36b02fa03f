"""Host-side measurements shared by the workloads: the host-drift probe,
CPU steal, peak resident memory, on-disk bytes and summary statistics."""

from __future__ import annotations

import math
import os
import resource
import time

PROBE_N = 1_000_000


def host_probe_s() -> float:
    """Time a fixed pure-Python loop that never touches Spark: it moves
    only when the host does, which separates drift from code effects."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(PROBE_N):
        acc += i * i % 7
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of the driver JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (py_kb + _vm_hwm_kb(jvm_pid)) / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def geomean(values) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))
