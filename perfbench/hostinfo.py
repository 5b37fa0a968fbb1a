"""Host record attached to every result: core count, RAM, library
versions, load average and the CPU time stolen by the hypervisor during
the run. Nothing here repairs a noisy run; it only makes one visible."""

from __future__ import annotations

import os
import platform
import resource


def _proc_stat_cpu() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_ticks() -> int:
    """Cumulative steal time of all CPUs, in clock ticks (0 if absent)."""
    try:
        fields = _proc_stat_cpu()
    except OSError:
        return 0
    return fields[7] if len(fields) > 7 else 0


def total_ticks() -> int:
    try:
        return sum(_proc_stat_cpu()[:8])
    except OSError:
        return 0


def ram_mib() -> int:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return 0


def vm_hwm_mib(pid: int | str = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    if pid == "self":
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    return 0.0


class HostRecord:
    """Snapshot at start; `finish()` adds the deltas over the run."""

    def __init__(self, seed: int):
        import duckdb
        import pyspark

        self.record = {
            "nproc": os.cpu_count(),
            "ram_mib": ram_mib(),
            "python": platform.python_version(),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "seed": seed,
            "loadavg_start": list(os.getloadavg()),
        }
        self._steal0 = steal_ticks()
        self._total0 = total_ticks()

    def finish(self) -> dict:
        steal = steal_ticks() - self._steal0
        total = total_ticks() - self._total0
        self.record["loadavg_end"] = list(os.getloadavg())
        self.record["steal_ticks"] = steal
        self.record["steal_frac"] = round(steal / total, 6) if total else 0.0
        return self.record
