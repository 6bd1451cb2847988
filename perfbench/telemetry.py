"""Host telemetry recorded with every run: core counts, CPU jiffies (busy
and hypervisor steal), load average and peak resident memory.

Steal matters because run-to-run drift on shared hosts has come from the
hypervisor, not from the program; a run that shows high steal is read with
that in mind.
"""

from __future__ import annotations

import os
import resource


def parse_cpus(raw: str | None, default: int) -> int:
    """Core count from a ``SPARK_GRAFT_CPUS``-style value. Anything that is
    not a positive integer falls back to ``default`` instead of raising."""
    try:
        n = int(str(raw).strip())
    except (TypeError, ValueError):
        return default
    return n if n > 0 else default


def cpu_jiffies() -> dict[str, int]:
    """Aggregate busy and steal jiffies from ``/proc/stat`` (zeros where the
    file is missing)."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()[1:]
    except OSError:
        return {"busy": 0, "steal": 0}
    vals = [int(x) for x in fields] + [0] * 10
    user, nice, system, _idle, _iowait, irq, softirq, steal = vals[:8]
    return {"busy": user + nice + system + irq + softirq, "steal": steal}


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []


def snapshot() -> dict:
    return {"jiffies": cpu_jiffies(), "loadavg": loadavg()}


def host_info(cpus: int) -> dict:
    return {"nproc": os.cpu_count(), "master": f"local[{cpus}]"}


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident memory of this Python process plus the JVM's."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = _vm_hwm_kb(jvm_pid) if jvm_pid else 0
    return (py_kb + jvm_kb) / 1024.0
