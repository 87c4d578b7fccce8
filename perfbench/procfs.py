"""Readers of /proc for the benchmark: process-tree CPU, peak memory,
host steal and the per-run environment record.  They only read; nothing
on the host is changed."""

from __future__ import annotations

import os
import platform
import re
import subprocess

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) of the process tree under ``root``:
    live processes plus the children they have already reaped."""
    total = 0
    for pid in descendants(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are fields 14-17 of stat
            total += sum(int(x) for x in fields[11:15])
    return total / _HZ


def java_pid() -> int | None:
    """The JVM that PySpark started under this process."""
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    return pid
        except OSError:
            pass
    return None


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm: int | None) -> float:
    """Peak resident memory of the driver process plus its JVM."""
    kb = _status_kb(os.getpid(), "VmHWM")
    if jvm is not None:
        kb += _status_kb(jvm, "VmHWM")
    return kb / 1024


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already inside user/nice, so it is not added again
    return v[7], sum(v[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0


def _java_version() -> str:
    try:
        out = subprocess.run(
            ["java", "-version"], capture_output=True, text=True, timeout=30
        )
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    m = re.search(r'version "([^"]+)"', out.stderr + out.stdout)
    return m.group(1) if m else "unknown"


def environment(spark_version: str) -> dict:
    """Machine and toolchain facts that explain a slow run."""
    import pyarrow

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 2**20, 1),
        "java": _java_version(),
        "spark": spark_version,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }
