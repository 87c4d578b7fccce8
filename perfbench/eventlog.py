"""Fold Spark's own event log into per-round engine accounting.

The benchmark turns the log on through ``get_spark(extra_conf=...)``
with compression off, so it is plain JSON lines.  A job belongs to the
round during which it was submitted and a task to the round during
which it was launched; round ``N`` spans the commit times of the
manifests of rounds ``N-1`` and ``N``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
}

_PY = {
    "python_start_s": "time to start Python workers",
    "python_init_s": "time to initialize Python workers",
    "python_run_s": "time to run Python workers",
    "bytes_to_python": "data sent to Python workers",
    "bytes_from_python": "data returned from Python workers",
}


def _events(log_dir: str):
    for path in sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)):
        with open(path) as f:
            for line in f:
                yield json.loads(line)


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold(log_dir: str, windows: list[tuple[float, float, int]]) -> dict[str, float]:
    """Median over rounds of each ``spark.*`` metric.  ``windows`` holds
    (start, end, fetched_urls) per round, times in epoch seconds."""
    per = [
        {"jobs": 0, "tasks": 0, "task_cpu_s": 0.0, "task_run_s": 0.0,
         "task_deser_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
         "busy": [], **{k: 0.0 for k in _PY}}
        for _ in windows
    ]

    def slot(t_ms: int) -> int | None:
        t = t_ms / 1000
        for i, (a, b, _n) in enumerate(windows):
            if a < t <= b:
                return i
        return None

    for ev in _events(log_dir):
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            i = slot(ev["Submission Time"])
            if i is not None:
                per[i]["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info = ev["Task Info"]
            i = slot(info["Launch Time"])
            if i is None:
                continue
            p, m = per[i], ev.get("Task Metrics") or {}
            p["tasks"] += 1
            p["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            p["task_run_s"] += m.get("Executor Run Time", 0) / 1e3
            p["task_deser_s"] += m.get("Executor Deserialize Time", 0) / 1e3
            p["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            p["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0
            )
            p["busy"].append((info["Launch Time"] / 1000, info["Finish Time"] / 1000))
            for acc in info.get("Accumulables", []):
                for key, name in _PY.items():
                    if acc.get("Name") == name:
                        v = float(acc.get("Update") or 0)
                        p[key] += v / 1e3 if key.endswith("_s") else v

    rows = []
    for (a, b, n), p in zip(windows, per):
        clipped = [(max(x, a), min(y, b)) for x, y in p.pop("busy") if y > a]
        n = max(n, 1)
        rows.append(
            {
                "jobs": p["jobs"],
                "tasks": p["tasks"],
                "task_cpu_s": p["task_cpu_s"],
                "task_run_s": p["task_run_s"],
                "task_deser_s": p["task_deser_s"],
                "gc_s": p["gc_s"],
                "python_start_s": p["python_start_s"],
                "python_init_s": p["python_init_s"],
                "python_run_s": p["python_run_s"],
                "driver_gap_s": (b - a) - _covered(clipped),
                "bytes_to_python_per_url": p["bytes_to_python"] / n,
                "bytes_from_python_per_url": p["bytes_from_python"] / n,
                "shuffle_write_bytes_per_url": p["shuffle_write_bytes"] / n,
            }
        )
    return {
        f"spark.{k}": statistics.median(r[k] for r in rows) for k in rows[0]
    } if rows else {}
