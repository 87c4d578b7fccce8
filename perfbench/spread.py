"""Summarise benchmark runs: median and quartile spread per metric.

    python3 perfbench/spread.py runs/*.out

Each file holds the stdout of one run: the diagnostics line and the
result line.  The spread is the distance between the first and third
quartile as a share of the median, as ``statistics.quantiles(n=4)``
gives the quartiles.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> tuple[dict, dict]:
    diag, result = {}, {}
    with open(path) as f:
        for line in f:
            if line.startswith("{"):
                obj = json.loads(line)
                if "diagnostics" in obj:
                    diag = obj["diagnostics"]
                elif "metrics" in obj:
                    result = obj
    return diag, result


def main(paths: list[str]) -> None:
    by_wl: dict[str, list[tuple[dict, dict]]] = {}
    for p in paths:
        diag, result = load(p)
        if result:
            by_wl.setdefault(diag.get("workload", "?"), []).append((diag, result))
    for wl, runs in sorted(by_wl.items()):
        steal = [d["steal_share"] for d, _ in runs]
        print(f"{wl}: {len(runs)} runs, all correct: "
              f"{all(r['correct'] for _, r in runs)}, steal "
              f"{min(steal):.1%}..{max(steal):.1%}, wall "
              f"{statistics.median(d['wall_s'] for d, _ in runs):.0f} s median")
        names = [n for n in runs[0][1]["metrics"]
                 if all(n in r["metrics"] for _, r in runs)]
        for name in names:
            vals = [r["metrics"][name]["value"] for _, r in runs]
            med = statistics.median(vals)
            spread = ""
            if len(vals) >= 2:
                q = statistics.quantiles(vals, n=4)
                spread = f"{(q[2] - q[0]) / med:.3f}" if med else "n/a"
            print(f"  {name:34s} median {med:14.4f}  spread {spread}")


if __name__ == "__main__":
    main(sys.argv[1:])
