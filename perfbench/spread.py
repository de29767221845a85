"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py RESULT_FILE...

Each file holds the standard output of one ``run.py`` call; its last line
is the result. Files are grouped by workload (read from the detail line
before it) and, per metric, the median and the interquartile range as a
share of the median are printed, next to the metric's bound from
BENCHMARK.json.
"""

from __future__ import annotations

import json
import os
import statistics
import sys


def main(paths: list[str]) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bounds = {m["name"]: m["bound"] for m in json.load(f)["end_to_end"]}
    groups: dict[str, dict[str, list[float]]] = {}
    for path in paths:
        with open(path) as f:
            lines = [line for line in f.read().splitlines() if line.strip()]
        detail, result = json.loads(lines[-2]), json.loads(lines[-1])
        values = groups.setdefault(detail["workload"], {})
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for workload, values in sorted(groups.items()):
        for name, vals in values.items():
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{workload:15s} {name:22s} n={len(vals):2d} median={med:12.4f} "
                  f"spread={spread:.4f} bound={bounds.get(name)}")


if __name__ == "__main__":
    main(sys.argv[1:])
