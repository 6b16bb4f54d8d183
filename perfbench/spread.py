"""Summarise several benchmark results: per metric, the median and the
spread (distance between first and third quartile, as a share of the
median), the numbers a change is judged by.

    python3 perfbench/spread.py out_seed1.json out_seed2.json ...

Each file holds the last line a run of perfbench/run.py printed.
"""

from __future__ import annotations

import json
import statistics
import sys


def main(paths: list[str]) -> int:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as f:
            result = json.loads(f.read().strip().splitlines()[-1])
        for name, m in result["metrics"].items():
            values.setdefault(name, []).append(m["value"])
    for name, vals in values.items():
        med = statistics.median(vals)
        if len(vals) >= 2 and med:
            q1, _, q3 = statistics.quantiles(vals, n=4)
            spread = f"{(q3 - q1) / abs(med):.4f}"
        else:
            spread = "n/a"
        print(f"{name:28s} n={len(vals):2d} median={med:.6g} spread={spread}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
