"""Compare two sets of run records (``.bench_build/perfbench/results``).

    python3 perfbench/compare.py BEFORE_DIR AFTER_DIR

Prints, per workload and metric, the median of each set and their ratio.
Refuses (exit 2) when the two sets were measured on different core counts:
numbers taken at different ``cpus`` are not comparable.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys


def load(path: str) -> dict[str, list[dict]]:
    runs: dict[str, list[dict]] = {}
    for f in sorted(glob.glob(os.path.join(path, "*.json"))):
        with open(f) as fh:
            d = json.load(fh)
        runs.setdefault(f"{d['workload']}/t{d['trace']}", []).append(d)
    return runs


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    a, b = load(argv[0]), load(argv[1])
    cpus = {d["cpus"] for runs in (*a.values(), *b.values()) for d in runs}
    if len(cpus) != 1:
        print(f"refusing to compare runs measured on different cpus: {sorted(cpus)}",
              file=sys.stderr)
        return 2
    (ncpu,) = cpus
    for key in sorted(set(a) & set(b)):
        print(f"{key} (cpus={ncpu}, runs {len(a[key])} vs {len(b[key])})")
        for m in sorted(a[key][0]["metrics"]):
            x = statistics.median(d["metrics"][m] for d in a[key])
            y = statistics.median(d["metrics"][m] for d in b[key])
            ratio = f"{y / x:.3f}" if x else "-"
            print(f"  {m:28s} {x:14.4f} {y:14.4f}  x{ratio}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
