"""Smoke run: every workload once untraced and once traced on the sf0.001
tables, asserting that every metric BENCHMARK.json names is printed with its
unit and that every output check passed.

    python3 perfbench/smoke.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    bad = 0
    for w in spec["workloads"]:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                   w["name"], "--seed", "1", "--seconds", "0", "--trace",
                   str(trace), "--scale", "smoke"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            problems = []
            if p.returncode != 0 or not lines:
                problems.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
            else:
                out = json.loads(lines[-1])
                got = out["metrics"]
                if not out["correct"] or out["failed"]:
                    problems.append(f"{out['failed']} of {out['attempted']} failed")
                for name, unit in want[trace].items():
                    if name not in got:
                        problems.append(f"missing {name}")
                    elif got[name]["unit"] != unit:
                        problems.append(f"{name}: unit {got[name]['unit']} != {unit}")
                    elif not isinstance(got[name]["value"], (int, float)):
                        problems.append(f"{name}: value {got[name]['value']!r}")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w['name']} trace={trace}: {status}", flush=True)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
