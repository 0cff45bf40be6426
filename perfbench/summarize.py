"""Summarize benchmark runs: per workload and metric, the median, the
quartiles and the spread (quartile distance over median), as the
benchmark's acceptance rule computes them.

    python3 perfbench/summarize.py perfbench/baseline/runs.jsonl

Input: JSON-lines files of run records (``result.json`` of a run, one per
line) or single ``result.json`` files.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(paths: list[str]) -> list[dict]:
    runs = []
    for p in paths:
        with open(p) as f:
            text = f.read().strip()
        if text.startswith("{\n") or "\n" not in text:
            runs.append(json.loads(text))
        else:
            runs.extend(json.loads(line) for line in text.splitlines() if line)
    return runs


def summarize(runs: list[dict]) -> dict:
    """{(workload, set, metric): {n, median, q1, q3, spread}}"""
    groups: dict = {}
    for r in runs:
        for name, value in r["metrics"].items():
            key = (r["workload"], r.get("set", ""), name)
            groups.setdefault(key, []).append(value)
    out = {}
    for key, values in sorted(groups.items()):
        med = statistics.median(values)
        q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med,) * 3
        out[key] = {"n": len(values), "median": med, "q1": q1, "q3": q3,
                    "spread": (q3 - q1) / med if med else 0.0}
    return out


def main() -> int:
    for (workload, rset, name), s in summarize(load(sys.argv[1:])).items():
        print(f"{workload:15s} {rset:6s} {name:28s} n={s['n']:2d} "
              f"median={s['median']:12.4f} q1={s['q1']:12.4f} q3={s['q3']:12.4f} "
              f"spread={s['spread']:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
