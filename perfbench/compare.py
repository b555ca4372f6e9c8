#!/usr/bin/env python3
"""Summarise and compare benchmark results written with ``run.py --out``.

    python3 perfbench/compare.py BASE_DIR [NEW_DIR]

For each workload and end-to-end metric, prints the median of the runs
in BASE_DIR and their spread (distance between the first and third
quartile over the median). With NEW_DIR, also prints the change of the
median against the bound in BENCHMARK.json. Results taken on different
core counts are never compared: the script exits with an error instead.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(directory: str) -> dict[str, list[dict]]:
    """workload -> list of full results (untraced runs only)."""
    out: dict[str, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(directory, "*.json"))):
        with open(path) as f:
            res = json.load(f)
        if res["stamp"]["trace"]:
            continue
        out.setdefault(res["stamp"]["workload"], []).append(res)
    return out


def nprocs(runs: dict[str, list[dict]]) -> set[int]:
    return {r["stamp"]["nproc"] for rs in runs.values() for r in rs}


def summary(values: list[float]) -> tuple[float, float]:
    """(median, interquartile range / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, (q3 - q1) / med if med else 0.0


def main(argv: list[str]) -> int:
    if len(argv) not in (1, 2):
        print(__doc__, file=sys.stderr)
        return 2
    sets = [load(d) for d in argv]
    cores = set().union(*(nprocs(s) for s in sets))
    if len(cores) > 1:
        print(f"refusing to compare results taken on different nproc: {sorted(cores)}",
              file=sys.stderr)
        return 1
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    worse = 0
    for workload, runs in sets[0].items():
        print(f"## {workload}  ({len(runs)} runs, nproc={runs[0]['stamp']['nproc']})")
        for name, m in bounds.items():
            med, spread = summary([r["result"]["metrics"][name]["value"] for r in runs])
            line = f"{name:22s} {med:14.4f} {m['unit']:6s} spread {spread:6.1%}"
            if len(sets) == 2 and workload in sets[1]:
                new, _ = summary([r["result"]["metrics"][name]["value"]
                                  for r in sets[1][workload]])
                change = (new - med) / med if med else 0.0
                bad = change > m["bound"] if m["better"] == "lower" else -change > m["bound"]
                worse += bad
                line += f"  new {new:14.4f} ({change:+.1%}, bound {m['bound']:.0%})"
                line += "  WORSE" if bad else ""
            print(line)
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
