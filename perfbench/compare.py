#!/usr/bin/env python3
"""Compare the untraced results of two checkouts, seed by seed.

    python3 perfbench/compare.py PARENT/.perfbench_out CHANGE/.perfbench_out

For every workload and end-to-end metric present on both sides, prints
each side's median and quartiles, the change of the median, and the
share of same-seed pairs the change wins (ties count for neither side).
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HIGHER_IS_BETTER = {"ingest_rps"}


def load(out_dir: str) -> dict[tuple[str, int], dict]:
    runs = {}
    for path in glob.glob(os.path.join(out_dir, "*_trace0.json")):
        with open(path) as f:
            doc = json.load(f)
        runs[(doc["workload"], doc["seed"])] = doc["end_to_end"]
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main(a_dir: str, b_dir: str) -> None:
    a, b = load(a_dir), load(b_dir)
    pairs = sorted(set(a) & set(b))
    for workload in sorted({w for w, _ in pairs}):
        seeds = [s for w, s in pairs if w == workload]
        print(f"{workload}: {len(seeds)} seeds")
        metrics = sorted(set.intersection(*(set(a[(workload, s)]) & set(b[(workload, s)]) for s in seeds)))
        for m in metrics:
            av = [a[(workload, s)][m]["value"] for s in seeds]
            bv = [b[(workload, s)][m]["value"] for s in seeds]
            higher = m in HIGHER_IS_BETTER
            wins = sum((y > x) if higher else (y < x) for x, y in zip(av, bv))
            qa, qb = quartiles(av), quartiles(bv)
            change = (qb[1] - qa[1]) / qa[1] if qa[1] else float("nan")
            unit = a[(workload, seeds[0])][m]["unit"]
            print(
                f"  {m:<16} {unit:<6} A {qa[1]:.4f} [{qa[0]:.4f}, {qa[2]:.4f}]"
                f"  B {qb[1]:.4f} [{qb[0]:.4f}, {qb[2]:.4f}]"
                f"  {change:+.1%}  B wins {wins}/{len(seeds)}"
            )


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
