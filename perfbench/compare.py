#!/usr/bin/env python3
"""Compare two sets of benchmark runs, one row per workload and metric.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl
    python3 perfbench/compare.py RUNS.jsonl          # spread of one set

Each file holds run records as written by ``run.py --record`` (untraced
runs only are compared).  Run the two sides as alternating pairs, ten or
more, with the same ``--seconds``.  Per end-to-end metric of
``BENCHMARK.json`` the table gives each side's median and quartiles, the
base's spread (quartile distance over median), the share of pairs the new
side wins (ties count for neither), and a verdict:

- ``gain``: the new side wins at least 9 of 10 pairs and the medians differ
  by more than the base's quartile distance (and there are >= 10 pairs);
- ``worse``: the new median is worse than the base's by more than the
  metric's bound;
- ``unresolved``: the base's spread exceeds the bound, so no change within
  it can be told apart, unless every new run beats every base run;
- ``same``: none of the above.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10
WIN_SHARE = 0.9


def load(path: str) -> dict[str, list[dict[str, float]]]:
    """workload -> list of {metric: value}, in file order."""
    runs: dict[str, list[dict[str, float]]] = {}
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            rec = json.loads(line)
            if rec.get("trace"):
                continue
            metrics = {k: v["value"] for k, v in rec["result"]["metrics"].items()}
            runs.setdefault(rec["workload"], []).append(metrics)
    return runs


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(base: list[float], new: list[float], better: str, bound: float) -> tuple[float, str]:
    sign = 1.0 if better == "higher" else -1.0
    pairs = list(zip(base, new))
    wins = sum(1 for b, n in pairs if sign * (n - b) > 0)
    share = wins / len(pairs) if pairs else 0.0
    b1, bm, b3 = quartiles(base)
    _, nm, _ = quartiles(new)
    if len(pairs) >= MIN_PAIRS and share >= WIN_SHARE and abs(nm - bm) > (b3 - b1) and sign * (nm - bm) > 0:
        return share, "gain"
    if sign * (bm - nm) > bound * abs(bm):
        return share, "worse"
    all_better = bool(base and new) and (
        min(new) > max(base) if better == "higher" else max(new) < min(base)
    )
    if spread(base) > bound and not all_better:
        return share, "unresolved"
    return share, "same"


def main(argv: list[str]) -> int:
    if len(argv) not in (2, 3):
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    metrics = spec["end_to_end"]
    base = load(argv[1])
    if len(argv) == 2:
        print(f"{'workload':18} {'metric':14} {'n':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        for wl, runs in sorted(base.items()):
            for m in metrics:
                vals = [r[m["name"]] for r in runs if m["name"] in r]
                q1, q2, q3 = quartiles(vals)
                print(f"{wl:18} {m['name']:14} {len(vals):3d} {q2:12.5g} {q1:12.5g} {q3:12.5g} "
                      f"{spread(vals):7.3f} {m['bound']:6.2f}")
        return 0
    new = load(argv[2])
    print(f"{'workload':18} {'metric':14} {'pairs':>5} {'base':>12} {'new':>12} {'spread':>7} {'wins':>5}  verdict")
    for wl in sorted(set(base) | set(new)):
        for m in metrics:
            b = [r[m["name"]] for r in base.get(wl, []) if m["name"] in r]
            n = [r[m["name"]] for r in new.get(wl, []) if m["name"] in r]
            if not b or not n:
                print(f"{wl:18} {m['name']:14} missing on one side")
                continue
            share, v = verdict(b, n, m["better"], m["bound"])
            print(f"{wl:18} {m['name']:14} {min(len(b), len(n)):5d} {statistics.median(b):12.5g} "
                  f"{statistics.median(n):12.5g} {spread(b):7.3f} {share:5.2f}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
