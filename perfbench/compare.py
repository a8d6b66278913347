"""Compare two result sets of the benchmark, parent and change.

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR [--benchmark BENCHMARK.json]

Each directory holds the untraced result files run.py writes
(``.bench_out/results/<workload>-s<seed>-t0.json``). Runs of the two
sides with the same workload and seed form a pair; make them on both
checkouts with identical settings, alternating which side runs first.

For every (end-to-end metric, workload) the verdict is, in this order:

- ``unresolved``: the parent's own spread (interquartile distance over
  median) is wider than the metric's bound, and not every change run
  reads better than every parent run;
- ``improved``: the change wins at least 9 in 10 of the pairs (ties count
  for neither side) and the medians differ by more than the parent's
  interquartile distance;
- ``worse``: the change's median is worse than the parent's by more than
  the bound;
- ``unchanged`` otherwise.

``failed_ratio`` (failed over attempted operations) is compared per
workload; a change that fails more operations than its parent gains
nothing.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys


def load(dirname: str) -> dict[tuple[str, int], dict]:
    runs = {}
    for path in glob.glob(os.path.join(dirname, "*.json")):
        with open(path) as fh:
            r = json.load(fh)
        if r.get("trace") == 0:
            runs[(r["workload"], r["seed"])] = r
    return runs


def _iqr(values: list[float]) -> float:
    if len(values) < 2:
        return float("inf")
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q3 - q1


def verdict(parent: list[float], change: list[float], better: str, bound: float) -> dict:
    """``parent[i]`` and ``change[i]`` are the two sides of pair ``i``."""
    sign = -1.0 if better == "lower" else 1.0
    med_p, med_c = statistics.median(parent), statistics.median(change)
    iqr_p = _iqr(parent)
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    all_better = min(sign * c for c in change) > max(sign * p for p in parent)
    worse_by = sign * (med_p - med_c) / abs(med_p) if med_p else 0.0
    # a parent median of 0 gives no scale to judge a spread by
    spread_p = iqr_p / abs(med_p) if med_p else float("inf")
    if spread_p > bound and not all_better:
        state = "unresolved"
    elif wins >= 0.9 * len(parent) and sign * (med_c - med_p) > iqr_p:
        state = "improved"
    elif worse_by > bound:
        state = "worse"
    else:
        state = "unchanged"
    return {"state": state, "pairs": len(parent), "wins": wins, "parent_median": med_p,
            "change_median": med_c, "parent_iqr": iqr_p, "change_vs_parent": (med_c - med_p) / med_p if med_p else None}


def _pct(x: float | None) -> str:
    return "n/a" if x is None else f"{x:+.2%}"


def failed_ratio(runs: list[dict]) -> float:
    attempted = sum(r["samples"] for r in runs)
    return sum(round(r["failed_ratio"] * r["samples"]) for r in runs) / attempted if attempted else 0.0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--benchmark", default=os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                                       "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.benchmark) as fh:
        bench = json.load(fh)
    parent, change = load(args.parent), load(args.change)
    rows = []
    for w in (w["name"] for w in bench["workloads"]):
        seeds = sorted(s for (wl, s) in parent if wl == w and (wl, s) in change)
        if not seeds:
            print(f"{w}: no paired runs", file=sys.stderr)
            continue
        p_runs = [parent[(w, s)] for s in seeds]
        c_runs = [change[(w, s)] for s in seeds]
        fr_p, fr_c = failed_ratio(p_runs), failed_ratio(c_runs)
        for m in bench["end_to_end"]:
            v = verdict([r["end_to_end"][m["name"]] for r in p_runs], [r["end_to_end"][m["name"]] for r in c_runs],
                        m["better"], m["bound"])
            rows.append({"workload": w, "metric": m["name"], "unit": m["unit"], "bound": m["bound"], **v})
        rows.append({"workload": w, "metric": "failed_ratio", "parent": fr_p, "change": fr_c,
                     "state": "worse" if fr_c > fr_p else "unchanged", "pairs": len(seeds)})
    for r in rows:
        if r["metric"] == "failed_ratio":
            print(f"{r['workload']:<15} {'failed_ratio':<18} {r['state']:<10} parent {r['parent']:.4f} "
                  f"change {r['change']:.4f}")
        else:
            print(f"{r['workload']:<15} {r['metric']:<18} {r['state']:<10} pairs {r['pairs']:>2} wins {r['wins']:>2} "
                  f"parent {r['parent_median']:.6g} change {r['change_median']:.6g} {r['unit']} "
                  f"({_pct(r['change_vs_parent'])}, bound {r['bound']:.0%})")
    if any(r["pairs"] < 10 for r in rows):
        print("fewer than 10 pairs on some workload: no gain can be claimed from this comparison")
    print(json.dumps({"rows": rows}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
