#!/usr/bin/env python3
"""Median, quartiles and spread of benchmark runs.

    python3 perfbench/summarize.py out1.txt out2.txt ...

Each file holds the standard output of one `run.py` run; its last line is
the result object. Runs are grouped by the `workload ...` line each output
carries. For every metric it prints the median, the quartiles from
`statistics.quantiles(values, n=4)`, and the spread (Q3 - Q1) / median, and
with --json it prints the same as one JSON object.
"""

import json
import statistics
import sys


def load(path):
    with open(path) as f:
        lines = f.read().strip().splitlines()
    head = next(x for x in lines if x.startswith("workload "))
    return head.split()[1], json.loads(lines[-1])


def summarize(paths):
    runs = {}
    for p in paths:
        wl, res = load(p)
        runs.setdefault(wl, []).append(res)
    out = {}
    for wl, rs in sorted(runs.items()):
        metrics = {}
        for name in rs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in rs]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
            metrics[name] = {"unit": rs[0]["metrics"][name]["unit"], "median": med,
                             "q1": q1, "q3": q3,
                             "spread": (q3 - q1) / med if med else 0.0, "values": vals}
        out[wl] = {"runs": len(rs), "all_correct": all(r["correct"] for r in rs),
                   "failed": sum(r["failed"] for r in rs),
                   "attempted": sum(r["attempted"] for r in rs), "metrics": metrics}
    return out


def main():
    as_json = "--json" in sys.argv
    s = summarize([a for a in sys.argv[1:] if a != "--json"])
    if as_json:
        print(json.dumps(s, indent=1))
        return
    for wl, w in s.items():
        print(f"{wl}: {w['runs']} runs, all correct {w['all_correct']}, "
              f"failed {w['failed']}/{w['attempted']}")
        for name, m in w["metrics"].items():
            print(f"  {name:14s} median {m['median']:12.2f} {m['unit']:7s} "
                  f"Q1 {m['q1']:12.2f}  Q3 {m['q3']:12.2f}  spread {m['spread']:.3f}")


if __name__ == "__main__":
    main()
