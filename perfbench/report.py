#!/usr/bin/env python3
"""Summarise benchmark runs from the run records run.py leaves behind.

    python3 perfbench/report.py [.bench_build/results/runs.jsonl]

For each workload and end-to-end metric of the untraced runs: the median,
the first and third quartiles (statistics.quantiles, n=4) and the spread,
(Q3 - Q1) / median. For traced runs: the tracing overhead, each traced
value minus the untraced median of the same workload. Also the ambient
CPU probe read before and after each run (a diagnostic only).
"""
import json
import os
import statistics
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


def main():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    path = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        here, ".bench_build", "results", "runs.jsonl")
    runs = [r for r in load(path) if r.get("correct") and r.get("e2e")]
    by = defaultdict(lambda: defaultdict(list))
    probes = defaultdict(list)
    for r in runs:
        if r["trace"] == 0:
            for k, v in r["e2e"].items():
                by[r["workload"]][k].append(v)
            probes[r["workload"]].append((r["probe_before_s"], r["probe_after_s"]))
    for w in sorted(by):
        n = len(probes[w])
        print(f"== {w}: {n} untraced runs, seeds "
              f"{sorted({r['seed'] for r in runs if r['workload'] == w and r['trace'] == 0})}")
        print(f"  {'metric':22s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'spread':>8s}")
        for k, vs in by[w].items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
            print(f"  {k:22s} {med:12.4f} {q1:12.4f} {q3:12.4f} {(q3 - q1) / med:8.3f}")
        pb = [p[0] for p in probes[w]]
        pa = [p[1] for p in probes[w]]
        print(f"  probe before: median {statistics.median(pb):.3f} s "
              f"[{min(pb):.3f}, {max(pb):.3f}]; after: median {statistics.median(pa):.3f} s "
              f"[{min(pa):.3f}, {max(pa):.3f}]")
    for r in runs:
        if r["trace"] == 1 and r["workload"] in by:
            base = by[r["workload"]]
            print(f"== tracing overhead, {r['workload']} seed {r['seed']} "
                  "(traced - untraced median)")
            for k, v in r["e2e"].items():
                if not base[k]:
                    continue
                m = statistics.median(base[k])
                print(f"  {k:22s} {v - m:+12.4f} ({(v - m) / m:+.1%})")


if __name__ == "__main__":
    main()
