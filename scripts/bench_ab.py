#!/usr/bin/env python3
"""Interleaved A/B bench comparison (CLAUDE.md decomposition rule).

Usage: python3 scripts/bench_ab.py [--tasks] A1.json B1.json [A2.json B2.json ...]

Odd positions = build A runs, even = build B runs. For the queries
common to both builds, prints per-family best-of-runs totals, the
family-level B/A ratio, and anchor-query deltas. Using best-of per
query across a build's runs suppresses the box's contention bursts
(the ±2x rule) — the minimum is the least-contended observation.

--tasks adds a per-query table of `n_tasks` from each file's
`task_metrics` (the bench.json record): the distinct counts seen over
each build's runs, A vs B, with every query whose counts differ marked.
Task counts are deterministic for a fixed plan, so a mark is a plan
change, not noise.
"""
import json
import sys
from collections import defaultdict


def fam(q):
    return q.split("_")[0]


def load(paths):
    per_q = defaultdict(lambda: float("inf"))
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        for q, s in d["queries"].items():
            if isinstance(s, (int, float)):
                per_q[q] = min(per_q[q], s)
    return dict(per_q)


def task_counts(paths):
    per_q = defaultdict(set)
    for p in paths:
        with open(p) as f:
            d = json.load(f)
        for q, m in d.get("task_metrics", {}).items():
            per_q[q].add(m["n_tasks"])
    return per_q


def print_tasks(paths):
    a = task_counts(paths[0::2])
    b = task_counts(paths[1::2])
    fmt = lambda s: "/".join(str(n) for n in sorted(s)) if s else "-"
    print(f"\n{'query':<32} {'A_tasks':>9} {'B_tasks':>9}")
    for q in sorted(set(a) | set(b)):
        mark = "  <-- differs" if a.get(q) != b.get(q) else ""
        print(f"{q:<32} {fmt(a.get(q)):>9} {fmt(b.get(q)):>9}{mark}")
    ta = sum(min(s) for q, s in a.items() if q in b)
    tb = sum(min(s) for q, s in b.items() if q in a)
    print(f"{'TOTAL (common, min)':<32} {ta:>9} {tb:>9}")


def main():
    args = sys.argv[1:]
    tasks = "--tasks" in args
    paths = [p for p in args if p != "--tasks"]
    a = load(paths[0::2])
    b = load(paths[1::2])
    common = sorted(set(a) & set(b))
    only_b = sorted(set(b) - set(a))
    fa, fb = defaultdict(float), defaultdict(float)
    for q in common:
        fa[fam(q)] += a[q]
        fb[fam(q)] += b[q]
    print(f"common queries: {len(common)}  (B-only: {len(only_b)})")
    print(f"{'family':<10} {'A_sec':>8} {'B_sec':>8} {'B/A':>6}  n")
    ta = tb = 0.0
    for f in sorted(fa):
        n = sum(1 for q in common if fam(q) == f)
        r = fb[f] / fa[f] if fa[f] > 0 else float("nan")
        flag = "  <-- investigate" if r > 1.5 and fb[f] - fa[f] > 1.0 else ""
        print(f"{f:<10} {fa[f]:>8.2f} {fb[f]:>8.2f} {r:>6.2f} {n:>3}{flag}")
        ta += fa[f]
        tb += fb[f]
    print(f"{'TOTAL':<10} {ta:>8.2f} {tb:>8.2f} {tb/ta:>6.2f} {len(common):>3}")
    worst = sorted(common, key=lambda q: b[q] - a[q], reverse=True)[:8]
    print("\nlargest absolute regressions (B - A seconds):")
    for q in worst:
        print(f"  {q:<28} {a[q]:>7.2f} -> {b[q]:>7.2f}  (+{b[q]-a[q]:.2f})")
    if tasks:
        print_tasks(paths)


if __name__ == "__main__":
    main()
