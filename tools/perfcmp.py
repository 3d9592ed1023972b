#!/usr/bin/env python3
"""Compare a bench artifact's per-query map against PERF_r20.json's
per-query baseline (the first round with a full driver-side map).

Usage: perfcmp.py <bench_artifact.json> [perf_baseline.json]

Prints: per-query ratio table (now/prev), median/geomean over common
queries, and the biggest movers both ways. Used for the r21 task-2
adjudication of the r20 0.835 bench-total signal.
"""
import json, math, sys

bench_path = sys.argv[1]
perf_path = sys.argv[2] if len(sys.argv) > 2 else "PERF_r20.json"

bench = json.load(open(bench_path))
perf = json.load(open(perf_path))

now = bench.get("queries", {})
steady = bench.get("steady", {})
prev = {k: v["now_sec"] for k, v in perf["per_query"].items()
        if v.get("now_sec") is not None}

common = sorted(set(now) & set(prev))
if not common:
    sys.exit(f"no query is in both {bench_path} and {perf_path}")
# a zero baseline time has no ratio; such rows are left out
rows = [(q, prev[q], min(now[q], steady.get(q, now[q]))) for q in common
        if prev[q] > 0]
if not rows:
    sys.exit(f"every common query has a zero baseline time in {perf_path}")
rows = [(q, p, n, n / p) for q, p, n in rows]

ratios_sorted = sorted(r[3] for r in rows)
median = ratios_sorted[len(ratios_sorted) // 2]
ratios = [r for r in ratios_sorted if r > 0]
geomean = (math.exp(sum(math.log(r) for r in ratios) / len(ratios))
           if ratios else float("nan"))

print(f"common queries: {len(common)}, compared: {len(rows)}")
print(f"median now/prev ratio: {median:.3f}  geomean: {geomean:.3f}")
print(f"total prev: {sum(r[1] for r in rows):.1f}s  total now(best): "
      f"{sum(r[2] for r in rows):.1f}s")
print("\nbiggest slowdowns (now/prev desc):")
for q, p, n, r in sorted(rows, key=lambda x: -x[3])[:15]:
    print(f"  {q:34s} {p:7.2f} -> {n:7.2f}  x{r:.2f}")
print("\nbiggest speedups (now/prev asc):")
for q, p, n, r in sorted(rows, key=lambda x: x[3])[:15]:
    print(f"  {q:34s} {p:7.2f} -> {n:7.2f}  x{r:.2f}")
