#!/usr/bin/env python3
"""Compare two sets of benchmark runs, or check one set's spread.

    python3 perfbench/compare.py A [B] [--layers] [--overhead]

A and B are directories of run records, as run.py leaves them under
.bench_build/results/ (searched recursively). For every (workload,
metric) pair this prints each set's median, quartiles and sample count
(statistics.quantiles(values, n=4)), and a verdict against the bound that
BENCHMARK.json fixes for the metric:

  one set:  "steady" when the quartile spread is within a third of the
            bound, "noisy" when within the bound, else "too noisy";
  two sets: "worse" when B's median is worse than A's by more than the
            bound, "unresolved" when either set's spread exceeds the bound
            (unless every B run beats every A run), else "ok".

--layers adds the per-layer metrics of traced runs (no bound: change only).
--overhead reports the tracing overhead of set A: each end-to-end metric's
median over its traced runs against its median over its untraced runs.
Only correct runs count. Exits 1 when a verdict is "worse" or "too noisy".
"""
import argparse
import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load(path, trace):
    runs = []
    for f in sorted(glob.glob(os.path.join(path, "**", "*.json"), recursive=True)):
        with open(f) as fh:
            r = json.load(fh)
        if isinstance(r, dict) and r.get("correct") and r.get("trace") == trace \
                and not r.get("smoke"):
            runs.append(r)
    return runs


def values(runs, workload, metric, key):
    return [r[key][metric] for r in runs
            if r["workload"] == workload and metric in r.get(key, {})]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def spread(xs):
    q1, med, q3 = quartiles(xs)
    return (q3 - q1) / abs(med) if med else float("inf")


def fmt(xs):
    if not xs:
        return f"{'-':>36}"
    q1, med, q3 = quartiles(xs)
    return f"{med:12.5g} [{q1:10.4g},{q3:10.4g}] n={len(xs):<3d}"


def verdict_one(xs, bound):
    s = spread(xs)
    if bound is None:
        return f"spread {100 * s:5.1f}%"
    v = "steady" if s <= bound / 3 else "noisy" if s <= bound else "too noisy"
    return f"spread {100 * s:5.1f}% {v}"


def verdict_two(a, b, bound, better):
    ma, mb = statistics.median(a), statistics.median(b)
    change = (mb - ma) / abs(ma) if ma else 0.0
    worse = -change if better == "higher" else change
    text = f"change {100 * change:+6.1f}%"
    if bound is None:
        return text
    sa, sb = spread(a), spread(b)
    all_better = (min(b) > max(a)) if better == "higher" else (max(b) < min(a))
    if worse > bound:
        return text + " worse"
    if max(sa, sb) > bound and not all_better:
        return text + " unresolved"
    return text + " ok"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("a")
    ap.add_argument("b", nargs="?")
    ap.add_argument("--layers", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    ap.add_argument("--bench", default=os.path.join(ROOT, "BENCHMARK.json"))
    args = ap.parse_args()
    with open(args.bench) as f:
        bench = json.load(f)
    workloads = [w["name"] for w in bench["workloads"]]
    metrics = [(m, "end_to_end", 0) for m in bench["end_to_end"]]
    if args.layers:
        metrics += [(m, "per_layer", 1) for m in bench["per_layer"]]
    sets = {t: [load(p, t) for p in [args.a, args.b] if p] for t in (0, 1)}
    bad = False
    for w in workloads:
        print(f"== {w}")
        for m, key, trace in metrics:
            xs = [values(runs, w, m["name"], key) for runs in sets[trace]]
            if not any(xs):
                continue
            bound = m.get("bound")
            line = f"  {m['name']:<28} {m['unit']:<6}" + " ".join(fmt(x) for x in xs)
            if args.b and all(xs):
                v = verdict_two(xs[0], xs[1], bound, m["better"])
            elif xs[0]:
                v = verdict_one(xs[0], bound)
            else:
                v = ""
            bad |= v.endswith(("worse", "too noisy"))
            print(f"{line} {v}")
        if args.overhead:
            for m in bench["end_to_end"]:
                u = values(sets[0][0], w, m["name"], "end_to_end")
                t = values(sets[1][0], w, m["name"], "end_to_end")
                if u and t:
                    o = statistics.median(t) / statistics.median(u) - 1.0
                    print(f"  tracing overhead {m['name']:<18} {100 * o:+6.1f}%"
                          f" (traced n={len(t)}, untraced n={len(u)})")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
