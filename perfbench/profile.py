#!/usr/bin/env python3
"""Profile every query of SparkEntry.queries once, and choose `surface`.

    python3 perfbench/profile.py [--seed n] [--smoke] [--json out.json]
    python3 perfbench/profile.py --from out.json

Runs the harness JVM on the `surface_full` workload with tracing on: the
same untimed warm-up as `surface`, then one pass over all queries in a
session of its own, in an order permuted by the seed. Prints, as
Markdown, each query's latency and its split into driver time (wall
outside any Spark job) and task CPU, a summary per family, and the
queries this profile selects for `surface`: their share of each
family's time and the same summary over them, to set beside the full
surface's. Correctness is
not checked here; run.py does that for the chosen queries. `--from`
prints the report again from a profile that `--json` wrote.

A query that is the first in the pass to need a build the program
memoizes per session (the graph handle, the dedup pairs, a cleaned
table) pays for it, so a query's latency here depends on the order.
"""
import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import metrics  # noqa: E402
import run  # noqa: E402

FAMILIES = ["rel", "tx", "ev", "dd", "sim", "gr", "other", "streaming"]


def profile(raw):
    """query -> its family, latency and layer split, from a traced pass."""
    L = metrics.Layers(raw)
    ms = {o["name"]: o["ms"] for o in raw["ops"] if o["ok"]}
    out = {}
    for s in L.named("op"):
        name = s["attrs"]["name"]
        if name not in ms:
            continue
        c = L.counters([s])
        out[name] = {"family": s["attrs"]["family"], "ms": ms[name],
                     "driver_ms": c["driver_s"] * 1e3, "jobs": c["jobs"],
                     "task_cpu_ms": c["task_cpu_s"] * 1e3}
    return out


def choose(prof, per_family=1):
    """A sample stratified by family and latency: each family's queries
    sorted by latency, and the ones at the middle of each of
    `per_family` equal slices (the median position, for one)."""
    picks = []
    for fam in FAMILIES:
        qs = sorted((n for n, p in prof.items() if p["family"] == fam),
                    key=lambda n: (prof[n]["ms"], n))
        picks += [qs[int((i + 0.5) * len(qs) / per_family)]
                  for i in range(min(per_family, len(qs)))]
    return picks


def report(prof, picks, cpus):
    lines = ["| query | family | ms | driver ms | task CPU ms | jobs |",
             "| --- | --- | ---: | ---: | ---: | ---: |"]
    for n, p in sorted(prof.items(), key=lambda x: (x[1]["family"], x[0])):
        mark = " **(chosen)**" if n in picks else ""
        lines.append(f"| `{n}`{mark} | {p['family']} | {p['ms']:.0f} | "
                     f"{p['driver_ms']:.0f} | {p['task_cpu_ms']:.0f} | "
                     f"{p['jobs']:.0f} |")
    lines += ["", "| family | queries | sum s | p50 ms | p90 ms | driver share "
              "| core use | chosen share of sum |",
              "| --- | ---: | ---: | ---: | ---: | ---: | ---: | ---: |"]

    def row(label, qs):
        ms = [p["ms"] for p in qs.values()]
        tot = sum(ms)
        drv = sum(p["driver_ms"] for p in qs.values()) / tot
        core = sum(p["task_cpu_ms"] for p in qs.values()) / tot / cpus
        chosen = sum(p["ms"] for n, p in qs.items() if n in picks) / tot
        return (f"| {label} | {len(ms)} | {tot / 1e3:.1f} | "
                f"{metrics.percentile(ms, 50):.0f} | "
                f"{metrics.percentile(ms, 90):.0f} | {100 * drv:.0f}% | "
                f"{100 * core:.0f}% | {100 * chosen:.1f}% |")
    for fam in FAMILIES:
        qs = {n: p for n, p in prof.items() if p["family"] == fam}
        if qs:
            lines.append(row(fam, qs))
    batch = {n: p for n, p in prof.items() if p["family"] != "streaming"}
    lines.append(row("all but streaming", batch))
    lines.append(row("all", prof))
    lines.append(row("chosen, but streaming",
                     {n: p for n, p in batch.items() if n in picks}))
    lines.append(row("chosen", {n: p for n, p in prof.items() if n in picks}))
    return "\n".join(lines)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--smoke", action="store_true", help="sf0.001 tables")
    ap.add_argument("--json", help="also write the profile here")
    ap.add_argument("--from", dest="src", help="report a saved profile")
    args = ap.parse_args()
    if args.src:
        with open(args.src) as f:
            saved = json.load(f)
        picks = choose(saved["profile"])
        print(report(saved["profile"], picks, saved["cpus"]))
        print()
        print("chosen: " + ", ".join(picks))
        return
    args.workload, args.seconds, args.trace = "surface_full", 0, 1
    run.build()
    run_dir = os.path.join(run.BUILD, "runs",
                           time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}")
    os.makedirs(run_dir)
    run.launch(args, run_dir, deadline_s=1800)
    with open(os.path.join(run_dir, "run.json")) as f:
        raw = json.load(f)
    shutil.rmtree(run_dir, ignore_errors=True)
    for o in raw["ops"]:
        if not o["ok"]:
            print(f"[profile] {o['name']} failed: {o['error']}", file=sys.stderr)
    prof = profile(raw)
    picks = choose(prof)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"profile": prof, "chosen": picks, "cpus": raw["cpus"],
                       "host": raw["host"]}, f, indent=1)
    print(report(prof, picks, raw["cpus"]))
    print()
    print("chosen: " + ", ".join(picks))


if __name__ == "__main__":
    main()
