#!/usr/bin/env python3
"""graft benchmark: one run of one workload, from the root of a checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the program and the harness from source on first use (sbt,
offline), runs the workload in one JVM on local[nproc] with a heap sized
from MemTotal, checks every output, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (--trace 0) or the per-layer metrics
(--trace 1) named in BENCHMARK.json. Exits 1 when a correctness check
fails and 2 when the checkout cannot be built or run. Every run also
leaves its full record, host-noise figures included, under
.bench_build/results/ for perfbench/compare.py.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
# BENCHMARK.json's workloads, and g500_dist, the distributed protocol,
# which is run on demand (perfbench/README.md says why it is not there)
WORKLOADS = ["g500_kernel", "g500_dist", "surface"]
# the harness JVM's time limit; a run spends a few seconds more outside
# it, and a first run also builds before it
DEADLINE_S = 165
START = time.time()

sys.path.insert(0, HERE)
import metrics  # noqa: E402
import oracle  # noqa: E402


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def build():
    """sbt compile of the program and the harness; writes LAUNCH."""
    if os.path.exists(LAUNCH):
        return
    for p in ["build.sbt", os.path.join("src", "main", "scala")]:
        if not os.path.exists(os.path.join(ROOT, p)):
            fail(f"no {p} at {ROOT}: not a graft checkout")
    if shutil.which("sbt") is None:
        fail("sbt not found")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmpdir()}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "launchFile"], cwd=HERE, env=env,
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True)
    if r.returncode != 0 or not os.path.exists(LAUNCH):
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)


def tmpdir():
    d = os.path.join(BUILD, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def heap():
    """MemTotal/2 in GiB, clamped to 2..8 g (as the tier-1 test command)."""
    g = 2
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    g = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(max(g, 2), 8)}g"


def cpus():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def launch(args, run_dir, deadline_s=DEADLINE_S):
    with open(LAUNCH) as f:
        lines = f.read().splitlines()
    cp = lines[lines.index("-cp") + 1]
    opts = [o for o in lines[:lines.index("-cp")]
            if not o.startswith(("-Xmx", "-Xms"))]
    h = heap()
    spark_tmp = os.path.join(tmpdir(), "spark")
    os.makedirs(spark_tmp, exist_ok=True)
    cmd = (["java"] + opts +
           [f"-Xmx{h}", f"-Xms{h}", f"-Djava.io.tmpdir={tmpdir()}",
            f"-Dspark.local.dir={spark_tmp}", "-cp", cp,
            "graft.perfbench.Main", args.workload, str(args.seed),
            str(args.seconds), str(args.trace), "1" if args.smoke else "0",
            str(cpus()), data_dir(args), run_dir])
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log)
        try:
            code = p.wait(timeout=deadline_s)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness JVM timed out")
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.exists(os.path.join(run_dir, "run.json")):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness JVM exited with {code}")


def data_dir(args):
    return os.path.join(HERE, "data", "sf0.001" if args.smoke else "sf0.01")


def check_outputs(raw, args):
    """query -> mismatch reason, for every output that fails its oracle."""
    orc = oracle.Oracle(data_dir(args), os.path.join(BUILD, "oracle"))
    bad = {}
    for name, path in raw["outputs"].items():
        sql = raw["oracle_sql"].get(name)
        if sql is None:
            bad[name] = "no oracle"
            continue
        try:
            why = orc.check(path, sql)
        except Exception as e:  # an oracle that cannot run is a failed check
            why = f"oracle error: {e}"
        if why:
            bad[name] = why
    return bad


def summarize(raw, args, mismatched):
    problems = []
    if raw.get("error"):
        problems.append("harness error: " + raw["error"])
    # an output that fails its oracle fails every execution of that query
    for o in raw["ops"]:
        if o["name"] in mismatched and o["ok"]:
            o["ok"] = False
            o["error"] = "oracle mismatch: " + mismatched[o["name"]]
    failed = [o for o in raw["ops"] if not o["ok"]]
    for o in failed[:10]:
        problems.append(f"{o['name']} (pass {o['pass']}): {o['error']}")
    c = raw["checks"]
    if c["validation_errors"]:
        problems.append(f"{c['validation_errors']} validation errors")
    if c.get("golden_nedge") is not None and c["max_nedge"] != c["golden_nedge"]:
        problems.append(f"max nedge {c['max_nedge']} != golden {c['golden_nedge']}")
    attempted = len(raw["ops"])
    if attempted == 0:
        problems.append("no operation ran")
    e2e = metrics.end_to_end(raw)
    if not e2e:
        problems.append("no successful operation to time")
    return problems, attempted, len(failed), e2e


def overhead(args, traced_e2e):
    """Tracing overhead: this traced run's end-to-end metrics against the
    medians of the untraced runs of the same workload in this checkout,
    as percentages; empty until such runs exist."""
    base = {}
    for f in glob.glob(os.path.join(BUILD, "results", args.workload, "*.json")):
        with open(f) as fh:
            r = json.load(fh)
        if (r["trace"] == 0 and r["correct"] and r["smoke"] == args.smoke and
                r["seconds"] == args.seconds):
            for k, v in r["end_to_end"].items():
                base.setdefault(k, []).append(v)
    return {k: 100.0 * (traced_e2e[k] / statistics.median(v) - 1.0)
            for k, v in base.items()
            if k in traced_e2e and k not in ("samples", "passes")}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs (SCALE 8-10, sf0.001) for the smoke test")
    args = ap.parse_args()
    if not os.path.exists(os.path.join(ROOT, "BENCHMARK.json")):
        fail(f"no BENCHMARK.json at {ROOT}")
    bench = spec()
    build()

    stamp = time.strftime("%Y%m%dT%H%M%S") + f"-{os.getpid()}"
    run_dir = os.path.join(BUILD, "runs", stamp)
    os.makedirs(run_dir)
    t_jvm = time.time()
    launch(args, run_dir)
    t_jvm = time.time() - t_jvm
    with open(os.path.join(run_dir, "run.json")) as f:
        raw = json.load(f)
    mismatched = check_outputs(raw, args)
    problems, attempted, failed, e2e = summarize(raw, args, mismatched)

    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    layers = metrics.per_layer(raw) if args.trace else {}
    values = layers if args.trace else e2e
    names = [m["name"] for m in bench["per_layer" if args.trace else "end_to_end"]]
    missing = [n for n in names if n not in values]
    if missing and not problems:
        problems.append(f"metrics not measured: {missing}")
    out = {n: {"value": values[n], "unit": units[n]} for n in names if n in values}
    correct = not problems

    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "smoke": args.smoke, "correct": correct,
        "attempted": attempted, "failed": failed, "problems": problems,
        "samples": e2e.get("samples", 0), "end_to_end": e2e,
        "tracing_overhead_pct": overhead(args, e2e) if args.trace else {},
        "per_layer": layers,
        "self_s": metrics.self_time_by_name(raw) if args.trace else {},
        "op_ms": {o["name"]: o["ms"] for o in raw["ops"] if o["ok"]},
        "passes": raw["passes"], "host": raw["host"],
        "heap_max_mb": raw["heap_max_mb"],
        "heap_committed_mb": raw["heap_committed_mb"], "cpus": raw["cpus"],
        "oracle_mismatches": mismatched,
    }
    res_dir = os.path.join(BUILD, "results", args.workload)
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{stamp}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(record, f, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)

    host = raw["host"]
    print(f"[perfbench] {args.workload} seed {args.seed}: {attempted} ops, "
          f"{failed} failed, {e2e.get('samples', 0)} timed samples, "
          f"{len(raw['passes'])} passes; steal {host['steal_pct_of_busy']:.2f}% "
          f"of busy; calibration cpu {host['calibration_pre']['kernel_cpu_s']:.3f}"
          f" -> {host['calibration_post']['kernel_cpu_s']:.3f} s; "
          f"{raw['cpus']} cpus, heap {raw['heap_max_mb']:.0f} MB; "
          f"JVM {t_jvm:.1f} s of {time.time() - START:.1f} s", file=sys.stderr)
    for k, v in record["tracing_overhead_pct"].items():
        print(f"[perfbench]   tracing overhead {k}: {v:+.1f}%", file=sys.stderr)
    for n in names:
        if n in values:
            print(f"[perfbench]   {n} = {values[n]:.6g} {units[n]}", file=sys.stderr)
    if not args.trace:
        print("[perfbench]   recorded, unbounded: " + ", ".join(
            f"{k} = {e2e[k]:.6g}" for k in ["op_ms_p50", "op_ms_p80", "bfs_ms_p50",
                                            "bfs_ms_p80", "hm_rate",
                                            "heap_peak_mb"]
            if k in e2e), file=sys.stderr)
    for p in problems:
        print(f"[perfbench] FAILED CHECK: {p}", file=sys.stderr)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
