"""Turn one harness run (the JVM's run.json) into the benchmark's metrics.

End-to-end metrics are measured with tracing off; per-layer metrics come
from a separate traced run, as per-pass means. Every layer metric is
computed from spans the harness recorded around calls into the program's
modules, and from the Spark jobs, stages, planning phases and streaming
progress that the traced run's listeners saw. Jobs are attributed to the innermost
span open when they started: operations run one at a time, so time alone
places a job, including the broadcast-exchange jobs that carry no job
group.
"""
import math
import statistics

FAMILIES = ["rel", "tx", "ev", "dd", "sim", "gr", "other"]


# ---- helpers -------------------------------------------------------------

def percentile(values, q):
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def harmonic_rate(times_s, work):
    """Harmonic-mean rate: n / sum(t_i / w_i). With w_i the traversed
    edges of a BFS run this is Graph500's harmonic-mean TEPS."""
    if not times_s:
        raise ValueError("rate of no samples")
    return len(times_s) / sum(t / w for t, w in zip(times_s, work))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals, start, end):
    return [(max(s, start), min(e, end)) for s, e in intervals
            if e > start and s < end]


def self_times(spans):
    """span id -> its duration minus the part its child spans cover (ms)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        dur = s["end_ms"] - s["start_ms"]
        out[s["id"]] = dur - union_length(clip(kids, s["start_ms"], s["end_ms"]))
    return out


def attribute(spans, t_ms):
    """The innermost span open at time t_ms (nested spans start later than
    their parents), or None."""
    best = None
    for s in spans:
        if s["start_ms"] <= t_ms < s["end_ms"]:
            if best is None or s["start_ms"] >= best["start_ms"]:
                best = s
    return best


def subtree_ids(spans, roots):
    """Ids of the given spans and all their descendants."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s["id"])
    out, todo = set(), [r["id"] for r in roots]
    while todo:
        i = todo.pop()
        if i not in out:
            out.add(i)
            todo.extend(children.get(i, []))
    return out


# ---- end-to-end ----------------------------------------------------------

def end_to_end(raw):
    """End-to-end metrics over every timed pass of a run: medians over
    passes of the pass wall and of each pass's mean operation latency.

    On g500_* an operation is one root's run, its BFS and validation; the
    BFS part alone gives the recorded bfs_ms percentiles and the
    harmonic-mean TEPS. On g500_dist every root of a pass shares one
    batched search and validation and gets their walls / roots, so a pass
    is one real sample, and `samples` counts passes there; elsewhere it
    counts the successful operations."""
    passes = raw["passes"]
    ops = [o for o in raw["ops"] if o["ok"]]
    if not passes or not ops:
        return {}
    ms = [o["ms"] for o in ops]
    by_pass = {}
    for o in ops:
        by_pass.setdefault(o["pass"], []).append(o["ms"])
    out = {
        "setup_s": raw["setup_s"],
        "pass_s": statistics.median(p["wall_s"] for p in passes),
        "op_ms_mean": statistics.median(statistics.fmean(v)
                                        for v in by_pass.values()),
        "op_ms_p50": percentile(ms, 50),
        "op_ms_p80": percentile(ms, 80),
        "heap_peak_mb": raw["heap_peak_mb"],
        "samples": len(by_pass) if raw["workload"] == "g500_dist" else len(ms),
        "passes": len(passes),
    }
    if raw["workload"].startswith("g500"):
        bfs = [o["bfs_ms"] for o in ops]
        out["bfs_ms_p50"] = percentile(bfs, 50)
        out["bfs_ms_p80"] = percentile(bfs, 80)
        out["hm_rate"] = harmonic_rate([b / 1e3 for b in bfs],
                                       [o["work"] for o in ops])
    else:
        out["hm_rate"] = len(ms) / (sum(ms) / 1e3)
    return out


# ---- per layer -----------------------------------------------------------

class Layers:
    """Per-layer accounting over the passes of one traced run."""

    def __init__(self, raw):
        tr = raw["trace"]
        self.n = max(len(raw["passes"]), 1)
        self.spans = raw["spans"]
        t0 = min((s["start_ms"] for s in self.spans), default=0.0)
        self.jobs = [j for j in tr["jobs"] if j["start_ms"] >= t0]
        self.job_span = {}
        for j in self.jobs:
            s = attribute(self.spans, j["start_ms"])
            if s is not None:
                self.job_span[j["job"]] = s["id"]
        self.stages = tr["stages"]
        self.plans = [p for p in tr["plans"] if p["at_ms"] >= t0]
        self.progress = [p for p in tr["progress"] if p["start_ms"] >= t0]

    def named(self, name, family=None):
        return [s for s in self.spans if s["name"] == name and
                (family is None or s["attrs"].get("family") == family)]

    def counters(self, spans):
        """Per-pass wall, jobs, tasks, task CPU, GC, shuffle write, spill
        and driver time of a set of spans (their subtrees included)."""
        ids = subtree_ids(self.spans, spans)
        jobs = [j for j in self.jobs if self.job_span.get(j["job"]) in ids]
        job_ids = {j["job"] for j in jobs}
        st = [s for s in self.stages if s["job"] in job_ids]
        wall_ms = sum(s["end_ms"] - s["start_ms"] for s in spans)
        busy_ms = 0.0
        for s in spans:
            sub = subtree_ids(self.spans, [s])
            iv = [(j["start_ms"], j["end_ms"]) for j in jobs
                  if self.job_span[j["job"]] in sub]
            busy_ms += union_length(clip(iv, s["start_ms"], s["end_ms"]))
        n = self.n
        return {
            "wall_s": wall_ms / 1e3 / n,
            "driver_s": (wall_ms - busy_ms) / 1e3 / n,
            "jobs": len(jobs) / n,
            "tasks": sum(s["tasks"] for s in st) / n,
            "task_cpu_s": sum(s["cpu_ns"] for s in st) / 1e9 / n,
            "gc_s": sum(s["gc_ms"] for s in st) / 1e3 / n,
            "shuffle_write_mb": sum(s["shuffle_write_bytes"] for s in st) / 1e6 / n,
            "spill_mb": sum(s["spill_bytes"] for s in st) / 1e6 / n,
        }

    def inside(self, events, spans, key="start_ms"):
        return [e for e in events
                if any(s["start_ms"] <= e[key] < s["end_ms"] for s in spans)]


def per_layer(raw):
    L = Layers(raw)
    n = L.n
    m = {}

    gen = L.named("gen")
    c = L.counters(gen)
    edges = sum(s["attrs"].get("edges", 0) for s in gen)
    m["gen.wall_s"] = c["wall_s"]
    m["gen.task_cpu_s"] = c["task_cpu_s"]
    m["gen.edges_per_s"] = edges / n / c["wall_s"] if c["wall_s"] > 0 else 0.0
    m["gen.roots_ms"] = L.counters(L.named("gen.roots"))["wall_s"] * 1e3

    c = L.counters(L.named("bfs.prepare"))
    for k in ["wall_s", "driver_s", "task_cpu_s", "shuffle_write_mb",
              "spill_mb", "gc_s"]:
        m["bfs.prepare." + k] = c[k]

    search = L.named("bfs.search")
    levels = [s["attrs"]["levels"] for s in search if "levels" in s["attrs"]]
    fronts = [s["attrs"]["max_frontier"] for s in search
              if "max_frontier" in s["attrs"]]
    m["bfs.search.levels"] = statistics.mean(levels) if levels else 0.0
    m["bfs.search.max_frontier"] = max(fronts) if fronts else 0.0
    c = L.counters(search)
    for k in ["wall_s", "jobs", "tasks", "task_cpu_s", "driver_s",
              "shuffle_write_mb"]:
        m["bfs.search." + k] = c[k]

    c = L.counters(L.named("validate"))
    for k in ["wall_s", "jobs", "task_cpu_s", "driver_s", "shuffle_write_mb"]:
        m["validate." + k] = c[k]

    m["stats.wall_ms"] = L.counters(L.named("stats"))["wall_s"] * 1e3

    for fam in FAMILIES:
        ops = L.named("op", fam)
        c = L.counters(ops)
        builds = [s for s in L.named("build") if s["parent"] in
                  {o["id"] for o in ops}]
        p = "ops." + fam + "."
        m[p + "wall_s"] = c["wall_s"]
        m[p + "build_s"] = L.counters(builds)["wall_s"]
        m[p + "plan_ms"] = sum(x["plan_ms"]
                               for x in L.inside(L.plans, ops, "at_ms")) / n
        for k in ["jobs", "tasks", "task_cpu_s", "driver_s", "shuffle_write_mb"]:
            m[p + k] = c[k]

    ops = L.named("op", "streaming")
    prog = L.inside(L.progress, ops)
    trig = [x["duration_ms"].get("triggerExecution", 0) for x in prog]
    dur = lambda key: sum(x["duration_ms"].get(key, 0) for x in prog) / 1e3 / n
    last = {}
    for x in sorted(prog, key=lambda x: x["batch"]):
        last[x["query"]] = x["state_rows"]
    c = L.counters(ops)
    m["streaming.batches"] = len(prog) / n
    m["streaming.batch_ms_p50"] = percentile(trig, 50) if trig else 0.0
    m["streaming.batch_ms_p90"] = percentile(trig, 90) if trig else 0.0
    m["streaming.add_batch_s"] = dur("addBatch")
    m["streaming.wal_commit_s"] = dur("walCommit") + dur("commitOffsets")
    m["streaming.planning_s"] = dur("queryPlanning")
    m["streaming.state_commit_s"] = sum(x["state_commit_ms"] for x in prog) / 1e3 / n
    m["streaming.state_rows"] = sum(last.values()) / n
    m["streaming.task_cpu_s"] = c["task_cpu_s"]
    m["streaming.driver_s"] = c["driver_s"]
    return m


def self_time_by_name(raw):
    """Total self time per span name (s)."""
    spans = raw["spans"]
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e3
    return out
