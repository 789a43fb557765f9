"""Per-layer metrics from a traced run (run.json + spans.jsonl).

Span tree per execution: `exec` (harness) -> `construct` / `Prepared.freshRdd`
/ `drain` (harness, around each public call) -> `catalyst.<phase>` (the
Dataset's QueryPlanningTracker, placed inside the call that ran it) ->
`spark.job` (parent named by the job's local property) -> `spark.stage`.
A span's self time is its duration minus the union of its children's
intervals (children clipped to the parent).
"""
import json
import os
import statistics
from collections import defaultdict

# name, unit; every traced run reports all of them (0 where a layer is idle)
PER_LAYER = [
    ("Engine.create_s", "s"), ("datagen_s", "s"), ("prepare_s", "s"),
    ("Prepared.hit_s", "s"), ("Prepared.miss_s", "s"),
    ("Prepared.rdd_reuse_ratio", "ratio"), ("Prepared.rebuild_jobs", "count"),
    ("exec.driver_gap_s", "s"), ("exec.stages", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"),
    ("plans.SampleJoinReorder_s", "s"), ("plans.DecorrelateComplexAggs_s", "s"),
    ("plans.TinySinglePartitionSort_s", "s"), ("plans.optimizer_jobs", "count"),
    ("scan.time_s", "s"), ("scan.input_bytes", "bytes"), ("join.build_s", "s"),
    ("agg.build_s", "s"), ("sort.time_s", "s"), ("shuffle.write_bytes", "bytes"),
    ("shuffle.read_bytes", "bytes"),
    ("shuffle.records_written", "count"), ("exec.task_cpu_s", "s"),
    ("exec.core_busy_ratio", "ratio"), ("exec.gc_s", "s"), ("spill.bytes", "bytes"),
    ("trace.pass_s", "s"), ("trace.accounted_ratio", "ratio"),
]
# Measured and printed, but not published as metrics: in local mode no block
# is fetched remotely, so the fetch wait is 0 on every run, and the listener's
# overhead has no untraced twin pass on adhoc_suites (each query runs once).
DIAGNOSTICS = ["shuffle.fetch_wait_s", "trace.overhead_s"]

# Spark SQL metric display name -> layer metric
SQL_METRICS = {"scan time": "scan.time_s", "time to build hash map": "join.build_s",
               "time in aggregation build": "agg.build_s", "sort time": "sort.time_s"}
TIME_SCALE = {"timing": 1e-3, "nsTiming": 1e-9}


def union_len(intervals):
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def family(query):
    return query.split("_")[0]


def load(out_dir):
    run = json.load(open(os.path.join(out_dir, "run.json")))
    spans = [json.loads(line) for line in open(os.path.join(out_dir, "spans.jsonl"))]
    for s in spans:  # harness ids are numbers, Spark's are "job-N"/"stage-N.A"
        for k in ("id", "parent", "exec"):
            if k in s:
                s[k] = str(s[k])
    for e in run["execs"]:
        e["id"] = str(e["id"])
    return run, spans


def build_tree(run, spans):
    """Spans keyed by id with children lists; Spark jobs whose local property
    is missing are attached to the innermost harness span covering them."""
    by_id = {s["id"]: dict(s, children=[]) for s in spans}
    harness = [s for s in by_id.values() if not s["id"].startswith(("job-", "stage-"))]
    root_of = {}
    for s in harness:
        if s["name"] == "exec":
            root_of[s["exec"]] = s
    # catalyst phases recorded by each Dataset's tracker, inside the harness
    # call that ran them
    for q, rec in run.get("planning", {}).items():
        for ph in ("analysis", "optimization", "planning"):
            if f"start.{ph}" not in rec:
                continue
            s0, s1 = rec[f"start.{ph}"], rec[f"end.{ph}"]
            host = innermost(harness, s0, s1, names=("construct", "Prepared.freshRdd"))
            if host is not None:
                sid = f"catalyst-{q}-{ph}"
                by_id[sid] = {"id": sid, "parent": host["id"], "exec": host["exec"],
                              "name": f"catalyst.{ph}", "start_us": s0, "end_us": s1,
                              "children": []}
    for s in list(by_id.values()):
        p = s.get("parent", "")
        if s["id"].startswith("job-") and p not in by_id:
            host = innermost(harness, s["start_us"], s["start_us"])
            p = host["id"] if host else ""
            s["parent"] = p
        if p in by_id:
            by_id[p]["children"].append(s)
    return by_id, root_of


def innermost(harness, s0, s1, names=None):
    best = None
    for h in harness:
        if names and h["name"] not in names:
            continue
        if h["start_us"] - 1000 <= s0 and s1 <= h["end_us"] + 1000:
            if best is None or h["end_us"] - h["start_us"] < best["end_us"] - best["start_us"]:
                best = h
    return best


def self_times(root, acc):
    """Partition the root's wall among the spans below it: each instant goes
    to the deepest spans active then (split evenly when parallel stages or
    jobs overlap), so the layer self-times sum exactly to the root's wall and
    overlapping work is not counted twice. Children are clipped to their
    parents."""
    active = []

    def walk(span, depth, lo, hi):
        s0, s1 = max(span["start_us"], lo), min(span["end_us"], hi)
        if s1 <= s0:
            return
        active.append((s0, s1, depth, span["name"]))
        for c in span["children"]:
            walk(c, depth + 1, s0, s1)

    walk(root, 0, root["start_us"], root["end_us"])
    cuts = sorted({t for a in active for t in a[:2]})
    for t0, t1 in zip(cuts, cuts[1:]):
        live = [a for a in active if a[0] <= t0 and t1 <= a[1]]
        if not live:
            continue
        deepest = max(a[2] for a in live)
        top = [a for a in live if a[2] == deepest]
        for a in top:
            acc[a[3]] += (t1 - t0) / 1e6 / len(top)


def descendants(span, name):
    out = []
    for c in span["children"]:
        if c["name"] == name:
            out.append(c)
        out.extend(descendants(c, name))
    return out


def per_layer(out_dir, cores):
    run, spans = load(out_dir)
    by_id, roots = build_tree(run, spans)
    m = {name: 0.0 for name in [n for n, _ in PER_LAYER] + DIAGNOSTICS}
    setups = run["setups"]
    m["Engine.create_s"] = statistics.median(s["engine_create_s"] for s in setups)
    m["datagen_s"] = statistics.median(s["datagen_s"] for s in setups)
    m["prepare_s"] = statistics.median(s["prepare_s"] for s in setups)

    passes = run["passes_rec"]
    adhoc = run["data"] == ""
    traced_passes = [p for p in passes if p["traced"] == 1 and (adhoc or p["pass"] > 0)]
    untraced = [p for p in passes if p["traced"] == 0 and p["pass"] > 0]
    window = {int(p["pass"]) for p in traced_passes}
    n = max(1, len(window))
    in_window = [e for e in run["execs"] if int(e["pass"]) in window]
    calls = [e for e in run["execs"] if int(e["rdd"]) >= 0]

    def freshrdd(e):
        root = roots.get(e["id"])
        return [c for c in root["children"] if c["name"] == "Prepared.freshRdd"] if root else []

    hit = [e for e in in_window if e["phase"] == "measured"]
    m["Prepared.hit_s"] = sum((c["end_us"] - c["start_us"]) / 1e6
                              for e in hit for c in freshrdd(e)) / n
    m["Prepared.miss_s"] = sum((c["end_us"] - c["start_us"]) / 1e6
                               for e in run["execs"] if e["phase"] == "first"
                               for c in freshrdd(e))
    m["Prepared.rdd_reuse_ratio"] = (sum(bool(e["reused"]) for e in calls) / len(calls)
                                     if calls else 0.0)
    m["Prepared.rebuild_jobs"] = sum(len(descendants(c, "spark.job"))
                                     for e in hit for c in freshrdd(e)) / n

    stages = []
    gap = 0.0
    for e in in_window:
        root = roots.get(e["id"])
        if root is None:
            continue
        st = descendants(root, "spark.stage")
        stages.extend(st)
        ivs = [(max(s["start_us"], root["start_us"]), min(s["end_us"], root["end_us"]))
               for s in st]
        gap += (root["end_us"] - root["start_us"] - union_len([i for i in ivs if i[1] > i[0]])) / 1e6
    m["exec.driver_gap_s"] = gap / n
    m["exec.stages"] = len(stages) / n

    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = sum(r.get(f"phase.{ph}", 0.0) for r in run["planning"].values())
    for rule, secs in run["rules_s"].items():
        m[f"plans.{rule}_s"] = secs
    jobs = [s for s in by_id.values() if s["name"] == "spark.job"]
    opt = [(r["start.optimization"], r["end.optimization"]) for r in run["planning"].values()
           if "start.optimization" in r]
    m["plans.optimizer_jobs"] = sum(any(a - 1000 <= j["start_us"] <= b + 1000 for a, b in opt)
                                    for j in jobs)

    wall = sum(p["wall_s"] for p in traced_passes)
    run_ms = 0
    for s in stages:
        a = s.get("attrs", {})
        run_ms += a.get("run_ms", 0)
        m["scan.input_bytes"] += a.get("input_bytes", 0) / n
        m["shuffle.write_bytes"] += a.get("shuffle_write_bytes", 0) / n
        m["shuffle.read_bytes"] += a.get("shuffle_read_bytes", 0) / n
        m["shuffle.fetch_wait_s"] += a.get("fetch_wait_ms", 0) / 1e3 / n
        m["shuffle.records_written"] += a.get("shuffle_records_written", 0) / n
        m["exec.task_cpu_s"] += a.get("cpu_ns", 0) / 1e9 / n
        m["spill.bytes"] += a.get("disk_spill_bytes", 0) / n
        for key, v in a.get("sql", {}).items():
            name, _, typ = key.rpartition("|")
            if name in SQL_METRICS and typ in TIME_SCALE:
                m[SQL_METRICS[name]] += v * TIME_SCALE[typ] / n
    m["exec.core_busy_ratio"] = run_ms / 1e3 / (wall * cores) if wall else 0.0
    m["exec.gc_s"] = sum(p.get("gc_s", 0.0) for p in traced_passes) / n

    m["trace.pass_s"] = statistics.median(p["wall_s"] for p in traced_passes) \
        if traced_passes else 0.0
    if untraced and traced_passes and not adhoc:
        m["trace.overhead_s"] = m["trace.pass_s"] - statistics.median(
            p["wall_s"] for p in untraced)

    # wall accounting: per query family, the layer self-times below each
    # execution root must cover its measured wall
    fam = defaultdict(lambda: defaultdict(float))
    fam_wall = defaultdict(float)
    for e in run["execs"]:
        root = roots.get(e["id"])
        if root is None:
            continue
        acc = defaultdict(float)
        self_times(root, acc)
        f = family(e["query"])
        for k, v in acc.items():
            fam[f][k] += v
        fam_wall[f] += (e["end_us"] - e["start_us"]) / 1e6
    accounting = {}
    for f, layers in fam.items():
        covered = sum(v for k, v in layers.items() if k != "exec")
        accounting[f] = {"wall_s": fam_wall[f], "accounted_s": covered,
                         "ratio": covered / fam_wall[f] if fam_wall[f] else 0.0,
                         "self_s": dict(sorted(layers.items()))}
    m["trace.accounted_ratio"] = min((a["ratio"] for a in accounting.values()), default=0.0)
    return m, accounting
