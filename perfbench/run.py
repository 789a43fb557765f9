#!/usr/bin/env python3
"""graft engine benchmark: one command, one JVM per run, one client in flight.

Usage (from the root of a graft checkout):
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      [--tamper-oracle <query>]

Builds the engine and harness from source (perfbench/build.py), prepares the
data once, runs graftbench.Harness for the workload, checks every query's
result against DuckDB (perfbench/oracle.py) and prints the metrics, one line
each with its unit, then one JSON object as the last line of stdout. With
--trace 0 those are the end-to-end metrics; with --trace 1 the per-layer
metrics of perfbench/layers.py. A wrong result makes the run exit with 1.
See perfbench/README.md for the workloads and what each metric means.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import build  # noqa: E402
import oracle  # noqa: E402
import layers  # noqa: E402

WORKLOADS = ("olap_prepared_sf01", "olap_scan_sf1", "dedup_sf01", "adhoc_suites")

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("latency_p50_s", "s"),
              ("latency_tail_s", "s"), ("first_exec_s", "s"),
              ("success_ratio", "ratio"), ("heap_peak_mb", "MB")]

# the harness JVM alone; compilation and data generation are timed apart
RUN_TIMEOUT_S = 170


def tail(values):
    """The highest percentile with at least ten samples above it: the 11th
    largest value, with its percentile rank and the sample count."""
    s = sorted(values)
    n = len(s)
    if n < 11:
        raise build.BenchError(f"{n} latency samples; the tail needs at least 11")
    return s[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(run, failed, attempted):
    """End-to-end metrics over the untraced measured passes (ad-hoc: its one
    pass, in which every execution is a first execution)."""
    adhoc = run["data"] == ""
    passes = [p for p in run["passes_rec"] if adhoc or (p["pass"] > 0 and p["traced"] == 0)]
    ids = {p["pass"] for p in passes}
    measured = [e for e in run["execs"] if e["pass"] in ids and not e["error"]]
    lat = [(e["end_us"] - e["start_us"]) / 1e6 for e in measured]
    t, pct, n = tail(lat)
    # p50: the median over queries of each query's median latency. Pooling
    # the samples instead puts the median between the slowest "light" and the
    # fastest "heavy" query's extreme samples, a gap that jumps from run to run.
    per_query = {}
    for e in measured:
        per_query.setdefault(e["query"], []).append((e["end_us"] - e["start_us"]) / 1e6)
    first = [(e["end_us"] - e["start_us"]) / 1e6 for e in run["execs"] if e["phase"] == "first"]
    m = {"setup_s": statistics.median(s["total_s"] for s in run["setups"]),
         "pass_s": statistics.median(p["wall_s"] for p in passes),
         "latency_p50_s": statistics.median(statistics.median(v) for v in per_query.values()),
         "latency_tail_s": t,
         "first_exec_s": sum(first),
         "success_ratio": 1.0 - failed / attempted,
         "heap_peak_mb": max(run["heap_mb"])}
    info = {"tail_percentile": round(pct, 2), "latency_samples": n,
            "failed_ratio": failed / attempted,
            "pass_walls_s": [p["wall_s"] for p in passes],
            "setup_s": [s["total_s"] for s in run["setups"]],
            "latency_by_query_s": {q: [round((e["end_us"] - e["start_us"]) / 1e6, 4)
                                       for e in run["execs"] if e["query"] == q]
                                   for q in run["queries"]}}
    return m, info


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tamper-oracle", metavar="QUERY",
                    help="self-test: tamper DuckDB's answer for QUERY; the run must fail")
    a = ap.parse_args()

    cp = build.build()
    build.ensure_data(cp, sf1=a.workload == "olap_scan_sf1")

    out = os.path.join(build.ROOT, ".bench_out", f"{a.workload}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cmd = build.java_cmd(cp, "graftbench.Harness", [
        a.workload, str(a.seed), str(a.seconds), str(a.trace), out, build.SF01, build.SF1])
    log = os.path.join(out, "harness.log")
    rc = build.run_jvm(cmd, log, RUN_TIMEOUT_S)
    if rc != 0 or not os.path.exists(os.path.join(out, "run.json")):
        sys.stderr.write(open(log).read()[-4000:])
        raise build.BenchError(f"harness exited with {rc}; see {log}")
    run = json.load(open(os.path.join(out, "run.json")))

    data_dir = {"olap_scan_sf1": build.SF1, "adhoc_suites": ""}.get(a.workload, build.SF01)
    report = oracle.check(out, data_dir, os.path.join(build.DATA, "oracle.duckdb"),
                          os.path.join(build.DATA, "oracle_cache"), a.tamper_oracle)
    with open(os.path.join(out, "check.json"), "w") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    bad = {q for q, r in report.items() if not r["ok"]}
    bad |= set(run["check_errors"]) | (set(run["queries"]) - set(report))
    attempted = len(run["execs"])
    failed = sum(1 for e in run["execs"] if e["error"] or e["query"] in bad)
    for q in sorted(bad):
        print(f"[perfbench] WRONG RESULT {q}: "
              f"{report.get(q, {}).get('detail') or run['check_errors'].get(q, 'no oracle')}",
              file=sys.stderr)

    e2e, info = end_to_end(run, failed, attempted)
    if a.trace:
        layer, accounting = layers.per_layer(out, int(run["cores"]))
        with open(os.path.join(out, "trace_summary.json"), "w") as f:
            json.dump({"per_layer": layer, "accounting": accounting}, f, indent=1)
        metrics = {k: {"value": layer[k], "unit": u} for k, u in layers.PER_LAYER}
        for fam, acc in sorted(accounting.items()):
            print(f"accounted {fam:8s} {acc['accounted_s']:.4f} s of {acc['wall_s']:.4f} s "
                  f"wall ({100 * acc['ratio']:.1f}%)")
        if layer["trace.accounted_ratio"] < 0.9:
            raise build.BenchError("the trace's layers cover less than 90% of the wall "
                                   "of some query family; see trace_summary.json")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    print(f"workload {a.workload} seed {a.seed} passes {run['passes']} "
          f"queries {len(run['queries'])} executions {attempted}")
    for k, u in END_TO_END:
        print(f"{k:24s} {e2e[k]:.6g} {u}")
    print(f"{'failed_ratio':24s} {info['failed_ratio']:.6g} ratio")
    print(f"latency_tail_s is p{info['tail_percentile']} of {info['latency_samples']} samples")
    if a.trace:
        for k, u in layers.PER_LAYER:
            print(f"{k:32s} {metrics[k]['value']:.6g} {u}")
        for k in layers.DIAGNOSTICS:
            print(f"{k:32s} {layer[k]:.6g} s (diagnostic)")
    with open(os.path.join(out, "summary.json"), "w") as f:
        json.dump({"end_to_end": e2e, "info": info, "failed_queries": sorted(bad)}, f, indent=1)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 1 if bad else 0


if __name__ == "__main__":
    # a SIGTERM unwinds like an error, so the JVM's process group is killed
    # and reaped before the benchmark exits
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(main())
    except build.BenchError as e:
        print(f"[perfbench] error: {e}", file=sys.stderr)
        sys.exit(2)
