#!/usr/bin/env python3
"""Repeat the benchmark over seeds and report how steady each metric is.

Usage (from the repository root):
  python3 perfbench/steadiness.py --workloads olap_prepared_sf01,adhoc_suites \
      --seeds 1-10 [--seconds 15] [--label NAME]

For every workload and end-to-end metric it prints the median, the first and
third quartiles (statistics.quantiles(n=4)) and their distance as a share of
the median, and writes the runs plus that table to
perfbench/results/steadiness-<label>.json. It also flags within-process
drift: for each run, the relative change from the first to the last measured
pass, and whether later passes are slower on most runs.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "iqr_share": (q3 - q1) / statistics.median(values)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--label", default="latest")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in
              json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["end_to_end"]}
    report = {"seconds": a.seconds, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                                "--seed", str(seed), "--seconds", str(a.seconds),
                                "--trace", "0"], cwd=ROOT, capture_output=True, text=True)
            if p.returncode != 0:
                sys.exit(f"{w} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
            last = json.loads(p.stdout.strip().splitlines()[-1])
            info = json.load(open(os.path.join(
                ROOT, ".bench_out", f"{w}-trace0", "summary.json")))["info"]
            walls = info["pass_walls_s"]
            runs.append({"seed": seed, "run_wall_s": round(time.time() - t0, 1),
                         "metrics": {k: v["value"] for k, v in last["metrics"].items()},
                         "pass_walls_s": walls, "setup_rounds_s": info["setup_s"],
                         "latency_by_query_s": info["latency_by_query_s"],
                         "drift": (walls[-1] - walls[0]) / walls[0] if len(walls) > 1 else 0.0})
            print(f"{w} seed {seed}: " + " ".join(
                f"{k}={v:.4g}" for k, v in runs[-1]["metrics"].items()), flush=True)
        table = {}
        for k in runs[0]["metrics"]:
            table[k] = spread([r["metrics"][k] for r in runs])
            if k in bounds:
                table[k]["bound"] = bounds[k]
        drifts = [r["drift"] for r in runs]
        report["workloads"][w] = {
            "runs": runs, "spread": table,
            "drift": {"median_first_to_last_pass": statistics.median(drifts),
                      "runs_slower_at_end": sum(d > 0 for d in drifts),
                      "runs": len(drifts)}}
        print(f"\n{w}: metric median q1 q3 iqr/median (bound)")
        for k, s in table.items():
            print(f"  {k:16s} {s['median']:.5g} {s['q1']:.5g} {s['q3']:.5g} "
                  f"{100 * s['iqr_share']:.2f}% ({s.get('bound', '-')})")
        d = report["workloads"][w]["drift"]
        print(f"  drift first->last pass: median {100 * d['median_first_to_last_pass']:+.1f}%, "
              f"{d['runs_slower_at_end']}/{d['runs']} runs slower at the end\n", flush=True)
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", f"steadiness-{a.label}.json"), "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
