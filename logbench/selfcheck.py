#!/usr/bin/env python3
"""Steadiness self-check: run each workload repeatedly with different seeds
and report every end-to-end metric's spread against its bound.

The spread of a metric is the distance between the first and third quartile
of its per-run values (statistics.quantiles(values, n=4)) as a share of
their median. A metric is steady when its spread stays within a third of
the bound BENCHMARK.json gives it. With --sets 2 the runs are repeated with
the same seeds and the two medians must agree within the bound, in either
direction.

Usage (from the repository root):
    python3 logbench/selfcheck.py [--workloads a,b] [--seeds 10] [--sets 1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload, seed, seconds):
    t0 = time.time()
    res = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                          "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                         capture_output=True, text=True)
    wall = time.time() - t0
    if res.returncode != 0:
        raise SystemExit(f"selfcheck: {workload} seed {seed} failed:\n{res.stderr[-3000:]}")
    out = json.loads(res.stdout.strip().splitlines()[-1])
    if not out["correct"] or out["failed"]:
        raise SystemExit(f"selfcheck: {workload} seed {seed} produced wrong outputs:\n{res.stderr[-3000:]}")
    return out, wall


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=101)
    ap.add_argument("--sets", type=int, choices=(1, 2), default=1)
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = list(range(a.first_seed, a.first_seed + a.seeds))
    report = {}
    ok = True
    for workload in a.workloads.split(","):
        sets = []
        walls = []
        for _ in range(a.sets):
            vals = {k: [] for k in bounds}
            for seed in seeds:
                out, wall = run_once(workload, seed, bench["run_seconds"])
                walls.append(wall)
                for k in bounds:
                    vals[k].append(out["metrics"][k]["value"])
                print(f"{workload} seed {seed}: " + ", ".join(
                    f"{k}={out['metrics'][k]['value']:.4g}" for k in bounds) + f" (run {wall:.0f} s)",
                    flush=True)
            sets.append(vals)
        rows = {}
        for k, bound in bounds.items():
            s = [spread(v[k]) for v in sets]
            med = [statistics.median(v[k]) for v in sets]
            steady = all(x <= bound / 3 for x in s)
            drift = med[1] / med[0] - 1 if len(med) == 2 else None
            stable = drift is None or abs(drift) <= bound
            ok = ok and steady and stable
            rows[k] = {"median": med, "spread": s, "bound": bound, "steady": steady,
                       "second_vs_first": drift}
            print(f"  {workload} {k}: median {', '.join(f'{m:.4g}' for m in med)}; spread "
                  f"{', '.join(f'{x:.3f}' for x in s)} vs bound/3 {bound / 3:.3f}"
                  + (f"; second set {drift:+.3f}" if drift is not None else "")
                  + ("" if steady and stable else "  <-- NOT STEADY"), flush=True)
        report[workload] = {"seeds": seeds, "metrics": rows, "mean_run_s": statistics.mean(walls)}
        print(f"  {workload}: mean run wall {statistics.mean(walls):.1f} s", flush=True)
    os.makedirs(".bench_out", exist_ok=True)
    with open(os.path.join(".bench_out", "selfcheck.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    print("STEADY" if ok else "NOT STEADY")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
