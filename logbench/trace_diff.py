#!/usr/bin/env python3
"""Compare two traced runs layer by layer.

Each input is a trace file written by `run.py --trace 1`
(.bench_out/trace-<workload>-<seed>.json). Time and size metrics are
flagged only when they move by more than the noise band; counts (jobs,
stages, tasks, templates, exchanges) are flagged on any change, since they
do not depend on timing. Plan fingerprints (exchange counts per query) are
compared query by query.

The band defaults to the pass_s spread that selfcheck.py recorded for the
workload in .bench_out/selfcheck.json, or 0.10 when there is none.

Usage: python3 logbench/trace_diff.py BEFORE.json AFTER.json [--band 0.1]
"""
import argparse
import json
import os

COUNTS = ("jobs", "stages", "tasks", "templates", "exchanges", "gc_count")


def load(path):
    with open(path) as fh:
        return json.load(fh)


def default_band(workload):
    path = os.path.join(".bench_out", "selfcheck.json")
    try:
        with open(path) as fh:
            return max(json.load(fh)[workload]["metrics"]["pass_s"]["spread"])
    except (OSError, KeyError, ValueError):
        return 0.10


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--band", type=float)
    a = ap.parse_args()
    before, after = load(a.before), load(a.after)
    if before["workload"] != after["workload"]:
        raise SystemExit("trace_diff: the two traces are of different workloads")
    band = a.band if a.band is not None else default_band(before["workload"])
    print(f"{before['workload']}: {a.before} -> {a.after}; noise band {band:.1%}")
    flagged = 0
    mb, ma = before["metrics"], after["metrics"]
    layers = sorted({k.split(".")[0] for k in mb} | {k.split(".")[0] for k in ma})
    for layer in layers:
        rows = []
        for k in sorted(set(mb) | set(ma)):
            if k.split(".")[0] != layer:
                continue
            x, y = mb.get(k), ma.get(k)
            if x is None or y is None:
                rows.append((k, x, y, "only on one side", True))
                continue
            count = k.split(".", 1)[1] in COUNTS
            rel = (y - x) / abs(x) if x else (0.0 if y == x else float("inf"))
            flag = (y != x) if count else abs(rel) > band
            rows.append((k, x, y, f"{rel:+.1%}", flag))
        print(f"[{layer}]")
        for k, x, y, rel, flag in rows:
            flagged += flag
            print(f"  {'*' if flag else ' '} {k:28s} {x!s:>14.8} -> {y!s:<14.8} {rel}")
    pb, pa = before["trace"].get("plans", {}), after["trace"].get("plans", {})
    for q in sorted(set(pb) | set(pa)):
        if pb.get(q) != pa.get(q):
            flagged += 1
            print(f"  * plan {q}: {pb.get(q)} -> {pa.get(q)}")
    print(f"{flagged} move(s) outside the band" if flagged else "no move outside the band")


if __name__ == "__main__":
    main()
