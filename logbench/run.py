#!/usr/bin/env python3
"""Benchmark of the log-analytics engine: one command, one workload per run.

Usage (from the repository root):
    python3 logbench/run.py --workload log_pipeline|query_mix --seed N \
        --seconds S --trace 0|1

Builds the engine and the benchmark's JVM side from source (logbench/build.py),
starts one JVM on local[nproc] with GraftSession defaults and a fresh
java.io.tmpdir and SPARK_LOCAL_DIRS, generates the workload's inputs from
the seed, warms up until passes settle, measures whole passes for about
S seconds, checks every output, and prints one JSON object as the last line
of standard output. With --trace 0 it holds the end-to-end metrics, with
--trace 1 the per-layer metrics of a traced run (written in full to
.bench_out/trace-<workload>-<seed>.json). See logbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

# Tables of the query mix: the read-only sf0.01 set of the engine's test data,
# which the repository's tests and bench read from ~/testdata.
QUERY_DATA = os.environ.get("LOGBENCH_QUERY_DATA",
                            os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
WORKLOAD_ARGS = {
    "log_pipeline": ["--lines", "40000", "--files", "12"],
    "query_mix": ["--data-dir", QUERY_DATA],
}
JVM_TIMEOUT_S = 150
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]

def quantile(xs, q):
    """Linear interpolation between closest ranks (numpy's default)."""
    s = sorted(xs)
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def run_jvm(cp, run_dir, args):
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "logbench.Main", "--run-dir", run_dir] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=local,
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, env=env,
                                text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"run: JVM exceeded {JVM_TIMEOUT_S} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = [ln for ln in out.splitlines() if ln.startswith("LOGBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as fh:
            tail = fh.read()[-4000:]
        raise SystemExit(f"run: JVM exited with code {proc.returncode}\n{tail}")
    return json.loads(lines[-1][len("LOGBENCH_RESULT "):])


def oracle_failures(root, results_dir):
    """Run the repository's oracle gate (tools/check_oracle.py) over the
    query results the JVM wrote; returns {query: failure message}."""
    res = subprocess.run([sys.executable, os.path.join(root, "tools", "check_oracle.py"),
                          QUERY_DATA, results_dir], capture_output=True, text=True,
                         timeout=JVM_TIMEOUT_S)
    bad = {}
    for ln in res.stdout.splitlines():
        if ln.startswith("FAIL "):
            name, _, msg = ln[len("FAIL "):].partition(": ")
            bad[name] = msg
    if res.returncode != 0 and not bad:
        raise SystemExit(f"run: oracle check exited with code {res.returncode}\n{res.stderr[-2000:]}")
    return bad


def end_to_end(res):
    ops = [x for x in res["op_s"] if x is not None]
    return {
        "setup_s": res["setup_s"],
        "op_p50_s": statistics.median(ops),
        "op_p90_s": quantile(ops, 0.9),
        "pass_s": statistics.median(res["pass_s"]),
        "heap_live_mb": res["heap_live_mb"],
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOAD_ARGS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    cp = build.ensure_built(root)
    out_root = os.path.join(root, ".bench_out")
    run_dir = os.path.join(out_root, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        res = run_jvm(cp, run_dir, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace)]
                      + WORKLOAD_ARGS[a.workload])
        t1 = time.time()
        failed = res["failed"]
        errors = list(res["errors"])
        if a.workload == "query_mix":
            # each query ran once per pass plus once in prepare; a wrong
            # oracle-checked result makes every one of those runs wrong
            runs = 1 + res["warmup_passes"] + len(res["pass_s"])
            bad = oracle_failures(root, os.path.join(run_dir, "results"))
            failed = min(res["attempted"], failed + runs * len(bad))
            errors += [f"{k}: oracle mismatch: {v}" for k, v in sorted(bad.items())]
        print(f"run: JVM {t1 - t0:.1f} s, checks {time.time() - t1:.1f} s", file=sys.stderr)
        if a.trace:
            trace_path = os.path.join(out_root, f"trace-{a.workload}-{a.seed}.json")
            shutil.copyfile(res["trace_json"], trace_path)
            values, names = res["trace"], spec["per_layer"]
        else:
            values, names = end_to_end(res), spec["end_to_end"]
        metrics = {m["name"]: (values[m["name"]], m["unit"]) for m in names}
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    print(f"{a.workload} seed={a.seed}: {len(res['op_s'])} ops in {len(res['pass_s'])} passes "
          f"over {res['measured_s']:.1f} s after {res['warmup_passes']} warm-up passes; "
          f"inputs {json.dumps(res['inputs'], sort_keys=True)}")
    ps = res["pass_s"]
    print(f"  warm-up passes {[round(x, 3) for x in res['warmup_s']]}, "
          f"timed passes {[round(x, 3) for x in ps]} (trend {ps[-1] / ps[0] - 1:+.1%})")
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}")
    print(json.dumps({
        "correct": failed == 0 and not errors,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
