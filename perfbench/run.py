#!/usr/bin/env python3
"""The repository benchmark. One run builds the program from source if
needed, generates the workload's inputs from the seed, drives the program's
public entry points from one JVM (local[nproc], shuffle partitions = nproc,
AQE on, UTC), checks the outputs against DuckDB, and prints one JSON line.

Usage:
  python3 perfbench/run.py --workload {dashboard,etl_refresh} \\
      --seed N --seconds S --trace {0,1}

--trace 0 reports the end-to-end metrics (no listener registered).
--trace 1 runs half the window untraced and half with spans and Spark
listeners, and reports the per-layer metrics; spans are written to
.bench_runs/traces/. See perfbench/README.md for the metric definitions.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no caches beside the sources
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

SETUP_REPS = 3  # timed set-ups after an untimed first one; setup_s is their median
DASHBOARD_EVENTS = 100_000
DASHBOARD_REQUESTS = 1_000  # far more than the warm-up and a window serve
ETL_BASE_ROWS = 500_000
ETL_SLICES = 8  # slice 0 bootstraps the snapshot; each chain merges the rest
ETL_SLICE_ROWS = 10_000
# Op kinds whose latencies are a workload's end-to-end latencies.
PRIMARY = {"dashboard": {"request"}, "etl_refresh": {"refresh"}}
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def make_inputs(workload, seed, inputs):
    """Generates the inputs under `inputs`; returns what the checks need."""
    rng = gen.np.random.default_rng(seed)
    if workload == "dashboard":
        gen.write(gen.events(rng, DASHBOARD_EVENTS),
                   os.path.join(inputs, "events", "events.parquet"))
        with open(os.path.join(inputs, "requests.tsv"), "w") as f:
            f.writelines(line + "\n" for line in
                         gen.dashboard_requests(rng, DASHBOARD_REQUESTS))
        return {}
    if workload == "etl_refresh":
        slices = gen.etl_inputs(inputs, seed, ETL_BASE_ROWS, ETL_SLICES,
                                ETL_SLICE_ROWS)
        return {"base": os.path.join(inputs, "base", "events.parquet"),
                "slices": slices}


def run_jvm(classes, args, run_dir):
    jars = os.path.join(build.jar_dir(), "*")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = (["java", "-Xmx3g", "-Djava.io.tmpdir=" + tmp]
           + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", classes + ":" + jars, "graft.perfbench.Harness"] + args)
    env = dict(os.environ, SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"))
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as out:
        proc = subprocess.run(cmd, env=env, stdout=out, stderr=subprocess.STDOUT,
                              timeout=JVM_TIMEOUT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    sys.stderr.write("".join(l + "\n" for l in lines if l.startswith("[perfbench]")))
    if proc.returncode != 0:
        sys.stderr.write("\n".join(lines[-60:]) + "\n")
        sys.exit("benchmark JVM exited with %d" % proc.returncode)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f)


def evaluate(workload, seed, res, info):
    ops = res["ops"] + res.get("traced_ops", [])
    attempted = len(ops) + res["setup_ops"]
    failed = sum(not o["ok"] for o in ops) + res["setup_failed"]
    if workload == "dashboard":
        bad, checked = checks.dashboard(res["fact"], res["responses"], seed)
        failed += bad if checked else 1
    else:
        streamed = sum(o["kind"] == "stream_upsert" for o in ops)
        failed += checks.etl(info["base"], info["slices"], res, streamed)
    return attempted, failed


def latencies(ops, kinds):
    return [o["s"] for o in ops if o["ok"] and o["kind"] in kinds]


def end_to_end(workload, res):
    lat = latencies(res["ops"], PRIMARY[workload])
    return {
        "setup_s": (statistics.median(res["setup_s"]), "s"),
        "op_p50_s": (statistics.median(lat), "s"),
        "ops_per_s": (len(lat) / res["window_s"], "1/s"),
    }


def per_layer(workload, res, attempted, failed):
    units = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["per_layer"]
    units = {m["name"]: m["unit"] for m in units}
    traced = latencies(res["traced_ops"], PRIMARY[workload])
    plain = latencies(res["ops"], PRIMARY[workload])
    layers = dict(res["layers"])
    layers["trace.overhead_frac"] = statistics.median(traced) / statistics.median(plain) - 1
    layers["ops.failed_frac"] = failed / attempted
    return {k: (layers[k], units[k]) for k in units}


def main():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(PRIMARY))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args()
    classes = build.build()
    runs = os.path.join(ROOT, ".bench_runs")
    run_id = "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid())
    run_dir = os.path.join(runs, run_id)
    os.makedirs(run_dir)
    try:
        t0 = time.time()
        inputs = os.path.join(run_dir, "inputs")
        info = make_inputs(a.workload, a.seed, inputs)
        t1 = time.time()
        res = run_jvm(classes, [a.workload, inputs, run_dir, str(a.seconds),
                                str(a.trace), str(SETUP_REPS)], run_dir)
        t2 = time.time()
        attempted, failed = evaluate(a.workload, a.seed, res, info)
        print("[perfbench] inputs %.1f s, program %.1f s, checks %.1f s" % (
            t1 - t0, t2 - t1, time.time() - t2), file=sys.stderr)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    metrics = (per_layer(a.workload, res, attempted, failed) if a.trace
               else end_to_end(a.workload, res))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
