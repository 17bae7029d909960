#!/usr/bin/env python3
"""Runs one workload of the merge-on-read benchmark and prints its metrics.

    python3 perfbench/run.py --workload mor_serve --seed 1 --seconds 30 --trace 0

Builds the program and the benchmark from source when needed (build.py),
launches the benchmark JVM with pinned flags in a fresh run directory
under `.bench_build/runs`, checks the outputs, and prints a report: every
metric by name, with unit and sample count. The last line of stdout is one
JSON object, {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of END_TO_END with --trace 0, the per-layer metrics of PER_LAYER
with --trace 1. Traced runs also write the full per-layer set and the spans
under `.bench_build/trace`. The exit code is 0 only for a correct run.

--perturb 1 is the negative control: it perturbs the expected final
fingerprint, so the run must fail.
"""

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("mor_serve", "cdc_ingest")

# The metrics every run reports (BENCHMARK.json end_to_end / per_layer).
END_TO_END = ["setup_s", "point_p50_ms", "ops_per_s", "write_amp", "space_amp"]
PER_LAYER = [
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalog.head_ms", "catalog.files_total", "catalog.delete_file_debt",
    "catalog.compaction_debt", "catalog.snapshots", "catalog.meta_bytes",
    "dsv2.read_miss_ms", "dsv2.bytes_read_ratio",
    "exec.job_ms", "exec.jobs", "exec.tasks", "exec.shuffle_bytes", "exec.driver_ms",
    "dml.job_ms", "dml.driver_ms", "dml.delete_files_added", "dml.data_files_added",
    "commit.bytes_read", "commit.meta_bytes_written",
    "compaction.ms", "compaction.driver_ms", "compaction.rows",
    "compaction.bytes_rewritten", "compaction.files_in", "compaction.files_out",
    "sweep.ms", "sweep.healthy_ms", "stream.rows",
    "jvm.gc_ms", "jvm.heap_peak_mb", "host.yardstick_ms",
]
LAYER_UNITS = {"_ms": "ms", ".ms": "ms", "_bytes": "B", "bytes_read": "B",
               "bytes_written": "B", "bytes_rewritten": "B", "_ratio": "ratio", "_mb": "MiB"}

# the run, build excluded, must end well inside three minutes
JVM_TIMEOUT_S = 170


def layer_unit(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def run_jvm(classpath, archive, run_dir, args, timeout):
    log_path = os.path.join(run_dir, "jvm.log")
    cmd = build.java_cmd(classpath, run_dir, "perfbench.Main", args, archive=archive)
    os.makedirs(os.path.join(run_dir, "tmp"))
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=run_dir,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            rc = None
    return rc, log_path


def tail(path, n=40):
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def fmt(v):
    return "-" if v is None else "%.6g" % v


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--perturb", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        classpath, archive = build.build()
    except build.BuildError as e:
        print("perfbench: build failed: %s" % e, file=sys.stderr)
        return 2
    started = time.time()
    tag = "%s-seed%d-trace%d" % (a.workload, a.seed, a.trace)
    run_dir = os.path.join(build.BUILD, "runs", tag)
    shutil.rmtree(run_dir, ignore_errors=True)  # stale part files double row counts
    os.makedirs(run_dir)
    trace_dir = os.path.join(build.BUILD, "trace")
    result_path = os.path.join(run_dir, "result.json")
    rc, log_path = run_jvm(classpath, archive, run_dir, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--perturb", str(a.perturb), "--dir", run_dir,
        "--out", result_path, "--trace-dir", trace_dir],
        timeout=max(30, JVM_TIMEOUT_S - (time.time() - started)))
    keep = os.path.join(build.BUILD, "results")
    os.makedirs(keep, exist_ok=True)
    shutil.copy(log_path, os.path.join(keep, tag + ".log"))
    if rc != 0 or not os.path.exists(result_path):
        print("perfbench: benchmark JVM %s; log tail:\n%s" % (
            "timed out" if rc is None else "exited with %s" % rc, tail(log_path)),
            file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 1
    with open(result_path) as f:
        res = json.load(f)
    shutil.copy(result_path, os.path.join(keep, tag + ".json"))
    shutil.rmtree(run_dir, ignore_errors=True)

    problems = list(res["errors"])
    info = res["info"]
    print("perfbench %s seed=%d trace=%d cpus=%s master=%s shuffle_partitions=%s "
          "heap_mb=%s gc=%s jdk=%s yardstick_ms=%s/%s" % (
              a.workload, a.seed, a.trace, info["cpus"], info["spark_master"],
              info["shuffle_partitions"], info["heap_max_mb"], info["gc"], info["jdk"],
              fmt(info["yardstick_before_ms"]), fmt(info["yardstick_after_ms"])))
    print("  %-22s %14s %-7s %s" % ("metric", "value", "unit", "samples"))
    for name, m in res["metrics"].items():
        note = "" if m["value"] is not None else "  not reported: too few samples"
        print("  %-22s %14s %-7s n=%d%s" % (name, fmt(m["value"]), m["unit"], m["n"], note))
    print("  correctness: final %s, expected %s, negative control %s" % (
        info.get("fingerprint_actual"), info.get("fingerprint_expected"),
        info.get("negative_control")))

    if a.trace:
        layers = res["layers"]
        for name in sorted(layers):
            print("  layer %-34s %14s %s" % (name, fmt(layers[name]), layer_unit(name)))
        with open(os.path.join(trace_dir, tag + "-layers.json"), "w") as f:
            json.dump({"info": info, "metrics": res["metrics"], "layers": layers}, f, indent=1)
        wanted = PER_LAYER
        values = {n: (layers.get(n, 0.0), layer_unit(n)) for n in wanted}
    else:
        wanted = END_TO_END
        values = {n: (res["metrics"].get(n, {}).get("value"),
                      res["metrics"].get(n, {}).get("unit")) for n in wanted}
        for n, (v, _) in values.items():
            if v is None or not math.isfinite(v) or v <= 0:
                problems.append("metric %s not reported (n=%s)" % (
                    n, res["metrics"].get(n, {}).get("n")))
    for p in problems:
        print("  FAIL: %s" % p)
    correct = bool(res["correct"]) and not problems
    print(json.dumps({
        "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in values.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
