#!/usr/bin/env python3
"""Steadiness report: runs workloads repeatedly, one seed per run, and prints
for every end-to-end metric the median, the quartiles and the quartile
spread as a share of the median, next to the bound BENCHMARK.json sets.

    python3 perfbench/steadiness.py --runs 10 [--workloads mor_serve cdc_ingest]
        [--seconds 25] [--first-seed 1] [--traced 1] [--out report.json]

A spread above a tenth, or above a third of the metric's bound, is flagged.
With --traced N it also makes N traced runs per workload and reports the
tracing overhead: the traced median over the untraced median, minus one.
Quartiles are Python's statistics.quantiles(values, n=4).
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


def run_once(workload, seed, seconds, trace):
    t0 = time.time()
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       capture_output=True, text=True, cwd=ROOT)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.exit("run %s seed %d trace %d failed (exit %d):\n%s%s" % (
            workload, seed, trace, p.returncode, p.stdout[-3000:], p.stderr[-3000:]))
    result = json.loads(lines[-1])
    # traced runs keep their end-to-end figures in the layers file
    if trace:
        tag = "%s-seed%d-trace1" % (workload, seed)
        with open(os.path.join(ROOT, ".bench_build", "trace", tag + "-layers.json")) as f:
            result["e2e"] = {k: v["value"] for k, v in json.load(f)["metrics"].items()}
    return result, wall


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("nan")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="+", default=["mor_serve", "cdc_ingest"])
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    ap.add_argument("--out", default=None)
    a = ap.parse_args()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    spec = json.load(open(spec_path)) if os.path.exists(spec_path) else {}
    bounds = {m["name"]: m["bound"] for m in spec.get("end_to_end", [])}
    seconds = a.seconds or spec.get("run_seconds", 25)
    report = {}
    for w in a.workloads:
        runs, walls = [], []
        for i in range(a.runs):
            r, wall = run_once(w, a.first_seed + i, seconds, 0)
            runs.append(r)
            walls.append(wall)
            print("%s seed %d: %.0f s %s" % (w, a.first_seed + i, wall, json.dumps(
                {k: round(v["value"], 4) for k, v in r["metrics"].items()})), flush=True)
        traced = [run_once(w, a.first_seed + i, seconds, 1) for i in range(a.traced)]
        rows = {}
        print("\n%s: %d runs, wall median %.0f s, max %.0f s" % (
            w, len(runs), statistics.median(walls), max(walls)))
        print("  %-20s %12s %12s %12s %8s %6s %9s" % (
            "metric", "median", "q1", "q3", "spread", "bound", "overhead"))
        for name in runs[0]["metrics"]:
            vals = [r["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            bound = bounds.get(name)
            over = None
            if traced:
                tv = [t[0]["e2e"].get(name) for t in traced]
                tv = [v for v in tv if v is not None]
                if tv:
                    over = statistics.median(tv) / med - 1
            flag = ""
            if sp > 0.1 or (bound and sp > bound / 3 and name != "setup_s"):
                flag = "  <-- too wide"
            print("  %-20s %12.5g %12.5g %12.5g %7.1f%% %6s %9s%s" % (
                name, med, q1, q3, 100 * sp, bound if bound is not None else "-",
                "-" if over is None else "%+.1f%%" % (100 * over), flag))
            rows[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp,
                          "values": vals, "overhead": over}
        report[w] = {"metrics": rows, "walls": walls}
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
