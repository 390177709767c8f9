#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics, against BENCHMARK.json.

    python3 perfbench/spread.py

Runs the benchmark in two sets, each over seeds 1-10 for every workload in
BENCHMARK.json (each run a fresh process), and prints, per workload and
metric, each set's median, its spread (quartile distance over median,
from `statistics.quantiles(values, n=4)`) and the drift of the second
set's median from the first, next to the metric's bound. A spread above a
third of its bound is flagged; a spread or a drift (either way) above the
bound fails. Exits 1 if any run was incorrect or any check failed.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SEEDS = range(1, 11)
SETS = 2


def run(workload, seed, seconds):
    t = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"run failed: {workload} seed {seed}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    print(f"{workload} seed {seed}: " + " ".join(
        f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()) +
        f" ({time.time() - t:.0f} s)", flush=True)
    return res


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2, q2


def main():
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok = True
    for w in (x["name"] for x in bench["workloads"]):
        sets = []
        for _ in range(SETS):
            vals = {m: [] for m in bounds}
            for seed in SEEDS:
                res = run(w, seed, bench["run_seconds"])
                if not res["correct"]:
                    ok = False
                    print(f"{w} seed {seed}: incorrect ({res['failed']}/{res['attempted']} failed)")
                for m in bounds:
                    vals[m].append(res["metrics"][m]["value"])
            sets.append(vals)
        for m, bound in bounds.items():
            cells = []
            first_median = None
            for vals in sets:
                sp, med = spread(vals[m])
                first_median = med if first_median is None else first_median
                drift = med / first_median - 1
                flag = ""
                if sp > bound or abs(drift) > bound:
                    flag, ok = "FAIL", False
                elif sp > bound / 3:
                    flag = "wide"
                cells.append(f"median {med:.4g} spread {sp:.3f} drift {drift:+.3f} {flag}")
            print(f"{w:10s} {m:15s} bound {bound:.2f} | " + " | ".join(cells))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
