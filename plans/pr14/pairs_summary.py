"""Summarizes alternating parent/change perfbench runs.

Usage: python3 plans/pr14/pairs_summary.py plans/pr14/perfbench_runs.jsonl

Each input line is {"workload", "side", "seed", "result"}, where result
is the JSON line perfbench/run.py prints. For each workload and
end-to-end metric it prints both sides' medians and quartile spreads and
how many seed pairs the change won."""
import json
import statistics
import sys

METRICS = [("setup_s", -1), ("wall_s", -1), ("query_p50_s", -1), ("input_mb_per_s", 1)]


def quartiles(xs):
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


runs = {}
for line in open(sys.argv[1]):
    d = json.loads(line)
    r = d["result"]
    assert r["correct"] and r["failed"] == 0, d
    runs.setdefault(d["workload"], {}).setdefault(d["side"], {})[d["seed"]] = {
        k: v["value"] for k, v in r["metrics"].items()}
for wl, sides in runs.items():
    seeds = sorted(set(sides["parent"]) & set(sides["change"]))
    print(f"{wl}: {len(seeds)} pairs (seeds {seeds[0]}-{seeds[-1]})")
    for m, sign in METRICS:
        p = [sides["parent"][s][m] for s in seeds]
        c = [sides["change"][s][m] for s in seeds]
        wins = sum(1 for a, b in zip(p, c) if (b - a) * sign > 0)
        pq, cq = quartiles(p), quartiles(c)
        mp, mc = statistics.median(p), statistics.median(c)
        print(f"  {m:15s} parent {mp:8.3f} (IQR {pq[1] - pq[0]:.3f})  change {mc:8.3f} "
              f"(IQR {cq[1] - cq[0]:.3f})  change/parent {mc / mp:.3f}  change wins {wins}/{len(seeds)}")
