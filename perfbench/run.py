#!/usr/bin/env python3
"""graft's benchmark: one workload, one closed-loop client, checked outputs.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds graft from `src/main` and the
harness from `perfbench/jvm` (into `$CARGO_TARGET_DIR`, default
`.bench_build`), generates the seeded inputs (cached per seed), runs the
workload in one JVM on `GraftSession.builder("local[n]", n)` with
n = the number of cores, checks every operation's output, and prints a
table and, as its last line, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
the per-layer ones, and the spans plus every metric are written to
`<build>/traces/<workload>-s<seed>.json`. See perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

# Why each workload exists, and why there are two: perfbench/NOTES.md.
WORKLOADS = {
    "registry": dict(sf=0.001, ops=[
        "q_topk", "token_count", "dedup_exact", "q_window_rank", "html_extract",
        "embedding_kmeans", "mr_grep"]),
    "analytics": dict(sf=0.01, ops=[
        "q1_pricing_summary", "q3_top_orders", "q18_large_orders", "mr_wordcount"]),
}
END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"),
              ("input_mb_per_s", "MB/s")]
PER_LAYER = [
    ("session.start_s", "s"), ("setup.datagen_s", "s"), ("setup.warmup_s", "s"),
    ("entry.build_s", "s"), ("entry.build_jobs", "count"),
    ("driver.analysis_s", "s"), ("driver.optimization_s", "s"), ("driver.planning_s", "s"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.driver_gap_s", "s"), ("sched.floor_s", "s"),
    ("scan.bytes", "bytes"), ("scan.rows", "count"), ("scan.files", "count"),
    ("scan.time_s", "s"),
    ("shuffle.write_mb", "MB"), ("shuffle.read_mb", "MB"), ("shuffle.records", "count"),
    ("shuffle.fetch_wait_s", "s"),
    ("plan.bhj", "count"), ("plan.smj", "count"), ("plan.shj", "count"),
    ("task.skew", "ratio"), ("mem.peak_exec_mb", "MB"), ("mem.spill_mb", "MB"),
    ("kernel.html_extract_s", "s"), ("kernel.tokens_s", "s"), ("kernel.shingles_s", "s"),
    ("kernel.minhash_s", "s"), ("kernel.cosine_s", "s"), ("kernel.pq_encode_s", "s"),
    ("kernel.kmeans_s", "s"),
    ("iter.actions_per_op", "count"), ("iter.jobs_per_op", "count"), ("iter.cached_mb", "MB"),
    ("chain.crawl_s", "s"), ("chain.curate_s", "s"), ("chain.sink_s", "s"),
    ("chain.survivor_frac", "ratio"), ("chain.kept_frac", "ratio"), ("chain.written_mb", "MB"),
    ("jvm.cpu_s", "s"), ("jvm.gc_s", "s"), ("jvm.jit_s", "s"),
    ("tracing.overhead_frac", "ratio"), ("scale.speedup", "ratio"),
]
MB = 1e6
RUN_BUDGET_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail("no Spark installation found (set SPARK_HOME)")
    return jars


def build(root, build_dir, jars):
    """Compiles graft's main sources and the harness with the Scala compiler
    that ships with Spark; skipped while the sources are unchanged."""
    graft_src = sorted(glob.glob(os.path.join(root, "src/main/scala/**/*.scala"), recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "jvm", "*.scala")))
    if not graft_src:
        fail("no graft sources under src/main/scala: run from the root of a checkout")
    h = hashlib.sha256()
    for p in graft_src + bench_src:
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp = h.hexdigest()
    classes = os.path.join(build_dir, "classes")
    stamp_file = os.path.join(build_dir, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, False
    compiler = [p for pat in ("scala-compiler-2.13*.jar", "scala-library-2.13*.jar",
                              "scala-reflect-2.13*.jar")
                for p in glob.glob(os.path.join(jars, pat))]
    if len(compiler) != 3:
        fail("the Spark installation has no Scala 2.13 compiler jars")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.path.join(jars, "*"),
           "-d", classes] + graft_src + bench_src
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, True


def jvm_opens():
    pkgs = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
            "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
            "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    return [x for p in pkgs for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def run_jvm(classes, jars, out, args, budget_s):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: in a fresh JVM, C2 keeps 2-3 of the 4 cores compiling for the
    # first minute (measured: 7-22 s of compile time per 3-6 s pass), so a
    # 10 s window would time the JIT more than graft. C1 does most of its
    # compiling during set-up. See NOTES.md. C1 alone reserves a 48 MB code
    # cache, and a traced run peaks at about 46 MB in it; a full cache
    # disables the JIT or fails the run, so it gets the tiered default.
    cmd = (["java"] + jvm_opens() +
           ["-XX:-UsePerfData", "-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
            "-Xmx3g",
            f"-Djava.io.tmpdir={os.path.abspath(tmp)}",
            "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
            "perfbench.Harness"] + [f"{k}={v}" for k, v in args.items()])
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.abspath(os.path.join(out, "spark-local")))
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env)
        try:
            p.wait(timeout=budget_s)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    result = os.path.join(out, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness exited with {p.returncode}")
    with open(result) as f:
        return json.load(f)


def dir_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs if not f.startswith("."))


def prepare_inputs(build_dir, workload, seed):
    """Seeded inputs, generated once per (scale, seed); returns (dir, secs)."""
    spec = WORKLOADS[workload]
    data = os.path.abspath(os.path.join(build_dir, "data", f"sf{spec['sf']}-s{seed}"))
    t = time.time()
    gen.generate(data, spec["sf"], seed)
    return data, time.time() - t


def run_workload(build_dir, classes, jars, workload, seed, seconds, trace):
    spec = WORKLOADS[workload]
    data, datagen_s = prepare_inputs(build_dir, workload, seed)
    out = os.path.abspath(os.path.join(build_dir, "runs", f"{workload}-s{seed}-t{trace}"))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    budget = RUN_BUDGET_S - (time.time() - SETUP_T0)
    res = run_jvm(classes, jars, out, dict(
        data=data, out=out, ops=",".join(spec["ops"]), seconds=seconds,
        cores=os.cpu_count(), trace=trace, seed=seed,
        t0ms=int(SETUP_T0 * 1000)), budget)
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle_sql = json.load(f)
    ops_dir = os.path.join(out, "ops")
    con = check.connect(data, os.path.join(out, "tmp"))
    check.check_queries(con, data, res["ops"], oracle_sql, ops_dir)
    check.check_chain(con, data, res["ops"], res["chain"], ops_dir)
    chain_ops = [o for o in res["ops"] if o["name"] == "@chain"]
    res["chain_written"] = dir_bytes(os.path.join(ops_dir, f"{chain_ops[0]['seq']:05d}")) \
        if chain_ops else 0
    con.close()
    res["datagen_s"] = datagen_s
    shutil.rmtree(ops_dir, ignore_errors=True)
    shutil.rmtree(os.path.join(out, "spark-local"), ignore_errors=True)
    return res


def measured(res):
    return [o for o in res["ops"] if o["pass"] >= 1]


def end_to_end(res):
    """Bounded metrics, plus p90 and the sample counts for the table.
    A failed operation counts as +inf."""
    ops = measured(res)
    lat = [stats.INF if o["error"] else o["secs"] for o in ops]
    wall = stats.median([p["secs"] for p in res["passes"] if not p["traced"]])
    p90, _, above = stats.percentile(lat, 90)
    return {"setup_s": res["setup_s"], "wall_s": wall,
            "query_p50_s": stats.printable(stats.percentile(lat, 50)[0]),
            "input_mb_per_s": input_bytes(res) / MB / wall}, \
        {"p90": stats.printable(p90), "samples": len(ops), "above_p90": above}


def input_bytes(res):
    """Input per pass: the parquet bytes of the files under each query's
    plan (recorded in the warm-up pass)."""
    first = {}
    for o in res["ops"]:
        first.setdefault(o["name"], o["input_bytes"])
    return sum(first.values())


def per_layer(res):
    """Per-layer metrics from the traced passes (listener counters) and from
    every measured pass (the harness's own spans)."""
    passes = res["passes"]
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    ops = measured(res)
    op_pass = {str(o["seq"]): o["pass"] for o in ops}
    jobs = [j for j in res["jobs"] if j["op"] in op_pass]
    stage_by_id = {s["id"]: s for s in res["stages"]}
    unavailable = []

    def per_pass(f, which=traced):
        return stats.median([f(p["pass"]) for p in which]) if which else 0.0

    def pass_ops(p):
        return [o for o in ops if o["pass"] == p]

    def pass_jobs(p):
        return [j for j in jobs if op_pass[j["op"]] == p]

    def pass_stages(p):
        return [stage_by_id[s] for j in pass_jobs(p) for s in j["stage_ids"] if s in stage_by_id]

    windows = {p["pass"]: (p["start_ms"], p["start_ms"] + p["secs"] * 1000) for p in traced}

    def pass_execs(p):
        lo, hi = windows[p]
        return [x for x in res["execs"] if lo <= x["start_ms"] <= hi]

    def gap(o):
        spans = sorted((j["start_ms"], j["end_ms"]) for j in jobs if j["op"] == str(o["seq"]))
        covered, end = 0, None
        for s, e in spans:
            if end is None or s > end:
                covered += e - s
                end = e
            elif e > end:
                covered += e - end
                end = e
        return o["secs"] - covered / 1000.0

    def skew(p):
        r = [max(s["task_ms"]) / stats.median(s["task_ms"]) for s in pass_stages(p)
             if len(s["task_ms"]) >= 2 and stats.median(s["task_ms"]) > 0]
        return max(r) if r else 1.0

    def s_sum(k, scale=1.0):
        return lambda p: sum(s[k] for s in pass_stages(p)) / scale

    def x_sum(k, scale=1.0):
        return lambda p: sum(x[k] for x in pass_execs(p)) / scale

    chain_parts = [o["parts"] for o in res["ops"] if o["name"] == "@chain" and not o["error"]]
    chain = res["chain"][0] if res["chain"] else None
    extra = res["extra"]
    if not any(x["scan_timed"] for x in res["execs"]):
        unavailable.append("scan.time_s")
    m = {
        "session.start_s": res["session_s"],
        "setup.datagen_s": res["datagen_s"],
        "setup.warmup_s": res["warmup_s"],
        "entry.build_s": per_pass(lambda p: sum(o["build_s"] for o in pass_ops(p)), passes),
        "entry.build_jobs": per_pass(lambda p: sum(1 for j in pass_jobs(p) if j["phase"] == "build")),
        "driver.analysis_s": per_pass(x_sum("analysis_ms", 1000.0)),
        "driver.optimization_s": per_pass(x_sum("optimization_ms", 1000.0)),
        "driver.planning_s": per_pass(x_sum("planning_ms", 1000.0)),
        "sched.jobs": per_pass(lambda p: len(pass_jobs(p))),
        "sched.stages": per_pass(lambda p: len(pass_stages(p))),
        "sched.tasks": per_pass(lambda p: sum(len(s["task_ms"]) for s in pass_stages(p))),
        "sched.driver_gap_s": per_pass(lambda p: sum(gap(o) for o in pass_ops(p))),
        "sched.floor_s": stats.median(extra["sched.floor_s"]),
        "scan.bytes": per_pass(x_sum("scan_bytes")),
        "scan.rows": per_pass(x_sum("scan_rows")),
        "scan.files": per_pass(x_sum("scan_files")),
        "scan.time_s": per_pass(x_sum("scan_ms", 1000.0)),
        "shuffle.write_mb": per_pass(s_sum("shuffle_write", MB)),
        "shuffle.read_mb": per_pass(s_sum("shuffle_read", MB)),
        "shuffle.records": per_pass(s_sum("shuffle_records")),
        "shuffle.fetch_wait_s": per_pass(s_sum("fetch_wait_ms", 1000.0)),
        "plan.bhj": per_pass(x_sum("bhj")),
        "plan.smj": per_pass(x_sum("smj")),
        "plan.shj": per_pass(x_sum("shj")),
        "task.skew": per_pass(skew),
        "mem.peak_exec_mb": per_pass(lambda p: max([s["peak_exec"] for s in pass_stages(p)] or [0]) / MB),
        "mem.spill_mb": per_pass(s_sum("spill", MB)),
        "iter.actions_per_op": per_pass(lambda p: len(pass_execs(p)) / len(pass_ops(p))),
        "iter.jobs_per_op": per_pass(lambda p: len(pass_jobs(p)) / len(pass_ops(p))),
        "iter.cached_mb": res["cached_peak"] / MB,
        "chain.crawl_s": stats.median([c["crawl"] for c in chain_parts]) if chain_parts else 0.0,
        "chain.curate_s": stats.median([c["curate"] for c in chain_parts]) if chain_parts else 0.0,
        "chain.sink_s": stats.median([c["sink"] for c in chain_parts]) if chain_parts else 0.0,
        "chain.survivor_frac": chain["crawled"] / res["pages"] if chain else 0.0,
        "chain.kept_frac": chain["kept"] / chain["crawled"] if chain and chain["crawled"] else 0.0,
        "chain.written_mb": res["chain_written"] / MB,
        "jvm.cpu_s": per_pass(lambda p: next(x["cpu_ms"] for x in passes if x["pass"] == p) / 1000.0,
                              passes),
        "jvm.gc_s": per_pass(lambda p: next(x["gc_ms"] for x in passes if x["pass"] == p) / 1000.0,
                             passes),
        "jvm.jit_s": per_pass(lambda p: next(x["jit_ms"] for x in passes if x["pass"] == p) / 1000.0,
                              passes),
        "tracing.overhead_frac": (stats.median([p["secs"] for p in traced]) /
                                  stats.median([p["secs"] for p in untraced]) - 1.0)
        if traced and untraced else 0.0,
        "scale.speedup": extra["scale.local1_wall_s"][0] / stats.median([p["secs"] for p in untraced])
        if untraced else 0.0,
    }
    for k in PER_LAYER:
        if k[0].startswith("kernel."):
            m[k[0]] = stats.median(extra[k[0]])
    if not traced:
        unavailable.append("every listener metric: no traced pass fitted in the window")
    return m, unavailable


def write_trace(build_dir, workload, seed, res, metrics, unavailable):
    path = os.path.join(build_dir, "traces", f"{workload}-s{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = res["spans"] + [
        {"id": f"job{j['id']}", "name": f"spark.job.{j['phase'] or 'other'}",
         "start_ms": j["start_ms"], "end_ms": j["end_ms"], "parent": None,
         "op": int(j["op"]) if j["op"] else None} for j in res["jobs"]]
    with open(path, "w") as f:
        json.dump({"workload": workload, "seed": seed, "metrics": metrics,
                   "units": dict(PER_LAYER), "unavailable": unavailable,
                   "ops": res["ops"], "passes": res["passes"], "spans": spans}, f)
    return path


def one(build_dir, classes, jars, workload, seed, seconds, trace):
    res = run_workload(build_dir, classes, jars, workload, seed, seconds, trace)
    ops = measured(res)
    attempted, failed = len(ops), sum(1 for o in ops if o["error"])
    bad_setup = [o for o in res["ops"] if o["pass"] < 1 and o["error"]]
    if not ops:
        fail("no operation ran in the measured window")
    e2e, info = end_to_end(res)
    if trace:
        metrics, unavailable = per_layer(res)
        path = write_trace(build_dir, workload, seed, res, metrics, unavailable)
        units = dict(PER_LAYER)
        print(f"trace artifact: {path}", file=sys.stderr)
        if unavailable:
            print(f"not obtainable from outside: {', '.join(unavailable)}", file=sys.stderr)
    else:
        metrics, units = e2e, dict(END_TO_END)
    for o in bad_setup + [o for o in ops if o["error"]]:
        print(f"FAILED {o['name']} (pass {o['pass']}): {o['error']}", file=sys.stderr)
    row = dict(info, workload=workload, correct=failed == 0 and not bad_setup,
               attempted=attempted, failed=failed, passes=len(res["passes"]), e2e=e2e,
               failed_ops=sorted({o["name"] for o in ops + bad_setup if o["error"]}))
    return row, {k: {"value": x, "unit": units[k]} for k, x in metrics.items()}


def print_table(rows, trace):
    """One row per workload: the end-to-end metrics, p90, the failed
    fraction and the sample counts; with tracing, then one row per
    per-layer metric."""
    def g(x):
        return f"{x:.6g}"
    print("\t".join(["workload"] + [f"{k} ({u})" for k, u in END_TO_END] +
                    ["query_p90_s (s)", "failed_frac", "samples", "above_p90", "passes"]))
    for r, _ in rows:
        print("\t".join([r["workload"]] + [g(r["e2e"][k]) for k, _ in END_TO_END] +
                        [g(r["p90"]), f"{g(stats.failed_frac(r['attempted'], r['failed']))} "
                         f"({r['failed']}/{r['attempted']})",
                         str(r["samples"]), str(r["above_p90"]), str(r["passes"])]))
    if trace:
        print("\t".join(["metric", "unit"] + [r["workload"] for r, _ in rows]))
        for k, unit in PER_LAYER:
            print("\t".join([k, unit] + [g(m[k]["value"]) for _, m in rows]))
    for r, _ in rows:
        if r["failed_ops"]:
            print(f"{r['workload']} failed: {', '.join(r['failed_ops'])}")


def main():
    global SETUP_T0
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    root = os.getcwd()
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    build_dir = os.path.abspath(build_dir)
    jars = spark_jars()
    classes, built = build(root, build_dir, jars)
    names = sorted(WORKLOADS) if a.workload == "all" else [a.workload]
    rows = []
    for i, w in enumerate(names):
        # set-up is timed from process start, or from the end of a build
        SETUP_T0 = T0 if i == 0 and not built else time.time()
        rows.append(one(build_dir, classes, jars, w, a.seed, a.seconds, a.trace))
    print_table(rows, a.trace)
    if len(rows) == 1:
        row, metrics = rows[0]
    else:
        row = {"correct": all(r["correct"] for r, _ in rows),
               "attempted": sum(r["attempted"] for r, _ in rows),
               "failed": sum(r["failed"] for r, _ in rows)}
        metrics = {f"{r['workload']}.{k}": v for r, m in rows for k, v in m.items()}
    print(json.dumps({"correct": row["correct"], "attempted": row["attempted"],
                      "failed": row["failed"], "metrics": metrics}))


SETUP_T0 = T0

if __name__ == "__main__":
    main()
