#!/usr/bin/env python3
"""Local mirror of the driver's correctness gate: for each query named in
graft.Verify's queries.json, run the matching oracleSql in DuckDB over
the same sf parquet tables and compare row count, schema width, and
exact values (rows sorted, columns sorted by name — like the driver).
A named query with no dump is a FAIL, and any FAIL exits 1, as does a
run that checked no query (skipped ones aside).

Usage: python3 scripts/selfcheck.py <sfDir> <verifyOutDir> [skipCsv]

skipCsv: comma-separated query names whose single-SQL DuckDB twins are
single-node-infeasible at the given scale (the sf>=1 sweep lists
semantic_clusters,semantic_dedup,winnow_overlap — their recursive-CTE/
pair-self-join oracles exceeded 129 GB RSS in ONE monolithic query;
SURVEY section 7f round 7). When the Verify dump carries
oracle_stages.json (SparkEntry.oracleStages), a listed query is
verified through its PARTITIONED oracle instead of being skipped: the
same oracle semantics decomposed into per-stage (and per-shard)
DuckDB invocations, each bounded and parquet-committed, then the
standard exact rows+schema+hash compare on the final stage. Only a
listed query with NO stage pipeline falls back to a skip.

Without skipCsv, a dump of a scale above sf0.01 (read from the sfDir
name, e.g. .../sf0.1) runs every query that has a stage pipeline
through it: winnow_overlap's single-SQL oracle alone outgrew a 15 GB
host at sf0.1. Pass an empty skipCsv ("") to run every single-SQL
oracle anyway. DuckDB's memory limits follow the host's MemTotal
(40% for the main connection, 30% per stage connection;
GRAFT_STAGE_MEM overrides the latter).
"""
import sys, json, math, glob, os, re
import duckdb


def _host_mem_mb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise SystemExit("selfcheck: no MemTotal in /proc/meminfo")


# DuckDB does not govern all of its memory (list-heavy aggregations
# overshoot the limit), so the limits stay well under the host's RAM:
# the main connection may hold its buffers while a stage connection runs
HOST_MEM_MB = _host_mem_mb()
MAIN_MEM = f"{max(1024, HOST_MEM_MB * 2 // 5)}MB"
# fresh-connection defaults for staged-oracle invocations: each stage
# (shard) gets its own bounded, spill-enabled connection, so the
# pipeline's peak memory is one shard's working set
STAGE_MEM = os.environ.get("GRAFT_STAGE_MEM", f"{max(1024, HOST_MEM_MB * 3 // 10)}MB")
# above this scale, queries with a stage pipeline run it by default
STAGE_ABOVE_SF = 0.01


def default_skip(sf_dir, out_dir):
    """The staged queries of a dump above sf0.01, else none."""
    m = re.fullmatch(r"sf([0-9.]+)", os.path.basename(os.path.normpath(sf_dir)))
    stages_path = os.path.join(out_dir, "oracle_stages.json")
    if not m or float(m.group(1)) <= STAGE_ABOVE_SF or not os.path.exists(stages_path):
        return ()
    return tuple(sorted(json.load(open(stages_path))))


def _stage_con(sf_dir, views):
    c = duckdb.connect()
    c.execute(f"SET memory_limit = '{STAGE_MEM}'")
    c.execute("SET temp_directory = '/tmp/duckdb_spill'")
    for t in TABLES:
        c.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                  f"read_parquet('{sf_dir}/{t}.parquet')")
    for v, p in views.items():
        c.execute(f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{p}')")
    return c


def _cc_stage(pairs_view, views, sf_dir, out_path):
    """Runner-side connected components over (vec_a, vec_b) pairs:
    iterative min-label propagation with label shortcutting (v also
    adopts its current label's label — halves the rounds on chains),
    exactly the recursive-CTE `least(min(reachable), self)` fixpoint
    without materializing the transitive closure."""
    c = _stage_con(sf_dir, views)
    c.execute(f"CREATE TABLE bidir AS SELECT vec_a AS a, vec_b AS b "
              f"FROM {pairs_view} UNION SELECT vec_b, vec_a FROM {pairs_view}")
    c.execute("CREATE TABLE lbl AS SELECT DISTINCT a AS v, a AS l FROM bidir")
    for it in range(200):
        c.execute("""CREATE OR REPLACE TABLE nl AS
            SELECT v, min(l) AS l FROM (
              SELECT v, l FROM lbl
              UNION ALL
              SELECT e.a AS v, l2.l AS l
              FROM bidir e JOIN lbl l2 ON l2.v = e.b
              UNION ALL
              SELECT l1.v AS v, l2.l AS l
              FROM lbl l1 JOIN lbl l2 ON l2.v = l1.l
            ) GROUP BY v""")
        changed = c.execute(
            "SELECT count(*) FROM nl JOIN lbl USING (v) "
            "WHERE nl.l <> lbl.l").fetchone()[0]
        c.execute("CREATE OR REPLACE TABLE lbl AS SELECT v, l FROM nl")
        if changed == 0:
            break
    else:
        raise RuntimeError("cc stage did not converge in 200 rounds")
    c.execute(f"COPY (SELECT v AS vec_id, l AS cluster_id FROM lbl "
              f"ORDER BY vec_id) TO '{out_path}' (FORMAT parquet)")
    c.close()


def run_staged(name, stages, sf_dir, tmp_root):
    """Execute a partitioned oracle pipeline; returns (glob of the final
    stage's parquet, #invocations). Every stage commits to parquet and
    later stages see earlier ones as views over those files."""
    qdir = os.path.join(tmp_root, name)
    import shutil
    shutil.rmtree(qdir, ignore_errors=True)
    views = {}
    invocations = 0
    for st in stages:
        outdir = os.path.join(qdir, st["name"])
        os.makedirs(outdir, exist_ok=True)
        if st["sql"].startswith("@cc "):
            _cc_stage(st["sql"][4:].strip(), views, sf_dir,
                      f"{outdir}/s0.parquet")
            invocations += 1
        elif st["shards"] > 0:
            for i in range(st["shards"]):
                sql = (st["sql"].replace("{NSHARDS}", str(st["shards"]))
                                .replace("{SHARD}", str(i)))
                c = _stage_con(sf_dir, views)
                c.execute(f"COPY ({sql}) TO '{outdir}/s{i}.parquet' "
                          f"(FORMAT parquet)")
                c.close()
                invocations += 1
        else:
            c = _stage_con(sf_dir, views)
            c.execute(f"COPY ({st['sql']}) TO '{outdir}/s0.parquet' "
                      f"(FORMAT parquet)")
            c.close()
            invocations += 1
        views[st["name"]] = f"{outdir}/*.parquet"
    return views[stages[-1]["name"]], invocations

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision
    return repr(v)

def pandas_dtype_check(name, files, con, oracle_sql):
    """Mimic the driver's readers: Spark side via pandas.read_parquet,
    oracle side via DuckDB .df(); compare dtypes and verify the
    sort_values the driver applies doesn't throw (list columns do).
    Returns an error string or None."""
    import pandas as pd
    spark = pd.concat([pd.read_parquet(f) for f in files])
    ora = con.execute(oracle_sql).df()
    if sorted(spark.columns) != sorted(ora.columns):
        return None  # schema mismatch reported by the value phase
    spark = spark[sorted(spark.columns)]
    ora = ora[sorted(ora.columns)]
    def kind(s):
        # integer widths hash identically (values widen to uint64) and
        # datetime units/date-objects stringify identically on the
        # driver (q_monthly_orders et al. pass with object(date) vs
        # datetime64[us]); float32 vs float64 / int vs float /
        # Decimal-object vs float do NOT — those are what bit the
        # PQ + token_spectrum family in round 7.
        d = s.dtype
        if d.kind in "iu":
            return "int"
        if d.kind == "M":
            return "datetime"
        if d.kind == "f":
            return str(d)  # float32 != float64
        if d.kind == "O":
            nn = s.dropna()
            if len(nn) == 0:
                return "object(empty)"
            t = type(nn.iloc[0]).__name__
            return "datetime" if t in ("date", "datetime", "Timestamp") else f"object({t})"
        return str(d)
    bad = [f"{c}: spark={kind(spark[c])} oracle={kind(ora[c])}"
           for c in spark.columns if kind(spark[c]) != kind(ora[c])]
    if bad:
        return "pandas dtype mismatch (driver would hash-mismatch): " + "; ".join(bad)
    try:
        spark.sort_values(list(spark.columns))
        ora.sort_values(list(ora.columns))
    except Exception as e:
        return f"driver sort_values would fail: {type(e).__name__}: {e}"
    return None


def spark_kind(s):
    """Pandas dtype class of a dumped Spark column — shared by the
    full and describe dtype phases (same classes the driver's hash
    compare is sensitive to)."""
    d = s.dtype
    if d.kind in "iu":
        return "int"
    if d.kind == "M":
        return "datetime"
    if d.kind == "f":
        return str(d)
    if d.kind == "O":
        nn = s.dropna()
        if len(nn) == 0:
            return "object(empty)"
        t = type(nn.iloc[0]).__name__
        return "datetime" if t in ("date", "datetime", "Timestamp") else f"object({t})"
    return str(d)


def duck_kind(t):
    """Pandas dtype class DuckDB's .df() would produce for a DESCRIBEd
    column type — the execution-free side of the describe dtype phase."""
    t = t.upper()
    if t.startswith("DECIMAL") or t in ("HUGEINT", "UHUGEINT"):
        return "float64"
    if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT",
             "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"):
        return "int"
    if t == "DOUBLE":
        return "float64"
    if t in ("FLOAT", "REAL"):
        return "float32"
    if t in ("VARCHAR", "UUID"):
        return "object(str)"
    if t.startswith("DATE") or t.startswith("TIMESTAMP"):
        return "datetime"
    if t == "BOOLEAN":
        return "bool"
    return f"object({t})"


def describe_dtype_check(name, files, con, oracle_sql):
    """Execution-free mirror of pandas_dtype_check for big-SF sweeps
    (the full phase re-executes every oracle — 2+ CPU-hours at sf1):
    Spark dtypes come from the already-written dumps, oracle dtypes
    from DESCRIBE (planning only). One documented blind spot: DESCRIBE
    says 'int' where .df() would widen a NULL-bearing int column to
    float64 — accepted only when the Spark dump shows the same
    nullable-int coercion (NaNs present); a null-free float64-vs-int
    pair is still flagged (that is the real round-7 bug class)."""
    import pandas as pd
    spark = pd.concat([pd.read_parquet(f) for f in files])
    desc = con.execute(f"DESCRIBE {oracle_sql}").fetchall()
    ora = {r[0]: r[1] for r in desc}
    if sorted(spark.columns) != sorted(ora):
        return None  # schema mismatch reported by the value phase
    bad = []
    for c in spark.columns:
        sk, dk = spark_kind(spark[c]), duck_kind(ora[c])
        if sk == dk:
            continue
        if sk == "float64" and dk == "int" and spark[c].isna().any():
            continue  # both engines' pandas would widen the NULLs
        if sk == "object(empty)":
            continue  # no rows to type on the Spark side
        bad.append(f"{c}: spark={sk} oracle~{dk} (describe)")
    if bad:
        return "dtype mismatch (describe phase): " + "; ".join(bad)
    return None


def main(sf_dir, out_dir, skip=()):
    con = duckdb.connect()
    # Bound the oracle's memory and give it a spill dir: the heavy
    # dedup/clustering oracles (recursive CTEs, fingerprint pair
    # self-joins) exceeded 129 GB RSS on sf1's duplicate-heavy corpus
    # and were OOM-killed after hours. The cap makes governed
    # operators spill instead — measured caveat: DuckDB's list-heavy
    # aggregations are NOT fully governed (the capped winnow oracle
    # still climbed past 113 GB), so at sf >= 1 the three heaviest
    # oracles remain single-node-infeasible; verify those structurally
    # (see SURVEY section 7f round 7).
    con.execute(f"SET memory_limit = '{MAIN_MEM}'")
    con.execute("SET temp_directory = '/tmp/duckdb_spill'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    stages_path = os.path.join(out_dir, "oracle_stages.json")
    staged = json.load(open(stages_path)) if os.path.exists(stages_path) else {}
    staged_tmp = os.path.join(out_dir, "_staged_oracle")
    n_pass = n_fail = 0
    # optional machine-readable results (GRAFT_SELFCHECK_JSON=path):
    # {query: {"pass": bool, "rows": int, "detail": str}} — the sf1
    # sweep assembles CORRECTNESS_sf1.json from this
    results = {}
    def record(name, ok, rows=None, detail=""):
        results[name] = {"pass": ok, "rows": rows, "detail": detail}
    # fail closed: every name Verify was asked to dump is checked, and
    # one with no dump is a FAIL — walking the output directory instead
    # would silently pass a query that died in the dump phase
    for name in sorted(json.load(open(os.path.join(out_dir, "queries.json")))):
        d = os.path.join(out_dir, name)
        if not glob.glob(f"{d}/*.parquet"):
            n_fail += 1
            print(f"  FAIL {name}: no dump in {d}")
            record(name, False, detail="no dump")
            continue
        partitioned = None
        if name in skip:
            if name in staged:
                # the single-SQL twin is infeasible here; run the
                # PARTITIONED pipeline and compare its final stage with
                # the standard exact machinery below
                final_glob, ninv = run_staged(name, staged[name], sf_dir,
                                              staged_tmp)
                oracle[name] = f"SELECT * FROM read_parquet('{final_glob}')"
                partitioned = (f"partitioned oracle ({len(staged[name])} "
                               f"stages, {ninv} invocations)")
                print(f"  staged {name}: {partitioned}")
            else:
                print(f"  SKIP {name}: oracle infeasible at this scale "
                      f"(structural check instead)")
                record(name, None, detail="skipped: structural check")
                continue
        files = glob.glob(f"{d}/*.parquet")
        got_cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM read_parquet({files!r})").fetchall()]
        got = con.execute(
            f"SELECT * FROM read_parquet({files!r})").fetchall()
        if name not in oracle:
            print(f"  rows-only {name}: rows={len(got)}")
            record(name, len(got) > 0, len(got), "rows-only")
            continue
        res = con.execute(oracle[name])
        exp_cols = [c[0] for c in res.description]
        exp = res.fetchall()
        # driver-faithful dtype phase: the driver reads the Spark
        # parquet via pandas/pyarrow (DECIMAL -> object(Decimal),
        # list -> ndarray: unsortable) and the oracle via DuckDB .df()
        # (DECIMAL/HUGEINT -> float64). Equal VALUES with unequal
        # pandas dtypes still hash-mismatch on the driver — catch that
        # here, where the repr-based compare below is blind to it.
        # NOTE: the full phase re-executes the oracle once more for
        # .df(). Modes (GRAFT_SELFCHECK_DTYPE): full (default),
        # describe (execution-free — DESCRIBE types vs dump dtypes,
        # for sf>=1 sweeps), off. GRAFT_SELFCHECK_NO_DTYPE=1 is the
        # legacy spelling of off.
        dtype_mode = os.environ.get("GRAFT_SELFCHECK_DTYPE", "full")
        if os.environ.get("GRAFT_SELFCHECK_NO_DTYPE"):
            dtype_mode = "off"
        if dtype_mode == "describe":
            dtype_err = describe_dtype_check(name, files, con, oracle[name])
        elif dtype_mode == "off":
            dtype_err = None
        else:
            dtype_err = pandas_dtype_check(name, files, con, oracle[name])
        if dtype_err:
            n_fail += 1
            print(f"  FAIL {name}: {dtype_err}")
            record(name, False, len(got), dtype_err)
            continue
        # sort columns by name, then rows
        gidx = [got_cols.index(c) for c in sorted(got_cols)]
        eidx = [exp_cols.index(c) for c in sorted(exp_cols)]
        g = sorted(tuple(norm(r[i]) for i in gidx) for r in got)
        e = sorted(tuple(norm(r[i]) for i in eidx) for r in exp)
        ok_schema = sorted(got_cols) == sorted(exp_cols)
        ok = ok_schema and g == e
        if ok:
            n_pass += 1
            print(f"  PASS {name}: rows={len(got)}")
            record(name, True, len(got), partitioned or "")
        else:
            n_fail += 1
            record(name, False, len(got),
                   f"rows {len(got)} vs {len(exp)}; schema_ok={ok_schema}")
            print(f"  FAIL {name}: rows {len(got)} vs {len(exp)}; "
                  f"schema {sorted(got_cols)} vs {sorted(exp_cols)}")
            if ok_schema:
                diff = [(a, b) for a, b in zip(g, e) if a != b][:3]
                for a, b in diff:
                    print(f"    got {a}\n    exp {b}")
                only_g = [r for r in g if r not in set(e)][:2]
                only_e = [r for r in e if r not in set(g)][:2]
                if only_g: print(f"    only-in-got: {only_g}")
                if only_e: print(f"    only-in-exp: {only_e}")
    print(f"== {n_pass} pass, {n_fail} fail")
    jout = os.environ.get("GRAFT_SELFCHECK_JSON")
    if jout:
        with open(jout, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    # fail closed: a run that checked nothing (skipped queries aside)
    # proves nothing
    if n_pass + n_fail == 0:
        print("== FAIL: no query was checked")
        return 1
    return n_fail

if __name__ == "__main__":
    if len(sys.argv) > 3:
        skip = tuple(n for n in sys.argv[3].split(",") if n)
    else:
        skip = default_skip(sys.argv[1], sys.argv[2])
        if skip:
            print(f"  staging by default above sf{STAGE_ABOVE_SF}: {','.join(skip)}")
    sys.exit(1 if main(sys.argv[1], sys.argv[2], skip) else 0)
