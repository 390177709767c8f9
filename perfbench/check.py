"""Output checks, failing closed.

Queries are compared with their DuckDB oracle (`SparkEntry.oracleSql`)
the way the project's selfcheck compares them: columns sorted by name,
rows sorted, every value by its full-precision `repr`. The oracle side is
reduced to a digest and kept next to the inputs, keyed by the oracle SQL,
so a later run on the same seed and the same SQL reuses it.

The chain (run in traced runs) is checked with the counts
`Layouts.verifyTrainingShards` gave inside the JVM (no mismatched shard)
and by its committed manifest, which must be identical across every run
of one seed.
"""
import glob
import hashlib
import json
import math
import os

import duckdb

from gen import TABLES


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def digest(cursor):
    """Order-free digest of a result: (row count, sorted columns, sha256)."""
    cols = [d[0] for d in cursor.description]
    rows = cursor.fetchall()
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_norm(r[i]) for i in idx) for r in rows)
    sha = hashlib.sha256(repr((sorted(cols), canon)).encode()).hexdigest()
    return {"rows": len(rows), "cols": sorted(cols), "sha": sha}


def connect(data_dir, tmp_dir):
    con = duckdb.connect()
    con.execute("SET memory_limit = '2GB'")
    con.execute(f"SET temp_directory = '{tmp_dir}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def expected(con, data_dir, name, sql):
    """Oracle digest for one query, computed once per seed and SQL text."""
    key = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(data_dir, "expected", f"{name}-{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    d = digest(con.execute(sql))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(d, f)
    os.replace(path + ".tmp", path)
    return d


def output_digest(con, out_dir):
    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return None
    return digest(con.execute(f"SELECT * FROM read_parquet({files!r})"))


def check_queries(con, data_dir, ops, oracle_sql, ops_dir):
    """Marks each failed query operation in place; a query without oracle
    SQL fails, since its output cannot be checked."""
    for o in ops:
        if o["name"].startswith("@") or o["error"]:
            continue
        if o["name"] not in oracle_sql:
            o["error"] = "no oracle SQL"
            continue
        want = expected(con, data_dir, o["name"], oracle_sql[o["name"]])
        got = output_digest(con, os.path.join(ops_dir, f"{o['seq']:05d}"))
        if got is None:
            o["error"] = "missing output"
        elif got["rows"] == 0:
            o["error"] = "empty output"
        elif got != want:
            o["error"] = (f"mismatch: {got['rows']} rows vs oracle {want['rows']}"
                          f"{'' if got['cols'] == want['cols'] else ', columns differ'}")


def check_chain(con, data_dir, ops, chain, ops_dir):
    """Chain runs: the shards verify against their manifest, and the
    manifest is the one every run of this seed committed."""
    verified = {c["seq"]: c for c in chain}
    path = os.path.join(data_dir, "expected", "chain-manifest.json")
    for o in ops:
        if o["name"] != "@chain" or o["error"]:
            continue
        v = verified.get(o["seq"])
        if v is None:
            o["error"] = "shards not verified"
            continue
        if v["shards"] == 0 or v["mismatches"] != 0:
            o["error"] = f"{v['mismatches']} of {v['shards']} shards mismatch the manifest"
            continue
        got = output_digest(con, os.path.join(ops_dir, f"{o['seq']:05d}", "shards", "manifest"))
        if got is None or got["rows"] == 0:
            o["error"] = "missing manifest"
            continue
        if not os.path.exists(path):
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path + ".tmp", "w") as f:
                json.dump(got, f)
            os.replace(path + ".tmp", path)
        with open(path) as f:
            if json.load(f) != got:
                o["error"] = "manifest differs from this seed's recorded manifest"
