"""Row-identity check of two graft.Verify output directories.

Usage: python3 plans/pr14/compare_dumps.py <dirA> <dirB> [names.txt]

For every query dumped in either directory (or only those listed one per
line in names.txt) it reads both parquet dumps with DuckDB, renders each
row as the full-precision repr of its values (columns in name order),
sorts the rows and compares. Prints the names that differ or are missing
on one side and exits 1 when there is any."""
import json
import os
import sys

import duckdb


def rows(path):
    con = duckdb.connect()
    rel = con.sql(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    cols = sorted(rel.columns)
    out = sorted(repr(tuple(r)) for r in con.sql(
        "SELECT " + ", ".join(f'"{c}"' for c in cols) + f" FROM read_parquet('{path}/*.parquet')").fetchall())
    con.close()
    return cols, out


a, b = sys.argv[1], sys.argv[2]
if len(sys.argv) > 3:
    names = [n.strip() for n in open(sys.argv[3]) if n.strip()]
else:
    names = sorted(set(json.load(open(os.path.join(a, "queries.json")))) |
                   set(json.load(open(os.path.join(b, "queries.json")))))
bad = []
for n in names:
    pa, pb = os.path.join(a, n), os.path.join(b, n)
    if not (os.path.isdir(pa) and os.path.isdir(pb)):
        bad.append(f"{n}: missing")
        continue
    if rows(pa) != rows(pb):
        bad.append(f"{n}: rows differ")
print(f"{len(names) - len(bad)} of {len(names)} queries row-identical")
for x in bad:
    print("  " + x)
sys.exit(1 if bad else 0)
