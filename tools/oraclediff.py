#!/usr/bin/env python3
"""Compare two SPARK_GRAFT_SQL_ONLY oracle dumps by result: for every
query whose oracle SQL differs between the dumps, run both in DuckDB over
the same sf dir and compare the row count and a sha256 over the column
names, column types and rows (sorted by their repr). Queries whose SQL is
equal are not run. Exits 1 if any result differs or the key sets differ.
Usage: python3 tools/oraclediff.py <sfdir> <dump_a> <dump_b>
"""
import sys, os, json, hashlib
import duckdb

sfdir, dir_a, dir_b = sys.argv[1:4]
a, b = (json.load(open(f"{d}/oracle_sql.json")) for d in (dir_a, dir_b))
if set(a) != set(b):
    print("key sets differ:", sorted(set(a) ^ set(b)))
    sys.exit(1)
con = duckdb.connect()
con.sql(f"SET memory_limit='{os.environ.get('CHECK_MEMLIMIT', '4GB')}'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.isdir(p):
        p = f"{p}/*.parquet"
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")


def digest(sql):
    r = con.sql(sql)
    head = "|".join(f"{c}:{t}" for c, t in zip(r.columns, r.types))
    rows = sorted(repr(x) for x in r.fetchall())
    return len(rows), hashlib.sha256((head + "\n" + "\n".join(rows)).encode()).hexdigest()


changed = sorted(k for k in a if a[k] != b[k])
n_diff = 0
for k in changed:
    da, db = digest(a[k]), digest(b[k])
    n_diff += da != db
    print("SAME" if da == db else "DIFF", k, *da, *([] if da == db else db), flush=True)
print(f"== {len(changed)} changed, {n_diff} with a different result, "
      f"{len(a) - len(changed)} unchanged")
sys.exit(1 if n_diff else 0)
