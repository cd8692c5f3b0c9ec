#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare (dev tool only; the
shipped library is Scala). Usage:
  python3 tools/check.py [sfdir] [verify_outdir] [query ...]
Loads each SparkEntry query's parquet dump, runs the corresponding
oracle SQL in DuckDB over the same source tables, sorts columns by
name, and compares row-by-row exactly (the driver hash-compares).
Query names (shell-style patterns allowed, e.g. 'q_str_cdc*') limit the
compare to that subset -- the companion of a
`graft.Verify <sf> <out> <names...>` subset dump."""
import sys, json, glob, fnmatch
from decimal import Decimal

import duckdb

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")
for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))
PATTERNS = sys.argv[3:]
if PATTERNS:
    unmatched = [p for p in PATTERNS if not fnmatch.filter(oracle, p)]
    if unmatched:
        sys.exit(f"no declared query matches: {' '.join(unmatched)}")
    oracle = {n: q for n, q in oracle.items()
              if any(fnmatch.fnmatchcase(n, p) for p in PATTERNS)}

def norm(v):
    if isinstance(v, Decimal):
        return ("dec", str(v.normalize()))
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v

def fetch(sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return [cols[i] for i in order], [tuple(norm(r[i]) for i in order) for r in rows]

n_pass = n_fail = 0
for name in sorted(oracle):
    sql = oracle[name]
    files = sorted(glob.glob(f"{OUT}/{name}/*.parquet"))
    if not files:
        print(f"FAIL {name}: no spark output parquet")
        n_fail += 1
        continue
    try:
        gcols, got = fetch(f"SELECT * FROM read_parquet({files!r})")
    except Exception as e:
        print(f"FAIL {name}: reading spark output: {e}")
        n_fail += 1
        continue
    try:
        ecols, exp = fetch(sql)
    except Exception as e:
        print(f"FAIL {name}: oracle sql error: {e}")
        n_fail += 1
        continue
    if gcols != ecols:
        print(f"FAIL {name}: columns spark={gcols} duckdb={ecols}")
        n_fail += 1
        continue
    if len(got) != len(exp):
        print(f"FAIL {name}: rows spark={len(got)} duckdb={len(exp)}")
        n_fail += 1
        continue
    bad = [(i, g, e) for i, (g, e) in enumerate(zip(got, exp)) if g != e]
    if bad:
        i, g, e = bad[0]
        print(f"FAIL {name}: {len(bad)}/{len(got)} rows differ; first at {i}:")
        print(f"   cols : {gcols}")
        print(f"   spark: {g}")
        print(f"   duck : {e}")
        n_fail += 1
    else:
        print(f"ok   {name} ({len(got)} rows)")
        n_pass += 1

print(f"\n{n_pass} ok, {n_fail} fail, {len(oracle)} declared")
sys.exit(1 if n_fail else 0)
