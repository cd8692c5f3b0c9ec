#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle compare (dev tool only; the
shipped library is Scala). Usage:
  python3 tools/check.py [sfdir] [verify_outdir] [query ...]
Loads each SparkEntry query's parquet dump, runs the corresponding
oracle SQL in DuckDB over the same source tables, sorts columns by
name, and compares row-by-row exactly (the driver hash-compares).
Query names (shell-style patterns allowed, e.g. 'q_str_cdc*') limit the
compare to that subset -- the companion of a
`graft.Verify <sf> <out> <names...>` subset dump.

Dump-vs-dump mode: `--against OTHER_OUT` compares each query's rows in
verify_outdir with the same query's rows in OTHER_OUT (another
`graft.Verify` dump, e.g. of the parent commit), with the same value
normalization and column sort, instead of running the oracle. It covers
every dumped query, including those without an oracle; sfdir is not
read."""
import sys, json, glob, fnmatch, os
from decimal import Decimal

import duckdb

ARGS = sys.argv[1:]
AGAINST = None
if "--against" in ARGS:
    i = ARGS.index("--against")
    AGAINST = ARGS[i + 1]
    del ARGS[i:i + 2]
SF = ARGS[0] if len(ARGS) > 0 else "/root/testdata/sf0.001"
OUT = ARGS[1] if len(ARGS) > 1 else "/tmp/verify_out"
PATTERNS = ARGS[2:]
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

con = duckdb.connect()
con.execute("SET TimeZone='UTC'")

def select(names):
    if not PATTERNS:
        return names
    unmatched = [p for p in PATTERNS if not fnmatch.filter(names, p)]
    if unmatched:
        sys.exit(f"no declared query matches: {' '.join(unmatched)}")
    return [n for n in names if any(fnmatch.fnmatchcase(n, p) for p in PATTERNS)]

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

def dumped(out):
    return sorted(os.path.basename(os.path.dirname(f))
                  for f in glob.glob(f"{out}/*/_SUCCESS"))

def parquet(out, name):
    files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
    return fetch(f"SELECT * FROM read_parquet({files!r})") if files else None

if AGAINST:
    names = select(sorted(set(dumped(OUT)) | set(dumped(AGAINST))))
    n_same = n_diff = 0
    for name in names:
        a, b = parquet(OUT, name), parquet(AGAINST, name)
        if a is not None and a == b:
            n_same += 1
            continue
        n_diff += 1
        if a is None or b is None:
            print(f"DIFF {name}: dumped in only one of the two dirs")
        elif a[0] != b[0]:
            print(f"DIFF {name}: columns {a[0]} vs {b[0]}")
        else:
            print(f"DIFF {name}: {len(a[1])} vs {len(b[1])} rows, "
                  f"{sum(x != y for x, y in zip(a[1], b[1]))} differ in the common prefix")
    print(f"\n{n_same} identical, {n_diff} differ, {len(names)} dumped")
    sys.exit(1 if n_diff else 0)

for t in TABLES:
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")
oracle = json.load(open(f"{OUT}/oracle_sql.json"))
oracle = {n: oracle[n] for n in select(sorted(oracle))}

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
