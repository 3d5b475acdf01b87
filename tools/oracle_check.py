#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle compare: reads the
Verify.scala dump (per-query parquet + oracle_sql.json), runs each
oracle SQL against the sf dir's parquet tables, and compares row count,
column names, and an ordered-row value hash.

Usage: oracle_check.py <verify_out_dir> <sf_dir> [query ...]
"""
import sys, json, glob, hashlib
import duckdb

out, sf = sys.argv[1], sys.argv[2]
only = set(sys.argv[3:])
oracle = json.load(open(f"{out}/oracle_sql.json"))
con = duckdb.connect()
import os
for t in ["documents", "lineitem", "orders", "customer", "part", "events", "embeddings"]:
    p = f"{sf}/{t}.parquet"
    if not os.path.exists(p):
        print(f"WARN missing table {t} in {sf}; oracles using it will ERR")
        continue
    pat = f"{p}/*.parquet" if os.path.isdir(p) else p
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM parquet_scan('{pat}')")

import decimal
def canon(v):
    # Decimals (DuckDB ROUND etc.) must hash like the parquet floats
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        # full precision: repr round-trips, so a last-bit divergence
        # changes the hash (it also tells -0.0 from 0.0)
        return repr(v)
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return str(v)

fails = 0
for name, sql in sorted(oracle.items()):
    if only and name not in only:
        continue
    try:
        want = con.execute(sql).fetchall()
        wcols = [d[0] for d in con.description]
        files = sorted(glob.glob(f"{out}/{name}/*.parquet"))
        got = con.execute(
            "SELECT * FROM parquet_scan([" + ",".join(f"'{f}'" for f in files) + "])").fetchall()
        gcols = [d[0] for d in con.description]
        rows_ok = len(want) == len(got)
        schema_ok = [c.lower() for c in wcols] == [c.lower() for c in gcols]
        h = lambda rows: hashlib.md5(
            "\n".join("|".join(canon(v) for v in r) for r in rows).encode()).hexdigest()
        hash_ok = h(want) == h(got)
        status = "OK " if (rows_ok and schema_ok and hash_ok) else "FAIL"
        if status == "FAIL":
            fails += 1
            print(f"{status} {name}: rows {len(got)}/{len(want)} schema={schema_ok} hash={hash_ok}")
            if rows_ok and schema_ok:
                for i, (a, b) in enumerate(zip(got, want)):
                    if [canon(v) for v in a] != [canon(v) for v in b]:
                        print(f"  first diff row {i}: got={a} want={b}")
                        break
        else:
            print(f"{status} {name}: {len(got)} rows")
    except Exception as e:
        fails += 1
        print(f"ERR  {name}: {e}")
print("FAILURES:", fails)
sys.exit(1 if fails else 0)
