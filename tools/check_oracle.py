#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB correctness gate: runs each oracle SQL
against the sf parquet tables and compares (rows, schema-by-name, values)
with the Spark result parquet dumped by graft.Verify.

usage: check_oracle.py [sfDir] [outDir] [gate...]
Trailing gate names check only those gates, as `graft.Verify` runs only the
gates it is given; with none, every oracle in oracle_sql.json is checked."""
import sys, json, glob
import duckdb
import pyarrow.parquet as pq

sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
only = set(sys.argv[3:])

con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")

oracles = json.load(open(f"{out}/oracle_sql.json"))
ok = fail = 0
for name in sorted(only - oracles.keys()):
    print(f"{name}: NO ORACLE"); fail += 1
for name, sql in sorted(oracles.items()):
    if only and name not in only:
        continue
    files = glob.glob(f"{out}/{name}/*.parquet")
    if not files:
        print(f"{name}: NO SPARK OUTPUT"); fail += 1; continue
    try:
        got = con.sql(f"SELECT * FROM '{out}/{name}/*.parquet'").df()
        exp = con.sql(sql).df()
    except Exception as e:
        print(f"{name}: ORACLE ERROR {str(e)[:160]}"); fail += 1; continue
    gcols, ecols = sorted(got.columns), sorted(exp.columns)
    if gcols != ecols:
        print(f"{name}: SCHEMA MISMATCH spark={gcols} oracle={ecols}"); fail += 1; continue
    g = got[gcols].sort_values(gcols).reset_index(drop=True)
    e = exp[ecols].sort_values(ecols).reset_index(drop=True)
    if len(g) != len(e):
        print(f"{name}: ROWCOUNT spark={len(g)} oracle={len(e)}"); fail += 1; continue
    try:
        import pandas as pd
        eq = g.astype(str).equals(e.astype(str))
    except Exception as ex:
        eq = False
    if not eq:
        diff = (g.astype(str) != e.astype(str)).any(axis=1)
        print(f"{name}: VALUE MISMATCH ({diff.sum()} rows)")
        print("  spark:", g[diff].head(3).to_dict('records'))
        print("  oracle:", e[diff].head(3).to_dict('records'))
        fail += 1; continue
    print(f"{name}: OK ({len(g)} rows)"); ok += 1

# rows-only queries
for d in sorted(glob.glob(f"{out}/*/")):
    name = d.rstrip("/").split("/")[-1]
    if name not in oracles and name != "oracle_sql.json" and not only:
        n = pq.ParquetDataset(d).read().num_rows
        print(f"{name}: rows-only ({n} rows)")
print(f"\n{ok} OK, {fail} FAIL")
sys.exit(1 if fail else 0)
