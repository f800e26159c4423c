#!/usr/bin/env python3
"""Local emulation of the driver's correctness gate: for each query dumped by
graft.Verify, run the oracle SQL in DuckDB over the same sf dir and compare
schema + rows (columns sorted by name, rows sorted, values hashed)."""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify-out"

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-8]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
ok = fail = 0
for name, sql in sorted(oracles.items()):
    qdir = f"{out_dir}/{name}"
    if not os.path.isdir(qdir):
        print(f"[MISS] {name}: no spark output"); fail += 1; continue
    try:
        spark_tbl = pq.read_table(qdir)
        import pandas as pd
        sdf = spark_tbl.to_pandas()
        ddf = con.execute(sql).df()
        # driver semantics: sort columns by name, then compare value hashes
        sdf = sdf[sorted(sdf.columns)]
        ddf = ddf[sorted(ddf.columns)]
        if list(sdf.columns) != list(ddf.columns):
            print(f"[FAIL] {name}: columns {list(sdf.columns)} vs {list(ddf.columns)}"); fail += 1; continue
        if len(sdf) != len(ddf):
            print(f"[FAIL] {name}: rows {len(sdf)} vs {len(ddf)}"); fail += 1; continue
        s_rows = sorted(map(str, sdf.itertuples(index=False, name=None)))
        d_rows = sorted(map(str, ddf.itertuples(index=False, name=None)))
        if s_rows != d_rows:
            diffs = [(a, b) for a, b in zip(s_rows, d_rows) if a != b][:3]
            print(f"[FAIL] {name}: value mismatch, first diffs: {diffs}"); fail += 1; continue
        print(f"[ OK ] {name}: {len(sdf)} rows")
        ok += 1
    except Exception as e:
        print(f"[FAIL] {name}: {type(e).__name__}: {e}"); fail += 1

# rows-only queries (no oracle): an empty result fails the gate
empty = 0
for qdir in sorted(glob.glob(f"{out_dir}/q*")):
    name = os.path.basename(qdir)
    if name in oracles or not os.path.isdir(qdir):
        continue
    n = pq.read_table(qdir).num_rows
    status = "ok " if n > 0 else "EMPTY"
    empty += int(n == 0)
    print(f"[rows] {name}: {n} rows ({status})")

print(f"\n{ok} ok, {fail} failed of {len(oracles)} oracles; {empty} rows-only queries EMPTY")
sys.exit(1 if fail or empty else 0)
