#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB correctness compare.

Usage: python3 tools/compare_oracle.py <sfDir> <verifyOutDir>

For each key of verifyOutDir/oracle_sql.json, runs the oracle SQL in
DuckDB against the sfDir tables, sorts it and the entry's output parquet
by all columns (column names sorted), and compares row counts, schemas
and values. A key with no output directory is a FAIL. Output
directories with no oracle are listed as ROWS-ONLY. Exits 1 on any FAIL.
"""
import json
import math
import sys

import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
con = duckdb.connect()
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sfdir}/{t}.parquet'")

oracles = json.load(open(f"{outdir}/oracle_sql.json"))

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "NaN"
                else:
                    v = round(v, 9)
            vals.append(str(v))
        out.append("|".join(vals))
    return sorted(out)

fails, passes, rows_only = [], [], []
import glob, os
for d in sorted(glob.glob(f"{outdir}/*")):
    name = os.path.basename(d)
    if os.path.isdir(d) and name not in oracles:
        rows_only.append((name, len(con.sql(f"SELECT * FROM '{d}/*.parquet'").fetchall())))
# every oracle key is checked: a key whose entry wrote no output fails
for name in sorted(oracles):
    d = f"{outdir}/{name}"
    if not os.path.isdir(d):
        fails.append((name, "no output directory (the entry failed or was not run)"))
        continue
    got = con.sql(f"SELECT * FROM '{d}/*.parquet'")
    gcols = got.columns
    grows = got.fetchall()
    try:
        exp = con.sql(oracles[name])
        ecols = exp.columns
        erows = exp.fetchall()
    except Exception as ex:
        fails.append((name, f"oracle SQL error: {ex}"))
        continue
    if sorted(c.lower() for c in gcols) != sorted(c.lower() for c in ecols):
        fails.append((name, f"schema mismatch: got {sorted(gcols)} exp {sorted(ecols)}"))
        continue
    a, b = canon(grows, gcols), canon(erows, ecols)
    if len(a) != len(b):
        fails.append((name, f"row count: got {len(a)} exp {len(b)}"))
    elif a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:3]
        fails.append((name, f"value mismatch ({sum(1 for x, y in zip(a, b) if x != y)} rows), e.g. {diff}"))
    else:
        passes.append((name, len(a)))

print(f"PASS ({len(passes)}):")
for n, c in passes:
    print(f"  {n}: {c} rows")
print(f"ROWS-ONLY ({len(rows_only)}):")
for n, c in rows_only:
    print(f"  {n}: {c} rows")
print(f"FAIL ({len(fails)}):")
for n, m in fails:
    print(f"  {n}: {m[:400]}")
sys.exit(1 if fails else 0)
