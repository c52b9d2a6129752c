#!/usr/bin/env python3
"""Dev-only mimic of the driver's t2 correctness gate (NOT part of the
shipped library): runs each oracle_sql.json entry in DuckDB against the
sf tables and compares with the Verify parquet dumps — column names
sorted, rows sorted, values normalized — reporting per-query
match/mismatch so oracle drift is caught before the driver runs.

Usage: python3 tools/oracle_check.py [sfDir] [verifyDir]
"""
import atexit, json, os, shutil, sys, math, tempfile
import duckdb
import pandas as pd

OUT = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft-verify"
# default SF to whatever the dump was produced against (Verify writes
# sf_dir.txt) — comparing a dump to a different sf's tables produces
# confusing partial mismatches on sf-sensitive queries
_recorded = None
if os.path.exists(f"{OUT}/sf_dir.txt"):
    _recorded = open(f"{OUT}/sf_dir.txt").read().strip()
SF = sys.argv[1] if len(sys.argv) > 1 else (_recorded or "/root/testdata/sf0.01")
if _recorded and SF != _recorded:
    print(f"WARNING: comparing dump produced at {_recorded} against {SF}")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Bounded memory with a private spill directory: DuckDB's defaults (80%
# of RAM, spill to ./.tmp) ran the x239/x259/x285 oracles out of memory
# and then out of spill space at sf0.1 on a 15 GB machine.
SPILL = tempfile.mkdtemp(prefix="graft-oracle-spill-", dir="/tmp")
atexit.register(shutil.rmtree, SPILL, ignore_errors=True)
con = duckdb.connect(config={"memory_limit": "6GB", "temp_directory": SPILL})
for t in TABLES:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")

oracle = json.load(open(f"{OUT}/oracle_sql.json"))

def normalize(df):
    df = df.reindex(sorted(df.columns), axis=1)
    out = []
    for _, row in df.iterrows():
        vals = []
        for v in row:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(f"{v:.6f}".rstrip("0").rstrip("."))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out), sorted(df.columns)

fails, passes, rows_only = [], [], []
import glob, os
result_dirs = sorted(d for d in os.listdir(OUT) if os.path.isdir(f"{OUT}/{d}"))
for name in result_dirs:
    files = glob.glob(f"{OUT}/{name}/*.parquet")
    if not files:
        fails.append((name, "no spark output parquet"))
        continue
    spark_df = pd.concat([pd.read_parquet(f) for f in sorted(files)])
    if name not in oracle:
        rows_only.append((name, len(spark_df)))
        continue
    try:
        duck_df = con.execute(oracle[name]).df()
    except Exception as e:
        fails.append((name, f"oracle sql error: {e}"))
        continue
    s_rows, s_cols = normalize(spark_df)
    d_rows, d_cols = normalize(duck_df)
    if s_cols != d_cols:
        fails.append((name, f"schema mismatch: spark={s_cols} duck={d_cols}"))
    elif len(s_rows) != len(d_rows):
        fails.append((name, f"rowcount: spark={len(s_rows)} duck={len(d_rows)}"))
    elif s_rows != d_rows:
        diff = next((i, a, b) for i, (a, b) in enumerate(zip(s_rows, d_rows)) if a != b)
        fails.append((name, f"value mismatch at sorted row {diff[0]}: spark={diff[1]} duck={diff[2]}"))
    else:
        passes.append(name)

print(f"PASS {len(passes)}: {' '.join(passes)}")
print(f"ROWS-ONLY {len(rows_only)}: {' '.join(f'{n}({r})' for n, r in rows_only)}")
empty = [n for n, r in rows_only if r == 0]
if empty:
    print(f"EMPTY rows-only outputs (driver check would fail): {empty}")
print(f"FAIL {len(fails)}:")
for name, why in fails:
    print(f"  {name}: {why}")
missing = set(oracle) - set(result_dirs)
if missing:
    print(f"MISSING spark outputs for oracle keys: {sorted(missing)}")
sys.exit(1 if fails or empty else 0)
