#!/usr/bin/env python3
"""Local pre-flight for the driver's t2 gate: run each oracle SQL in DuckDB
over the same parquet tables and diff against the Verify.scala parquet dump.
Usage: python3 scripts/check_oracles.py <sfDir> <verifyOutDir> [query,query,...]
The optional third argument is the comma-separated query filter
`graft.Verify` takes: only the named oracles are checked.
"""
import json, sys, glob, os
import duckdb
import pyarrow.parquet as pq
import pandas as pd

sf_dir, out_dir = sys.argv[1], sys.argv[2]
only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
if only is not None:
    oracle = {k: v for k, v in oracle.items() if k in only}
ok = fail = 0
for name in sorted(oracle):
    files = glob.glob(f"{out_dir}/{name}/*.parquet")
    if not files:
        print(f"MISSING spark result: {name}")
        fail += 1
        continue
    spark_df = pq.read_table(files[0]).to_pandas()
    try:
        duck_df = con.sql(oracle[name]).df()
    except Exception as e:
        print(f"ORACLE SQL ERROR {name}: {e}")
        fail += 1
        continue
    # driver-style compare: sort columns by name, then sort rows, compare
    a = spark_df.reindex(sorted(spark_df.columns), axis=1)
    b = duck_df.reindex(sorted(duck_df.columns), axis=1)
    status = []
    if list(a.columns) != list(b.columns):
        status.append(f"cols {list(a.columns)} != {list(b.columns)}")
    elif len(a) != len(b):
        status.append(f"rows {len(a)} != {len(b)}")
    else:
        a2 = a.sort_values(by=list(a.columns)).reset_index(drop=True)
        b2 = b.sort_values(by=list(b.columns)).reset_index(drop=True)
        try:
            b2 = b2.astype(a2.dtypes.to_dict())
        except Exception as e:
            status.append(f"dtype cast: {e}")
        if not status and not a2.equals(b2):
            neq = (a2 != b2) & ~(a2.isna() & b2.isna())
            bad_cols = [c for c in a2.columns if neq[c].any()]
            detail = []
            for c in bad_cols[:3]:
                i = neq[c].idxmax()
                detail.append(f"{c}[{i}]: {a2[c][i]!r} vs {b2[c][i]!r}")
            status.append(f"values differ in {bad_cols}; " + "; ".join(detail))
        if not status:
            for c in a.columns:
                if str(a[c].dtype) != str(b[c].dtype):
                    # soft: informational only, does not fail the pre-flight
                    print(f"warn  {name}: dtype {c}: {a[c].dtype} vs {b[c].dtype} (soft)")
    if status:
        print(f"FAIL  {name}: {'; '.join(status)}")
        fail += 1
    else:
        print(f"ok    {name} ({len(a)} rows)")
        ok += 1
print(f"\n{ok} ok, {fail} fail")
sys.exit(1 if fail else 0)
