#!/usr/bin/env python3
"""Local replica of the driver's correctness gate: for each query parquet in
outDir, run the oracle SQL from oracle_sql.json in DuckDB over sfDir tables,
compare row-count, sorted-column names, and row multiset.

Usage: check.py SF_DIR OUT_DIR [name,name,...]

Every requested query must have output: the named ones, or without a name
filter every oracle_sql.json key (plus any extra output directory). A query
whose output is missing (say, its gate crashed in Verify, which logs the
error and moves on) prints NO OUTPUT and fails the check. Every gate declares
its oracle, so an output directory with no oracle_sql.json entry is stale or
misspelled: it prints NO ORACLE and fails too."""
import sys, json, glob, os
import duckdb

sfdir, outdir = sys.argv[1], sys.argv[2]
only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
con = duckdb.connect()
for t in ["region","nation","customer","supplier","part","orders","lineitem",
          "events","documents","embeddings"]:
    p = f"{sfdir}/{t}.parquet"
    if os.path.exists(p):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))
dirs = {os.path.basename(d) for d in glob.glob(f"{outdir}/*") if os.path.isdir(d)}
names = sorted(set(only) if only is not None else set(oracle) | dirs)
fails = 0
for name in names:
    files = glob.glob(f"{outdir}/{name}/*.parquet")
    if not files:
        print(f"{name}: NO OUTPUT"); fails += 1; continue
    if name not in oracle:
        print(f"{name}: NO ORACLE"); fails += 1; continue
    got = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'").df()
    try:
        exp = con.execute(oracle[name]).df()
    except Exception as e:
        print(f"{name}: ORACLE SQL ERROR: {e}"); fails += 1; continue
    g = got.reindex(sorted(got.columns), axis=1)
    e = exp.reindex(sorted(exp.columns), axis=1)
    if sorted(g.columns) != sorted(e.columns):
        print(f"{name}: SCHEMA MISMATCH got={sorted(g.columns)} exp={sorted(e.columns)}"); fails += 1; continue
    if len(g) != len(e):
        print(f"{name}: ROWCOUNT got={len(g)} exp={len(e)}"); fails += 1; continue
    gs = g.sort_values(by=list(g.columns)).reset_index(drop=True)
    es = e.sort_values(by=list(e.columns)).reset_index(drop=True)
    import pandas as pd
    try:
        pd.testing.assert_frame_equal(gs, es, check_dtype=False, check_exact=True)
        print(f"{name}: OK rows={len(g)}")
    except AssertionError as ex:
        print(f"{name}: VALUE MISMATCH: {str(ex).splitlines()[-1]}"); fails += 1
print(f"\n{'FAIL' if fails else 'PASS'} ({len(names)-fails}/{len(names)})")
sys.exit(1 if fails else 0)
