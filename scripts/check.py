#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run DuckDB oracle SQL
against the sf parquet tables and compare (schema-insensitively, columns
sorted by name, rows sorted) with the Verify.scala parquet dumps."""
import json, sys, glob, os
import duckdb
import pandas as pd

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
out_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/verify_out"
# --skip=q16,q56,... : names whose oracle is impractical at this SF
# (the quadratic shingle family takes ~9 min EACH in DuckDB at sf0.1)
skip = set()
for a in sys.argv[3:]:
    if a.startswith("--skip="):
        skip = set(a[len("--skip="):].split(","))

con = duckdb.connect()
for p in glob.glob(f"{sf_dir}/*.parquet"):
    name = os.path.basename(p)[:-len(".parquet")]
    con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
fails = 0
# every oracle key is checked: a query whose plan threw wrote no dir
dirs = {d for d in os.listdir(out_dir)
        if os.path.isdir(os.path.join(out_dir, d))}
for qname in sorted(dirs | set(oracle)):
    qdir = os.path.join(out_dir, qname)
    if qname in skip:
        print(f"{qname:24s} SKIPPED (slow oracle at this SF)")
        continue
    if qname not in dirs:
        print(f"{qname:24s} FAIL missing (no result dir)")
        fails += 1
        continue
    got = duckdb.sql(f"SELECT * FROM '{qdir}/*.parquet'").df()
    if qname not in oracle:
        print(f"{qname:24s} NO-ORACLE rows={len(got)}")
        continue
    rel = con.sql(oracle[qname])
    # The driver's hasher distinguishes integer representations: a DuckDB
    # HUGEINT (uncast sum()/list_sum()/window sum) or INTEGER (bare CASE /
    # literal) column hash-mismatches Spark's BIGINT even when every value
    # is equal — and pandas comparison below (check_dtype=False) cannot
    # see it. Fail on any integer-class drift between the oracle's native
    # types and the Spark parquet schema BEFORE the value diff.
    INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
                 "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT"}
    otypes = dict(zip(rel.columns, [str(t).upper() for t in rel.types]))
    stypes = {r[0]: str(r[1]).upper() for r in con.execute(
        f"DESCRIBE SELECT * FROM '{qdir}/*.parquet'").fetchall()}
    drift = [(c, stypes.get(c), otypes.get(c))
             for c in sorted(set(stypes) | set(otypes))
             if (stypes.get(c) in INT_TYPES or otypes.get(c) in INT_TYPES)
             and stypes.get(c) != otypes.get(c)]
    exp = rel.df()
    if drift:
        print(f"{qname:24s} FAIL types (spark vs oracle): {drift}")
        fails += 1
        continue
    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if df[c].dtype == object and len(df) and isinstance(df[c].iloc[0], (list,)):
                df[c] = df[c].apply(tuple)
        return df.sort_values(by=list(df.columns)).reset_index(drop=True)
    g, e = norm(got), norm(exp)
    ok = True
    if list(g.columns) != list(e.columns):
        print(f"{qname:24s} FAIL cols: got {list(g.columns)} vs {list(e.columns)}")
        ok = False
    elif len(g) != len(e):
        print(f"{qname:24s} FAIL rows: got {len(g)} vs {len(e)}")
        ok = False
    else:
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=True)
        except AssertionError as ex:
            print(f"{qname:24s} FAIL values: {str(ex).splitlines()[-1][:160]}")
            diff = (g != e) & ~(g.isna() & e.isna())
            for c in g.columns:
                if diff[c].any():
                    i = diff[c].idxmax()
                    print(f"   first diff col={c} row={i}: got={g[c].iloc[i]!r} exp={e[c].iloc[i]!r}")
            ok = False
    if ok:
        print(f"{qname:24s} OK rows={len(g)}")
    else:
        fails += 1
print("FAILS:", fails)
sys.exit(1 if fails else 0)
