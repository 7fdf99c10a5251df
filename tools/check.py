#!/usr/bin/env python3
"""Local oracle self-check: replicate the driver's Verify→DuckDB compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [query ...]

A named query with no oracle entry is a failure (a typo must not pass
having compared nothing), and so is a run that compares no query at all.

Reads each <verifyOutDir>/<name> parquet (written by graft.Verify), runs
the matching SQL from <verifyOutDir>/oracle_sql.json in DuckDB over the
sfDir tables, and diffs: schema (column names sorted), row count, and
values (rows sorted by all columns). Reports exact mismatches plus max
float deviation, so oracle-parity bugs surface before the driver runs.
"""
import sys, json, glob, os
import duckdb
import pandas as pd
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    # normalize datetimes to ns, strip tz
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)

def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    only = set(sys.argv[3:])
    con = duckdb.connect()
    for t in TABLES:
        f = f"{sf_dir}/{t}.parquet"
        if os.path.exists(f):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{f}')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    fails = 0
    for name in sorted(only - set(oracle)):
        print(f"FAIL {name}: no oracle entry in {out_dir}/oracle_sql.json")
        fails += 1
    compared = 0
    for name in sorted(oracle):
        if only and name not in only:
            continue
        compared += 1
        res_dir = f"{out_dir}/{name}"
        if not glob.glob(f"{res_dir}/*.parquet"):
            print(f"FAIL {name}: no spark result at {res_dir}")
            fails += 1
            continue
        got = pd.read_parquet(res_dir)
        try:
            exp = con.sql(oracle[name]).df()
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            fails += 1
            continue
        g, e = canon(got), canon(exp)
        if list(g.columns) != list(e.columns):
            print(f"FAIL {name}: columns {list(g.columns)} vs {list(e.columns)}")
            fails += 1
            continue
        if len(g) != len(e):
            print(f"FAIL {name}: rows {len(g)} vs {len(e)}")
            fails += 1
            continue
        bad = []
        for c in g.columns:
            gv, ev = g[c].to_numpy(), e[c].to_numpy()
            if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
                gv = gv.astype(np.float64); ev = ev.astype(np.float64)
                eq = (gv == ev) | (np.isnan(gv) & np.isnan(ev))
                if not eq.all():
                    dev = np.nanmax(np.abs(gv - ev))
                    bad.append(f"{c}: {np.count_nonzero(~eq)} diffs, maxdev={dev:.3e}")
            else:
                eq = pd.Series(gv).eq(pd.Series(ev)) | (pd.Series(gv).isna() & pd.Series(ev).isna())
                if not eq.all():
                    i = int(np.flatnonzero(~eq.to_numpy())[0])
                    bad.append(f"{c}: {int((~eq).sum())} diffs, first@{i}: {gv[i]!r} vs {ev[i]!r}")
        if bad:
            print(f"FAIL {name}: " + "; ".join(bad))
            fails += 1
        else:
            print(f"PASS {name} ({len(g)} rows)")
    if compared == 0:
        print("FAIL: no query compared")
        fails += 1
    print(f"{'ALL PASS' if fails == 0 else f'{fails} FAILURES'} ({compared} queries compared)")
    sys.exit(1 if fails else 0)

if __name__ == "__main__":
    main()
