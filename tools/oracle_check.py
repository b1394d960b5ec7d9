#!/usr/bin/env python3
"""Local replica of the driver's DuckDB oracle gate.

Usage: python3 tools/oracle_check.py <sf_dir> <verify_out_dir>

For each <name>.parquet under verify_out_dir, runs the matching SQL from
oracle_sql.json in DuckDB over the sf_dir tables and compares rows/schema/
values (columns sorted by name, values rounded-stringified) — the same
comparison shape the driver uses.

IMPORTANT: both sides are materialized through pandas (`.df()`), matching the
driver's dtype-sensitive path.  DuckDB HUGEINT (any un-cast integer SUM)
becomes pandas float64, so `457.0` vs Spark's int64 `457` FAILS here just
like it fails in the driver — `fetchall()` (Python ints) would hide that
whole bug class.  An explicit per-column dtype-kind check reports the
mismatch cause directly.

DuckDB runs under a fixed memory cap, so a query whose oracle SQL outgrows
it (q_kcore's five chained CTE peel levels) fails alone: it is reported as
ERROR, counted apart from pass and fail, and makes the exit status 1. A
query with no entry in oracle_sql.json is counted as no_oracle and also
makes the exit status 1.
"""
import json, sys, glob, os
import duckdb
import numpy as np

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# DuckDB's own default is 80% of RAM, which starves whatever shares the machine
MEMORY_LIMIT = "3GB"


def norm_cell(v):
    # v is a pandas/numpy scalar: dtype decides the rendering, exactly the
    # property the driver's hash is sensitive to.
    if v is None or (isinstance(v, float) and np.isnan(v)):
        return "NULL"
    if isinstance(v, (np.floating, float)):
        return f"{float(v):.6f}"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def frame_sig(df):
    cols = sorted(df.columns)
    df = df[cols]
    kinds = [df[c].dtype.kind for c in cols]
    rows = [tuple(norm_cell(v) for v in rec) for rec in df.itertuples(index=False, name=None)]
    return cols, kinds, rows


def main(sf_dir, out_dir):
    con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT})
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    n_pass = n_fail = n_noora = n_err = 0
    for d in sorted(glob.glob(os.path.join(out_dir, "*"))):
        name = os.path.basename(d)
        if not os.path.isdir(d):
            continue
        try:
            s_df = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
            o_df = con.execute(oracle[name]).df() if name in oracle else None
        except duckdb.Error as e:
            n_err += 1
            print(f"  {name}: ERROR {e}")
            continue
        if o_df is None:
            n_noora += 1
            print(f"  {name}: no oracle ({len(s_df)} rows)")
            continue
        sc, sk, sr = frame_sig(s_df)
        oc, ok_kinds, orr = frame_sig(o_df)
        ok = sc == oc and sr == orr
        if ok and sk != ok_kinds:
            # Same rendered values but different dtype kinds (e.g. int64 vs
            # float64 rendering identically would be a latent driver-hash
            # risk) — flag loudly rather than passing blind.
            ok = False
            print(f"  {name}: DTYPE-FAIL  spark kinds {list(zip(sc, sk))} vs oracle {list(zip(oc, ok_kinds))}")
        if ok:
            n_pass += 1
            print(f"  {name}: OK ({len(s_df)} rows)")
        else:
            n_fail += 1
            if sc != oc:
                print(f"  {name}: FAIL  cols {sc} vs {oc}")
            elif len(sr) != len(orr):
                print(f"  {name}: FAIL  rows {len(sr)} vs {len(orr)}")
            else:
                print(f"  {name}: FAIL  ({len(sr)} rows)")
                if sk != ok_kinds:
                    bad = [(c, a, b) for c, a, b in zip(sc, sk, ok_kinds) if a != b]
                    print(f"    dtype-kind mismatch: {bad} (spark vs oracle)")
                for i, (a, b) in enumerate(zip(sr, orr)):
                    if a != b:
                        print(f"    first diff row {i}: spark={a} oracle={b}")
                        break
    print(f"pass={n_pass} fail={n_fail} error={n_err} no_oracle={n_noora}")
    # a query with no oracle is unchecked, so it fails the run as well
    sys.exit(1 if n_fail + n_err + n_noora else 0)


if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])
