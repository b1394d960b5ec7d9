"""DuckDB oracle check of the benchmark's oracle-scale outputs.

The comparison itself (columns sorted by name, cells rendered by dtype,
dtype kinds compared) is `frame_sig` from tools/oracle_check.py, imported
rather than copied. Two differences from that tool: fixture tables are
directories of several parquet files, so each becomes a view over a glob;
and a float cell whose 6-dp rendering is one unit (1e-6) away from the
oracle's passes, and is counted in the verdict. Spark and DuckDB resolve a
value at a 6-dp rounding boundary differently (Spark's ROUND rounds the
double's exact binary value half-up, DuckDB rounds the scaled value, so an
exact tie such as 258924420 / 72e6 = 3.5961725 comes out .172 in one and
.173 in the other), and a fresh seed per run meets such a tie now and then.
Any larger difference fails.
"""
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DUCKDB_TMP = os.path.join(ROOT, ".bench_work", "duckdb_tmp")  # if a query ever spills
sys.path.insert(0, os.path.join(ROOT, "tools"))

import duckdb  # noqa: E402
from oracle_check import TABLES, frame_sig  # noqa: E402


def check(fixture_dir, out_dir):
    """Returns {call: "ok" | "no_oracle" | "<failure>"} for every call output
    under out_dir."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    con.execute(f"SET temp_directory = '{DUCKDB_TMP}'")
    for t in TABLES:
        p = os.path.join(fixture_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    verdicts = {}
    for name in sorted(os.listdir(out_dir)):
        d = os.path.join(out_dir, name)
        if not os.path.isdir(d):
            continue
        if name not in oracle:
            verdicts[name] = "no_oracle"
            continue
        s_df = con.execute(f"SELECT * FROM read_parquet('{d}/*.parquet')").df()
        o_df = con.execute(oracle[name]).df()
        s_cols, s_kinds, s_rows = frame_sig(s_df)
        o_cols, o_kinds, o_rows = frame_sig(o_df)
        if s_cols != o_cols:
            verdicts[name] = f"columns {s_cols} vs oracle {o_cols}"
        elif len(s_rows) != len(o_rows):
            verdicts[name] = f"rows {len(s_rows)} vs oracle {len(o_rows)}"
        elif s_kinds != o_kinds:
            verdicts[name] = f"dtype kinds {s_kinds} vs oracle {o_kinds}"
        else:
            verdicts[name] = compare_rows(s_df[s_cols], o_df[o_cols], s_rows, o_rows)
    for name in oracle:
        verdicts.setdefault(name, "no output")
    return verdicts


def passed(verdict):
    return verdict == "ok" or verdict.startswith("ok:")


def compare_rows(s_df, o_df, s_rows, o_rows):
    """'ok', 'ok: <note>' when the only differences are float cells one
    6-dp unit apart, else the first differing row."""
    boundary = 0
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        if a == b:
            continue
        for j, (x, y) in enumerate(zip(a, b)):
            if x == y:
                continue
            sx, ox = s_df.iat[i, j], o_df.iat[i, j]
            if isinstance(sx, float) and isinstance(ox, float) and abs(float(x) - float(y)) < 1.5e-6:
                boundary += 1
            else:
                return f"row {i}: {a} vs oracle {b}"
    return f"ok: {boundary} float cells one 6-dp unit apart" if boundary else "ok"
