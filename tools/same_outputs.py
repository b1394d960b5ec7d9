#!/usr/bin/env python3
"""Check that a change left graft's outputs, oracles and plans as they were.

Usage:
  python3 tools/same_outputs.py verify <parent_verify_dir> <change_verify_dir>
  python3 tools/same_outputs.py plans <parent_plan_dir> <change_plan_dir>

`verify` compares two `graft.Verify` output dirs: every query's parquet must
have the same schema and the same rows in the same order, and the two
`oracle_sql.json` files must have the same keys with every value equal once
whitespace runs are collapsed.

`plans` compares two `graft.tools.PlanDump` dirs (files `<query>_<tag>.txt`,
any tag per side): the formatted plans must be equal once expression ids,
exchange plan ids, RDD ids, source line numbers, object hashes and temp
paths are masked.
A few queries are known to dump differently run to run; their differences
are listed apart and do not fail the check.

Every difference is named on stdout; the exit status is 1 if there is any
(known-unstable plan queries aside), else 0.
"""
import glob
import json
import os
import re
import sys

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from oracle_check import frame_sig  # noqa: E402

# q_g_test and q_rec_metrics order their distinct-aggregate Expand columns by
# JVM run order; q_rolling_corr embeds data-derived partition offsets
KNOWN_UNSTABLE = {"q_g_test", "q_rec_metrics", "q_rolling_corr"}

PLAN_MASKS = [
    (re.compile(r"#\d+L?"), "#N"),
    (re.compile(r"RDD\[\d+\]"), "RDD[N]"),
    (re.compile(r"\.scala:\d+"), ".scala:N"),
    (re.compile(r"@[0-9a-f]{6,}"), "@H"),
    (re.compile(r"\$Lambda\$\d+/0x[0-9a-f]+"), "$Lambda$H"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/P"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
]


def query_dirs(root):
    return {os.path.basename(p): p for p in glob.glob(os.path.join(root, "*"))
            if os.path.isdir(p)}


def first_row_diff(a, b):
    """The first differing row index of two tables, rendered like the oracle
    gate renders cells."""
    _, _, ra = frame_sig(a.to_pandas())
    _, _, rb = frame_sig(b.to_pandas())
    for i, (x, y) in enumerate(zip(ra, rb)):
        if x != y:
            return f"row {i}: {x} != {y}"
    return f"{len(ra)} rows vs {len(rb)} rows"


def compare_verify(parent, change):
    diffs = []
    pq_a, pq_b = query_dirs(parent), query_dirs(change)
    for name in sorted(set(pq_a) ^ set(pq_b)):
        diffs.append(f"{name}: output only in {'parent' if name in pq_a else 'change'}")
    for name in sorted(set(pq_a) & set(pq_b)):
        a, b = pq.read_table(pq_a[name]), pq.read_table(pq_b[name])
        if not a.schema.equals(b.schema):
            diffs.append(f"{name}: schema {a.schema.to_string()!r} != {b.schema.to_string()!r}")
        elif not a.equals(b):
            diffs.append(f"{name}: {first_row_diff(a, b)}")
    oa = json.load(open(os.path.join(parent, "oracle_sql.json")))
    ob = json.load(open(os.path.join(change, "oracle_sql.json")))
    for name in sorted(set(oa) ^ set(ob)):
        diffs.append(f"{name}: oracle only in {'parent' if name in oa else 'change'}")
    collapse = lambda s: " ".join(s.split())
    for name in sorted(set(oa) & set(ob)):
        if collapse(oa[name]) != collapse(ob[name]):
            diffs.append(f"{name}: oracle SQL differs")
    print(f"outputs={len(set(pq_a) & set(pq_b))} oracles={len(set(oa) & set(ob))}")
    return diffs, []


def plan_files(root):
    out = {}
    for p in glob.glob(os.path.join(root, "*.txt")):
        name = os.path.basename(p)[:-len(".txt")].rsplit("_", 1)[0]
        out[name] = p
    return out


def masked(path):
    text = open(path, encoding="utf-8").read()
    for rx, rep in PLAN_MASKS:
        text = rx.sub(rep, text)
    return text


def compare_plans(parent, change):
    diffs, unstable = [], []
    pa, pb = plan_files(parent), plan_files(change)
    for name in sorted(set(pa) ^ set(pb)):
        diffs.append(f"{name}: plan only in {'parent' if name in pa else 'change'}")
    for name in sorted(set(pa) & set(pb)):
        if masked(pa[name]) != masked(pb[name]):
            (unstable if name in KNOWN_UNSTABLE else diffs).append(f"{name}: plan differs")
    print(f"plans={len(set(pa) & set(pb))}")
    return diffs, unstable


def main(argv):
    if len(argv) != 4 or argv[1] not in ("verify", "plans"):
        sys.exit(__doc__)
    diffs, unstable = (compare_verify if argv[1] == "verify" else compare_plans)(argv[2], argv[3])
    for d in diffs:
        print(f"DIFF {d}")
    for d in unstable:
        print(f"KNOWN-UNSTABLE {d}")
    print(f"differences={len(diffs)} known_unstable={len(unstable)}")
    return 1 if diffs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
