#!/usr/bin/env python3
"""Diffs two benchmark result records metric by metric, grouped by layer.

Usage: python3 perfbench/layer_diff.py <base record> <new record>

The records are the files perfbench/run.py writes under
.bench_work/results/ (trace 1 records carry the per-layer metrics). Each
line shows the base value, the new value and new/base; the layer is the
metric name's first dotted component. Metrics present on one side only are
listed with the other side empty.
"""
import json
import sys


def fmt(v):
    if v is None:
        return "-"
    if isinstance(v, float) and not v.is_integer():
        return f"{v:.4g}"
    return f"{int(v):,}" if abs(v) >= 1000 else str(v)


def diff(base, new):
    """Yields (layer, metric, base value, new value, ratio or None)."""
    names = list(base["metrics"]) + [n for n in new["metrics"] if n not in base["metrics"]]
    for n in sorted(names, key=lambda n: (n.split(".")[0], n)):
        a, b = base["metrics"].get(n), new["metrics"].get(n)
        ratio = b / a if isinstance(a, (int, float)) and isinstance(b, (int, float)) and a else None
        yield n.split(".")[0], n, a, b, ratio


def main(base_path, new_path):
    with open(base_path) as f:
        base = json.load(f)
    with open(new_path) as f:
        new = json.load(f)
    for side, r in (("base", base), ("new", new)):
        print(f"{side}: {r['workload']} seed {r['seed']} trace {r['trace']} "
              f"({r['env']['local']}, source {r['env']['source_digest']})")
    layer = None
    for lay, n, a, b, ratio in diff(base, new):
        if lay != layer:
            print(f"\n[{lay}]")
            layer = lay
        r = "-" if ratio is None else f"{ratio:.3f}x"
        print(f"  {n:52s} base {fmt(a):>14s}  new {fmt(b):>14s}  new/base {r}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
