#!/usr/bin/env python3
"""Print per-layer deltas between two traced benchmark runs.

    python3 perfbench/trace_diff.py BASE.json NEW.json

Each file is either a trace written by a `--trace 1` run (under
perfbench/.work/traces/) or a saved result line of run.py. Metrics are
grouped by layer (the name up to the first dot). Every ratio is printed
with its base: `new/base = r (base b)`. Metrics that are zero on both
sides are skipped.
"""
import json
import sys


def load(path):
    with open(path) as f:
        text = f.read().strip()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:  # run.py output: the result is the last line
        doc = json.loads(text.splitlines()[-1])
    metrics = doc["metrics"]
    return {k: (v["value"] if isinstance(v, dict) else v) for k, v in metrics.items()}


def fmt(x):
    if x == 0:
        return "0"
    if abs(x) >= 1e5:
        return f"{x:.4g}"
    return f"{x:.4f}".rstrip("0").rstrip(".")


def diff(base, new):
    lines = []
    layers = {}
    for name in sorted(set(base) | set(new)):
        layers.setdefault(name.split(".")[0], []).append(name)
    for layer, names in layers.items():
        rows = []
        for n in names:
            b, c = base.get(n), new.get(n)
            if b is None or c is None:
                rows.append(f"  {n:<34} {'missing in base' if b is None else 'missing in new'}")
                continue
            if b == 0 and c == 0:
                continue
            ratio = f"new/base = {c / b:.3f} (base {fmt(b)})" if b else f"base 0, new {fmt(c)}"
            rows.append(f"  {n:<34} {fmt(b):>12} -> {fmt(c):>12}  delta {fmt(c - b):>12}  {ratio}")
        if rows:
            lines.append(layer)
            lines.extend(rows)
    return "\n".join(lines)


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    print(diff(load(argv[0]), load(argv[1])))


if __name__ == "__main__":
    main(sys.argv[1:])
