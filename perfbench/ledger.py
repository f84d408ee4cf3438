#!/usr/bin/env python3
"""Reader for the traced run's per-layer artifact.

    python3 perfbench/ledger.py A.json          # one artifact
    python3 perfbench/ledger.py A.json B.json   # B against A, layer by layer

Prints, per op of the timed window: each layer's self time (its spans minus
their child spans), the Spark jobs and tasks it fired, and the per-layer
metrics. With two artifacts it prints both sides, the difference and the
ratio B/A, so a change can name the layer its saving came from.
"""
import json
import sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    ops = d["per_op"]
    n = max(1, len(ops))
    counts = {}
    for o in ops:
        for kind in ("jobs", "tasks"):
            for layer, v in o[kind].items():
                counts[(layer, kind)] = counts.get((layer, kind), 0) + v / n
    rows = {}
    for layer, ms in d["self_ms_per_op"].items():
        rows[f"self_ms {layer}"] = ms
    for (layer, kind), v in counts.items():
        rows[f"{kind} {layer}"] = v
    for k, m in d.get("layers", {}).items():
        rows[k] = m["value"]
    return d["info"].get("workload", "?"), len(ops), rows


def fmt(v):
    return f"{'-':>12s}" if v is None else f"{v:12.3f}"


def main(paths):
    if len(paths) not in (1, 2):
        sys.exit(__doc__)
    sides = [load(p) for p in paths]
    for p, (w, n, _) in zip(paths, sides):
        print(f"{p}: workload {w}, {n} timed ops")
    keys = sorted(set().union(*(s[2] for s in sides)), key=lambda k: (not k.startswith("self_ms"), k))
    if len(sides) == 1:
        for k in keys:
            print(f"{k:44s}{fmt(sides[0][2][k])}")
        return
    print(f"{'per op':44s}{'A':>12s}{'B':>12s}{'B-A':>12s}{'B/A':>8s}")
    for k in keys:
        a, b = sides[0][2].get(k), sides[1][2].get(k)
        d = None if a is None or b is None else b - a
        r = f"{b / a:8.3f}" if a and b is not None else "       -"
        print(f"{k:44s}{fmt(a)}{fmt(b)}{fmt(d)}{r}")


if __name__ == "__main__":
    main(sys.argv[1:])
