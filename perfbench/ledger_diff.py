#!/usr/bin/env python3
"""Diffs two traced benchmark runs and names the layer that moved most.

    python3 perfbench/ledger_diff.py BEFORE.json AFTER.json

Inputs are trace files written by `run.py --trace 1` under
.bench_build/traces/. Two rankings are printed:

- self time per pass, by span name: a span's duration minus the part of
  it its child spans cover, summed over the timed passes;
- per-layer counters (the `--trace 1` metrics), by relative change.

A layer is the metric or span name up to its first dot; the `op` span's
self time (harness time between an operation's layer calls) counts as
`driver` and the `action` span (the Spark action) as `exec`.
"""
import json
import sys
from collections import defaultdict

SPAN_LAYER = {"op": "driver", "action": "exec"}
# counters that differ by less than this absolute amount are not moves
FLOOR = {"s": 0.01, "count": 1.0, "bytes": 1024.0, "ratio": 0.01, "MB": 0.1}


def timed(op):
    return op.startswith("p") and op[1:2].isdigit()


def self_times(trace):
    spans = [s for s in trace["spans"] if timed(s["op"])]
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    passes = len({o["pass"] for o in trace["ops"] if o["pass"] >= 0}) or 1
    out = defaultdict(float)
    for s in spans:
        covered = sum(c["end_ns"] - c["start_ns"] for c in children[s["id"]])
        out[s["name"]] += (s["end_ns"] - s["start_ns"] - covered) / 1e9 / passes
    return out


def layer_of(name):
    return SPAN_LAYER.get(name, name.split(".")[0])


def main(a_path, b_path):
    a, b = (json.load(open(p)) for p in (a_path, b_path))
    if a["workload"] != b["workload"]:
        print(f"warning: workloads differ ({a['workload']} vs {b['workload']})")
    sa, sb = self_times(a), self_times(b)
    print(f"self time per pass (s), {a['workload']}:")
    by_layer = defaultdict(float)
    for n in sorted(set(sa) | set(sb), key=lambda n: -abs(sb.get(n, 0) - sa.get(n, 0))):
        d = sb.get(n, 0.0) - sa.get(n, 0.0)
        by_layer[layer_of(n)] += d
        print(f"  {n:28s} {sa.get(n, 0.0):10.4f} -> {sb.get(n, 0.0):10.4f}  ({d:+.4f})")
    print("\ncounters (per pass):")
    moves = []
    ma, mb = a["metrics"], b["metrics"]
    for n in sorted(n for n in set(ma) & set(mb) if not n.startswith("trace.")):
        x, y, unit = ma[n]["value"] or 0.0, mb[n]["value"] or 0.0, ma[n]["unit"]
        if abs(y - x) < FLOOR.get(unit, 0.0):
            continue
        rel = (y - x) / max(abs(x), abs(y))
        moves.append((abs(rel), n, x, y, unit, rel))
    for _, n, x, y, unit, rel in sorted(moves, reverse=True):
        print(f"  {n:36s} {x:14.6g} -> {y:14.6g} {unit:6s} ({rel:+.1%})")
    if by_layer:
        top = max(by_layer, key=lambda k: abs(by_layer[k]))
        print(f"\nlayer whose self time moved most: {top} ({by_layer[top]:+.4f} s per pass)")
    if moves:
        _, n, x, y, unit, rel = max(moves)
        print(f"layer whose counters moved most: {layer_of(n)} ({n} {rel:+.1%})")
    return 0


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    sys.exit(main(sys.argv[1], sys.argv[2]))
