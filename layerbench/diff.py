"""Compare two layered-benchmark run records, metric by metric and layer
by layer.

    python3 layerbench/diff.py BEFORE.json AFTER.json

Records are the files `run.py` writes under `.layerbench/records/`. The
first table lists every metric both records carry, grouped by layer (the
name's prefix before the first dot), with its change and ratio. For
traced records a second table splits each layer's change by operation
(medians over the traced passes), so a change can be placed in the
operation and layer where it sits.
"""
import json
import statistics
import sys


def op_layers(rec):
    """{op: {layer metric: median over traced passes}}."""
    per_op = {}
    for p in rec["passes"]:
        if not p["traced"]:
            continue
        for op in p["ops"]:
            for k, v in op["layers"].items():
                per_op.setdefault(op["name"], {}).setdefault(k, []).append(v)
    return {op: {k: statistics.median(vs) for k, vs in lay.items()}
            for op, lay in per_op.items()}


def row(name, a, b, unit=""):
    d = b - a
    ratio = f"{b / a:8.3f}x" if a else "        -"
    return f"  {name:<34} {a:>14.6g} {b:>14.6g} {d:>+14.6g} {ratio} {unit}"


def main(before, after):
    a, b = (json.load(open(p)) for p in (before, after))
    if a.get("workload") != b.get("workload"):
        print(f"note: workloads differ ({a.get('workload')} vs {b.get('workload')})")
    print(f"{'metric':<36} {'before':>14} {'after':>14} {'change':>14} {'ratio':>9}")
    layer = None
    for k, m in a["metrics"].items():
        if k not in b["metrics"]:
            continue
        prefix = k.split(".")[0] if "." in k else "end_to_end"
        if prefix != layer:
            print(f"[{prefix}]")
            layer = prefix
        print(row(k, m["value"], b["metrics"][k]["value"], m["unit"]))
    la, lb = op_layers(a), op_layers(b)
    if la and lb:
        print("\nper operation (traced passes):")
        for op in sorted(set(la) & set(lb)):
            print(f"{op}")
            for k in sorted(set(la[op]) | set(lb[op])):
                x, y = la[op].get(k, 0.0), lb[op].get(k, 0.0)
                if x or y:
                    print(row(k, x, y))


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    main(sys.argv[1], sys.argv[2])
