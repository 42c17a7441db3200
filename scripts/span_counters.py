#!/usr/bin/env python3
"""Compare the Spark work counters of two traced graftbench runs, span by span.

    python3 scripts/span_counters.py PARENT.json CHANGE.json

Each file holds the output of `python3 graftbench/run.py ... --trace 1`
(the result line is the last line starting with '{"correct"'), or a trace
dump `graftbench/target/out/trace-<workload>-s<seed>.json`. From a result
line the counters are the per-layer `<span>.jobs` and `<span>.tasks`
metrics; from a trace dump they are the jobs and tasks summed over every
record of a span name, which also covers spans the result line does not
list. Compare two runs of the same workload, seed and `--cycles`.

Prints one row per span: jobs and tasks of both runs side by side. Exits 1
if any counter of CHANGE is higher than PARENT's (or a span of PARENT is
missing from CHANGE), 0 otherwise, 2 on unreadable input.
"""
import json
import sys

COUNTERS = ("jobs", "tasks")


def read(path):
    """{span: {counter: value}} from a result line file or a trace dump."""
    with open(path) as f:
        text = f.read()
    try:
        doc = json.loads(text)
    except ValueError:
        lines = [l for l in text.splitlines() if l.startswith('{"correct"')]
        if not lines:
            sys.exit(f"{path}: no graftbench result line")
        doc = json.loads(lines[-1])
    spans = {}
    if isinstance(doc, list):  # trace dump: one record per span call
        for rec in doc:
            row = spans.setdefault(rec["name"], dict.fromkeys(COUNTERS, 0.0))
            for c in COUNTERS:
                row[c] += rec.get(c, 0)
    elif "metrics" in doc:
        for name, m in doc["metrics"].items():
            span, _, counter = name.rpartition(".")
            if counter in COUNTERS:
                spans.setdefault(span, {})[counter] = m["value"]
    else:
        sys.exit(f"{path}: neither a result line nor a trace dump")
    return spans


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2].strip(), file=sys.stderr)
        return 2
    parent, change = read(argv[1]), read(argv[2])
    grew = []
    print(f"{'span':44} {'jobs':>17} {'tasks':>17}")
    for span in sorted(set(parent) | set(change)):
        p, c = parent.get(span), change.get(span)
        cells = []
        for k in COUNTERS:
            pv = p.get(k) if p else None
            cv = c.get(k) if c else None
            cells.append(f"{fmt(pv):>8}{fmt(cv):>9}")
            if pv is not None and (cv is None or cv > pv):
                grew.append(f"{span}.{k}")
        print(f"{span:44} {cells[0]} {cells[1]}")
    if grew:
        print("grew: " + ", ".join(grew))
        return 1
    print("no span's jobs or tasks grew")
    return 0


def fmt(v):
    if v is None:
        return "-"
    return str(int(v)) if float(v).is_integer() else f"{v:.1f}"


if __name__ == "__main__":
    sys.exit(main(sys.argv))
