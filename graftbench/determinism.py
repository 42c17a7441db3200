#!/usr/bin/env python3
"""Work-counter determinism check: two traced runs of a workload at the same
seed and core count, each running the same fixed number of loop cycles, must
report identical jobs, tasks and rows-examined counters for every span.

    python3 graftbench/determinism.py --workload text-curate --seed 1 --cycles 1

Exits 1 and lists every counter that differs.
"""
import argparse
import json
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
COUNTERS = (".jobs", ".tasks", "rows_examined_per_result")


def traced(workload, seed, cycles):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", "1", "--cycles", str(cycles)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if proc.returncode != 0:
        raise SystemExit(f"{workload} traced run failed (exit {proc.returncode})")
    result = json.loads(proc.stdout.splitlines()[-1])
    if not result["correct"]:
        raise SystemExit(f"{workload} traced run reported failed checks")
    return {k: v["value"] for k, v in result["metrics"].items() if k.endswith(COUNTERS)}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cycles", type=int, default=1)
    args = ap.parse_args()
    a = traced(args.workload, args.seed, args.cycles)
    b = traced(args.workload, args.seed, args.cycles)
    diff = sorted(k for k in a if a[k] != b.get(k))
    for k in diff:
        print(f"DIFFERS {k}: {a[k]} vs {b.get(k)}")
    nonzero = sum(1 for v in a.values() if v != 0)
    print(f"{args.workload} seed {args.seed}: {len(a)} counters ({nonzero} non-zero), "
          f"{len(diff)} differ")
    sys.exit(1 if diff else 0)


if __name__ == "__main__":
    main()
