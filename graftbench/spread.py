#!/usr/bin/env python3
"""Spread report: run one workload once per seed and print, for every
end-to-end metric, the median, the quartiles and the spread (quartile
distance over the median) next to the metric's bound in BENCHMARK.json.

    python3 graftbench/spread.py --workload stream-maintain --seeds 1-10

With --traced, each seed also gets a traced run, and the report adds the gap
between the traced and untraced medians: the measured tracing overhead.
A spread is flagged when it is not below a third of its bound (setup_s is
exempt: its bound applies to the median alone).
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def run(workload, seed, seconds, trace):
    proc = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise SystemExit(f"{workload} seed {seed} trace {trace} failed (exit {proc.returncode})")
    info = json.loads(lines[-2])["info"]
    result = json.loads(lines[-1])
    return info, result


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return statistics.median(values), q1, q3, (q3 - q1) / statistics.median(values)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10", help="a range a-b or a comma list")
    ap.add_argument("--traced", action="store_true", help="also make a traced run per seed")
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seconds = bench["run_seconds"]

    runs, traced, failed = [], [], 0
    for seed in seeds_of(args.seeds):
        info, result = run(args.workload, seed, seconds, 0)
        failed += result["failed"] + (0 if result["correct"] else 1)
        runs.append({k: v["value"] for k, v in result["metrics"].items()})
        print(f"seed {seed}: " + " ".join(f"{k}={v:.6g}" for k, v in runs[-1].items()), flush=True)
        if args.traced:
            tinfo, tresult = run(args.workload, seed, seconds, 1)
            traced.append({k: v["value"] for k, v in tinfo["end_to_end"].items()}
                          | {"trace.overhead_ratio": tresult["metrics"]["trace.overhead_ratio"]["value"]})

    report = {"workload": args.workload, "runs": len(runs), "failed_checks": failed, "metrics": {}}
    print(f"\n{args.workload}: {len(runs)} runs, failed checks {failed}")
    print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}  ok")
    for name in runs[0]:
        med, q1, q3, spread = summary([r[name] for r in runs])
        bound = bounds.get(name)
        ok = name == "setup_s" or bound is None or spread < bound / 3
        row = {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound, "ok": ok}
        if traced:
            tmed = statistics.median(t[name] for t in traced)
            row["traced_median"] = tmed
            row["trace_gap"] = tmed / med - 1
        report["metrics"][name] = row
        extra = f"  traced {row['trace_gap']:+.3f}" if traced else ""
        print(f"{name:28} {med:12.6g} {q1:12.6g} {q3:12.6g} {spread:8.4f} {bound!s:>6}  "
              f"{'yes' if ok else 'NO'}{extra}")
    if traced:
        report["trace_overhead_ratio_median"] = statistics.median(
            t["trace.overhead_ratio"] for t in traced)
        print(f"in-run tracing overhead (median): {report['trace_overhead_ratio_median']:.4f}")
    out = HERE / "target" / f"spread-{args.workload}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(report, indent=1))
    sys.exit(0 if all(m["ok"] for m in report["metrics"].values()) and failed == 0 else 1)


if __name__ == "__main__":
    main()
