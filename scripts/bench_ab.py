#!/usr/bin/env python3
"""A/B one benchmark workload: a parent revision against the working tree.

    python3 scripts/bench_ab.py --parent <rev> --workload <w> --seeds 1-5

Exports <rev> with `git archive` into target/ab-<7-char sha> (reused on
later calls; kept short because sbt's server socket path below it must fit
a unix socket name, about 100 bytes) and runs `graftbench/run.py` there and in the
working tree, once per seed each, alternating which side runs first (odd
seeds: parent first). Every run uses BENCHMARK.json's run_seconds unless --seconds is
given. Prints, for every end-to-end metric of BENCHMARK.json, the parent's
and the change's median, the change in the metric's worse direction and
the bound beside it, and how many seed pairs the change won.

Exits 1 if any metric's median is worse than at the parent by more than its
bound, or if the change failed more operations than the parent; 0
otherwise; 2 when a run produces no result. Reads graftbench/ and
BENCHMARK.json only; writes nothing under graftbench/ but what run.py
builds.
"""
import argparse
import json
import pathlib
import statistics
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent


def seeds_of(spec):
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def export(rev):
    """Directory holding `git archive <rev>`, made once per commit."""
    sha = subprocess.run(["git", "rev-parse", "--verify", f"{rev}^{{commit}}"], cwd=ROOT,
                         capture_output=True, text=True, check=True).stdout.strip()
    out = ROOT / "target" / f"ab-{sha[:7]}"
    if not (out / "graftbench" / "run.py").is_file():
        out.mkdir(parents=True, exist_ok=True)
        archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT, stdout=subprocess.PIPE)
        subprocess.run(["tar", "-x", "-C", str(out)], stdin=archive.stdout, check=True)
        if archive.wait() != 0:
            sys.exit(f"git archive {sha} failed")
    return sha, out


def run(tree, workload, seed, seconds):
    proc = subprocess.run(
        [sys.executable, "graftbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.startswith('{"correct"')]
    if proc.returncode != 0 or not lines:
        print(f"{tree}: {workload} seed {seed} gave no result (exit {proc.returncode})",
              file=sys.stderr)
        sys.exit(2)
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", required=True, help="git revision to compare against")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="a range a-b or a comma list")
    ap.add_argument("--seconds", type=int, default=None)
    args = ap.parse_args()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    seconds = args.seconds or bench["run_seconds"]
    sha, parent_tree = export(args.parent)

    sides = {"parent": [], "change": []}
    for seed in seeds_of(args.seeds):
        order = [("parent", parent_tree), ("change", ROOT)]
        if seed % 2 == 0:
            order.reverse()
        for side, tree in order:
            result = run(tree, args.workload, seed, seconds)
            sides[side].append(result)
            values = " ".join(f"{k}={v['value']:.6g}" for k, v in result["metrics"].items())
            print(f"seed {seed} {side}: failed {result['failed']}/{result['attempted']} {values}",
                  flush=True)

    worse = []
    print(f"\n{args.workload}: parent {sha[:12]} vs working tree, {len(sides['parent'])} pairs")
    print(f"{'metric':28} {'parent':>12} {'change':>12} {'worse by':>9} {'bound':>6} {'wins':>5}")
    for m in bench["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        p = [r["metrics"][name]["value"] for r in sides["parent"] if name in r["metrics"]]
        c = [r["metrics"][name]["value"] for r in sides["change"] if name in r["metrics"]]
        if not p or not c:
            continue
        pm, cm = statistics.median(p), statistics.median(c)
        by = ((cm - pm) if lower else (pm - cm)) / abs(pm) if pm else 0.0
        wins = sum((b < a) if lower else (b > a) for a, b in zip(p, c))
        flag = "  WORSE" if by > m["bound"] else ""
        print(f"{name:28} {pm:12.6g} {cm:12.6g} {by:+9.4f} {m['bound']:6} {wins:>2}/{len(p)}{flag}")
        if by > m["bound"]:
            worse.append(name)
    failed = {s: sum(r["failed"] + (0 if r["correct"] else 1) for r in rs) for s, rs in sides.items()}
    print(f"failed operations: parent {failed['parent']}, change {failed['change']}")
    sys.exit(1 if worse or failed["change"] > failed["parent"] else 0)


if __name__ == "__main__":
    main()
