#!/usr/bin/env python3
"""Build graft and its benchmark from source, then run one workload.

    python3 graftbench/run.py --workload stream-maintain --seed 1 --seconds 25 --trace 0

Prints an info line (environment, inputs, every named metric) and, as the
last line, the result: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The first run in a checkout compiles graft and the benchmark with sbt;
later runs reuse the build while the sources are unchanged.
"""
import argparse
import hashlib
import json
import os
import pathlib
import subprocess
import sys

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
TARGET = HERE / "target"
TMP = TARGET / "tmp"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (the same list as
# the root build's forked JVMs).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    fixed = [ROOT / "build.sbt", ROOT / ".jvmopts", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / ".jvmopts", HERE / "project" / "build.properties"]
    trees = [ROOT / "src" / "main", HERE / "src"]
    files = [f for f in fixed if f.is_file()]
    for t in trees:
        files += sorted(p for p in t.rglob("*") if p.is_file())
    files += sorted(p for p in (ROOT / "project").glob("*.sbt"))
    return files


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build(digest):
    """Compile with sbt once per source digest; return the runtime classpath."""
    stamp = TARGET / "build.json"
    if stamp.is_file():
        rec = json.loads(stamp.read_text())
        if rec.get("digest") == digest:
            return rec["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx3g")
    # every JVM the sbt launcher starts keeps its scratch files in the checkout
    env["JAVA_TOOL_OPTIONS"] = (env.get("JAVA_TOOL_OPTIONS", "")
                                + f" -Djava.io.tmpdir={TMP} -XX:-UsePerfData").strip()
    log = TARGET / "build.log"
    with open(log, "w") as out:
        try:
            proc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                 "compile", "export Runtime/fullClasspath"],
                cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
                timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out after {BUILD_TIMEOUT_S} s; see {log}")
    out_lines = proc.stdout.splitlines()
    with open(log, "a") as f:
        f.write(proc.stdout)
    if proc.returncode != 0:
        fail(f"build failed (sbt exit {proc.returncode}); see {log}")
    cps = [l for l in out_lines if not l.startswith("[") and ".jar" in l]
    if not cps:
        fail(f"build printed no classpath; see {log}")
    stamp.write_text(json.dumps({"digest": digest, "classpath": cps[-1]}))
    return cps[-1]


def git_sha():
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["stream-maintain", "text-curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cycles", type=int, default=None,
                    help="run exactly this many loop cycles instead of --seconds "
                         "(used by the work-counter determinism check)")
    args = ap.parse_args()

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no graft sources under {ROOT}: run from the root of a graft checkout")

    TMP.mkdir(parents=True, exist_ok=True)
    digest = source_digest()
    classpath = build(digest)
    cores = len(os.sched_getaffinity(0))
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={TMP}", "-XX:-UsePerfData",
           "--add-modules", "jdk.incubator.vector"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--cores", str(cores),
            "--work", str(TARGET / "work"), "--out", str(TARGET / "out")]
    if args.cycles is not None:
        cmd += ["--cycles", str(args.cycles)]
    env = dict(os.environ, GRAFTBENCH_SOURCE_SHA=digest, GRAFTBENCH_GIT_SHA=git_sha())
    env.pop("SPARK_LOCAL_DIRS", None)  # would override spark.local.dir, outside the checkout
    try:
        proc = subprocess.run(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE, text=True,
                              timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{args.workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    info = [l for l in lines if l.startswith('{"info"')]
    result = [l for l in lines if l.startswith('{"correct"')]
    if proc.returncode != 0 or not result:
        fail(f"{args.workload} failed (exit {proc.returncode}) without a result")
    if info:
        print(info[-1])
    print(result[-1])


if __name__ == "__main__":
    main()
