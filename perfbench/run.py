#!/usr/bin/env python3
"""Build the graft engine and the benchmark from this checkout, then run one
workload (or all of them) and print the result.

    python3 perfbench/run.py --workload feature_tiny --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run it from the checkout root. The first run builds with sbt (the
benchmark's own build, `perfbench/build.sbt`, which depends on the root
build); later runs reuse the build while the sources are unchanged.
Everything the build and the runs leave behind goes to `.bench_build/`.

With one workload, the last line of stdout is the result JSON:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With `--workload all`, each workload runs untraced and traced and the
metrics are printed as a table with their units and sample counts.
"""

import argparse
import hashlib
import json
import os
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ["feature_tiny", "feature_sparse730", "dedup_ingest"]
HEAP = "3g"
RUN_TIMEOUT_S = 175


def sources():
    """Every file the build reads, in a stable order."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for tree in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in tree.rglob("*") if p.is_file())
    return files


def build():
    """Compile with sbt unless the sources match the last build."""
    missing = [p for p in (ROOT / "build.sbt", ROOT / "src" / "main" / "scala") if not p.exists()]
    if missing:
        sys.exit(f"perfbench: the program's sources are missing: {', '.join(map(str, missing))}")
    digest = hashlib.sha256()
    for p in sources():
        digest.update(str(p.relative_to(ROOT)).encode())
        digest.update(p.read_bytes())
    stamp = BUILD / "launch" / "stamp"
    if stamp.exists() and stamp.read_text() == digest.hexdigest():
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    print("perfbench: building with sbt", file=sys.stderr)
    # sbt's output goes to stderr: stdout carries only the result
    done = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "compile", "writeLaunch"],
        cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if done.returncode != 0:
        sys.exit(f"perfbench: sbt build failed with code {done.returncode}")
    stamp.write_text(digest.hexdigest())


def run_one(workload, seed, seconds, trace, toy):
    """Run one workload in its own JVM; return the result JSON line."""
    launch = BUILD / "launch"
    classpath = os.pathsep.join(launch.joinpath("classpath").read_text().split())
    java_options = launch.joinpath("java_options").read_text().split()
    tmp = BUILD / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"] + java_options +
           ["-cp", classpath, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", str(BUILD / "work")] +
           (["--toy"] if toy else []))
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        sys.exit(f"perfbench: {workload} did not finish within {RUN_TIMEOUT_S} s")
    lines = out.splitlines()
    sys.stderr.write("".join(line + "\n" for line in lines[:-1]))
    if proc.returncode != 0 or not lines:
        sys.exit(f"perfbench: {workload} failed with code {proc.returncode}")
    return lines[-1]


def artifact(workload, seed, trace):
    return json.loads((BUILD / "work" / f"{workload}-seed{seed}-trace{trace}.json").read_text())


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--toy", action="store_true", help="toy input sizes, for the self-test")
    a = ap.parse_args()
    build()
    if a.workload != "all":
        print(run_one(a.workload, a.seed, a.seconds, a.trace, a.toy))
        return
    for w in WORKLOADS:
        for trace in (0, 1):
            run_one(w, a.seed, a.seconds, trace, a.toy)
            art = artifact(w, a.seed, trace)
            if trace == 0:
                print(f"{w}  fail_ratio {art['fail_ratio']} ({art['failed']}/{art['attempted']} jobs)")
            for name, m in art["metrics"].items():
                print(f"{w:18} {'traced' if trace else 'untraced':8} {name:28} "
                      f"{m['value']:14.4f} {m['unit']:6} n={m['samples']}")


if __name__ == "__main__":
    main()
