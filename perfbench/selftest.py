#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload (also feature_sparse730,
which BENCHMARK.json leaves out) at toy size, untraced and traced, and
checks that each result line is well formed, that every output check
passed, that every end-to-end metric (untraced) and every per-layer metric
(traced) named in BENCHMARK.json appears with its unit, and that the
feature workloads record AutoStrategy's route in the artifact.

    python3 perfbench/selftest.py
"""

import json
import subprocess
import sys
from pathlib import Path

from run import BUILD, WORKLOADS

ROOT = Path(__file__).resolve().parent.parent


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    expected = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
                1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for w in WORKLOADS:
        for trace in (0, 1):
            cmd = spec["command"] + ["--workload", w, "--seed", "7", "--seconds", "1",
                                     "--trace", str(trace), "--toy"]
            done = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            where = f"{w} trace={trace}"
            if done.returncode != 0:
                sys.stderr.write(done.stderr[-4000:])
                problems.append(f"{where}: exit code {done.returncode}")
                continue
            result = json.loads(done.stdout.splitlines()[-1])
            if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{where}: result keys {sorted(result)}")
            if not result["correct"] or result["failed"] != 0 or result["attempted"] < 1:
                problems.append(f"{where}: correct={result['correct']} failed={result['failed']} "
                                f"attempted={result['attempted']}")
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            if got != expected[trace]:
                missing = sorted(set(expected[trace]) - set(got))
                extra = sorted(set(got) - set(expected[trace]))
                wrong = sorted(k for k in got if k in expected[trace] and got[k] != expected[trace][k])
                problems.append(f"{where}: missing {missing}, unexpected {extra}, wrong unit {wrong}")
            context = json.loads((BUILD / "work" / f"{w}-seed7-trace{trace}.json").read_text())["context"]
            if w.startswith("feature_") and not context["features_routes"]:
                problems.append(f"{where}: no AutoStrategy route recorded")
            print(f"{where}: {len(got)} metrics", file=sys.stderr)
    for p in problems:
        print("FAIL", p)
    print("selftest:", "FAIL" if problems else "PASS")
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
