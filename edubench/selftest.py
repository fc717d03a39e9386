"""Toy-scale self-test of the benchmark harness.

    python3 edubench/selftest.py

Runs every workload on tiny inputs (about 200 students, sf 0.001, one
batch and one CI cycle per day), untraced and traced, and asserts that
each run is correct and prints every metric named in BENCHMARK.json,
with its unit. Takes a few minutes: each run starts its own Spark.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(workload: str, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "1", "--trace", str(trace), "--toy"]
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    failures = []
    for w in (x["name"] for x in spec["workloads"]):
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            result = run(w, trace)
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in result["metrics"].items()}
            problems = []
            if got != want:
                problems.append(f"metrics differ: missing {sorted(set(want) - set(got))}, "
                                f"extra {sorted(set(got) - set(want))}, units "
                                f"{sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
            if not result["correct"] or result["failed"] or result["attempted"] < 1:
                problems.append(f"{result['failed']}/{result['attempted']} failed")
            if not all(isinstance(v["value"], (int, float)) for v in result["metrics"].values()):
                problems.append("non-numeric value")
            status = "ok" if not problems else "FAIL " + "; ".join(problems)
            print(f"{w} trace={trace}: {status}", flush=True)
            failures += problems
    print("ALL OK" if not failures else f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
