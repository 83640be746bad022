"""Which Spark counters repeat exactly between two traced runs.

Runs ``run.py --trace 1`` twice for one workload and seed, one after the
other, and compares the Spark counters each run harvested per job group
(per pipeline entry, per streaming query, or the traced SQL calls as one
group). A counter that reads the same in every group of both runs is a
candidate for a noise-free gate; one that differs is printed with both
values.

Run from the root of a checkout:

    python3 perfbench/counters.py --workload pipeline_batch --seed 1

Prints one line per counter and, last, a JSON object mapping each
counter to whether it repeated.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

import run
import spans

HERE, ROOT = run.HERE, run.ROOT


def traced_counters(workload: str, seed: int) -> dict:
    """One traced run of BENCHMARK.json's ``run_seconds``; the counters
    it harvested by job group."""
    subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(run.load_spec()["run_seconds"]),
         "--trace", "1"],
        cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
    path = os.path.join(ROOT, ".perfbench_out", f"trace-{workload}-{seed}.json")
    with open(path) as f:
        return json.load(f)["counters"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    a = traced_counters(args.workload, args.seed)
    b = traced_counters(args.workload, args.seed)
    if sorted(a) != sorted(b):
        print(f"job groups differ: {sorted(a)} vs {sorted(b)}", file=sys.stderr)
        return 1
    repeats = {}
    for k in spans.STAGE_COUNTERS:
        diff = {g: (a[g][k], b[g][k]) for g in a if a[g][k] != b[g][k]}
        repeats[k] = not diff
        print(f"{k:22s} {'repeats' if not diff else 'differs'}"
              + "".join(f"  {g}: {x:g} vs {y:g}" for g, (x, y) in diff.items()))
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "repeats": repeats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
