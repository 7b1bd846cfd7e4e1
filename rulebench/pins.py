"""Counter pins: which per-layer counts repeat exactly between two
traced runs of one seed.

    python3 rulebench/pins.py --seed 1 --seconds 10 [--workload NAME ...]

Runs ``run.py --trace 1`` twice per workload and prints a markdown table
of every count-valued metric (jobs, stages, tasks, bytes, IR size,
codegen subtrees, rules) that is non-zero in either run, and of
``build.jobs`` (expected 0), marking the ones that differ. A count that repeats exactly can back a later claim;
one that does not cannot.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
COUNT_UNITS = {"count", "bytes", "chars"}
#: counts listed even when 0, because 0 is the claim
EXPECTED_ZERO = {"build.jobs"}


def traced_run(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])["metrics"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--workload", nargs="*", default=["dq_batch", "construct_mix"])
    args = ap.parse_args()
    print("| workload | metric | run 1 | run 2 | repeats |")
    print("| --- | --- | --- | --- | --- |")
    for w in args.workload:
        a, b = traced_run(w, args.seed, args.seconds), traced_run(w, args.seed, args.seconds)
        for name, m in a.items():
            if m["unit"] not in COUNT_UNITS or not (m["value"] or b[name]["value"] or name in EXPECTED_ZERO):
                continue
            va, vb = m["value"], b[name]["value"]
            print(f"| {w} | {name} | {va:g} | {vb:g} | {'yes' if va == vb else '**no**'} |")
    return 0


if __name__ == "__main__":
    sys.exit(main())
