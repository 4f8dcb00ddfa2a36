"""Traced-run self-check: two traced runs with one seed report equal counts.

Usage, from the root of a checkout::

    python3 perfbench/selfcheck.py --workload elt_roundtrip --seed 1

Runs ``perfbench/run.py --trace 1`` twice and compares every per-layer
metric whose unit is ``count``. Exits 1 and names the counts that differ.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys


def counts(workload: str, seed: int, seconds: int) -> dict[str, float]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed",
         str(seed), "--seconds", str(seconds), "--trace", "1"],
        capture_output=True, text=True, check=True,
    ).stdout.strip().splitlines()[-1]
    metrics = json.loads(out)["metrics"]
    return {k: v["value"] for k, v in metrics.items() if v["unit"] == "count"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    args = ap.parse_args()
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        seconds = json.load(f)["run_seconds"]
    first = counts(args.workload, args.seed, seconds)
    second = counts(args.workload, args.seed, seconds)
    differ = sorted(k for k in first if first[k] != second.get(k))
    print(json.dumps({"first": first, "second": second, "differ": differ},
                     sort_keys=True))
    return 1 if differ else 0


if __name__ == "__main__":
    sys.exit(main())
