"""Seed-determinism check: two traced runs of one workload and seed must
generate byte-identical inputs, give identical result digests, and
report every count-type per-layer metric (calls, jobs, files, bytes,
ratios of counts, candidates) exactly equal.

    python3 perfbench/determinism.py --workload lookup --seed 3

Prints one JSON line listing every mismatch and exits 1 if there is any.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402


def run_seconds() -> int:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)["run_seconds"]


def traced_run(workload: str, seed: int):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(run_seconds()), "--trace", "1"],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, check=True, text=True,
    ).stdout.strip().splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


def compare(a, b) -> list:
    """Mismatches between two (info, result) pairs of one seed."""
    (info_a, res_a), (info_b, res_b) = a, b
    bad = []
    for key in ("input_digest", "result_digest"):
        if info_a[key] != info_b[key]:
            bad.append({"what": key, "first": info_a[key], "second": info_b[key]})
    for name in metrics.COUNT_METRICS:
        va, vb = res_a["metrics"][name]["value"], res_b["metrics"][name]["value"]
        if va != vb:
            bad.append({"what": name, "first": va, "second": vb})
    return bad


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    args = p.parse_args(argv)
    runs = [traced_run(args.workload, args.seed) for _ in range(2)]
    bad = compare(*runs)
    print(json.dumps({"workload": args.workload, "seed": args.seed,
                      "checked": 2 + len(metrics.COUNT_METRICS), "mismatches": bad}))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
