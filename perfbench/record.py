"""Record a baseline: for each workload, one untraced and one traced run
with the same seed, written to one JSON file with the tracing overhead.

    python3 perfbench/record.py OUT.json [--seed N] [--seconds S]

Run from the repository root. The overhead is the traced run's mean pass
wall over the untraced run's median pass wall, minus one; with one pass
per run both are that pass.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

from run import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    out = subprocess.run(cmd, check=True, stdout=subprocess.PIPE, text=True).stdout
    return json.loads(out.strip().splitlines()[-1])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="default: run_seconds of BENCHMARK.json")
    args = ap.parse_args(argv)
    if args.seconds is None:
        with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
            args.seconds = json.load(f)["run_seconds"]
    record = {"cores": len(os.sched_getaffinity(0)), "seed": args.seed,
              "seconds": args.seconds, "workloads": {}}
    for w in sorted(WORKLOADS):
        plain = run_once(w, args.seed, args.seconds, 0)
        traced = run_once(w, args.seed, args.seconds, 1)
        layers = {k: v["value"] for k, v in traced["metrics"].items()}
        wall = plain["metrics"]["wall_s"]["value"]
        record["workloads"][w] = {
            "end_to_end": {k: v["value"] for k, v in plain["metrics"].items()},
            "per_layer": layers,
            "tracing_overhead": layers["trace.wall_s"] / wall - 1.0,
            "self_sum_le_wall": layers["trace.self_sum_s"] <= layers["trace.wall_s"] + 1e-6,
            "correct": plain["correct"] and traced["correct"],
            "attempted": [plain["attempted"], traced["attempted"]],
            "failed": [plain["failed"], traced["failed"]],
        }
        print(w, json.dumps(record["workloads"][w]["end_to_end"]), file=sys.stderr)
    with open(args.out, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
