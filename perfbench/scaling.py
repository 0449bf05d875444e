"""Ungated context record: one workload at local[1] and at local[N].

    python3 perfbench/scaling.py --workload crawl_wide --seed 1

Runs ``perfbench/run.py`` once per parallelism (same seed, same inputs) and
prints one JSON object: each side's crawl seconds and controls, and the raw
N→4N-style efficiency ``crawl_s(1) / (N × crawl_s(N))`` — 1.0 is linear
scaling, the paper's bar is 0.8. ``local[1]`` doubles as the single-threaded
baseline. Not part of the gated runs: one local[1] crawl is too long to
repeat on every run.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def leg(workload: str, seed: int, cores: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", "0",
         "--cores", str(cores)],
        cwd=os.path.dirname(HERE), capture_output=True, text=True, check=True,
    )
    context, result = (json.loads(x) for x in p.stdout.strip().splitlines()[-2:])
    if not result["correct"]:
        raise RuntimeError(f"local[{cores}] crawl failed its reference check")
    return {
        "cores": cores,
        "crawl_s": result["metrics"]["crawl_s"]["value"],
        "round_s_p50": result["metrics"]["round_s_p50"]["value"],
        "controls": context["controls"],
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", default="crawl_wide")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 1)
    args = ap.parse_args(argv)
    one = leg(args.workload, args.seed, 1)
    many = leg(args.workload, args.seed, args.cores)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "legs": [one, many],
        "efficiency": one["crawl_s"] / (args.cores * many["crawl_s"]),
    }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
