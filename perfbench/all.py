"""Run every workload once untraced and once traced, print every metric
with its unit, and the tracing overhead.

    python3 perfbench/all.py [--seed N] [--seconds S]

Each run is its own process (``run.py``), as the benchmark's contract
runs it. The overhead compares the traced run's ``trace.mix_wall_s`` and
``trace.ops_per_s`` with the untraced run's ``mix_wall_s`` and
``ops_per_s``; it is one pair of runs, so read it against the spread
of repeated runs.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from run import WORKLOADS  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=common.ROOT, check=True, stdout=subprocess.PIPE, text=True,
    ).stdout.splitlines()
    return json.loads(out[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        run_seconds = json.load(fh)["run_seconds"]
    # the run length the bounds were measured at
    ap.add_argument("--seconds", type=float, default=run_seconds)
    args = ap.parse_args()
    ok = True
    for wl in WORKLOADS:
        plain = _run(wl, args.seed, args.seconds, 0)
        traced = _run(wl, args.seed, args.seconds, 1)
        ok = ok and plain["correct"] and traced["correct"]
        print(f"== {wl}: correct={plain['correct'] and traced['correct']} "
              f"attempted={plain['attempted']}+{traced['attempted']} "
              f"failed={plain['failed']}+{traced['failed']}")
        for res in (plain, traced):
            for name, m in res["metrics"].items():
                print(f"  {name:36s} {m['value']:14.6g} {m['unit']}")
        tm = traced["metrics"]
        for e2e, tr in (("mix_wall_s", "trace.mix_wall_s"), ("ops_per_s", "trace.ops_per_s")):
            base = plain["metrics"][e2e]["value"]
            print(f"  tracing overhead on {e2e}: {tm[tr]['value'] / base - 1:+.1%}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
