"""spark-fls benchmark: one workload per invocation, one JSON line out.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run in a checkout primes the
inputs under ``perfbench/_work`` (the generated sf0.1 catalog, its staged
layout and the DuckDB oracle digests) in a child process, ``prime.py``;
later runs reuse them. Each run has
its own directory under ``perfbench/_work/runs`` for Spark's scratch, the
written files and, in a traced run, ``spans.json``. The last line of
standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (the same workload, with spans recorded around every call into a
layer). See perfbench/README.md for the workloads and the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
from spans import NullTracer, Tracer  # noqa: E402

WORKLOADS = ("headline_sf0.1", "fls_write_scan_sf0.1")

#: end-to-end metrics: name → unit (every workload reports every one)
E2E_UNITS = {
    "setup_s": "s",
    "mix_wall_s": "s",
    "latency_gmean_s": "s",
    "ops_per_s": "1/s",
    "disk_bytes_per_user_byte": "ratio",
}


def _headline_layer_units() -> dict[str, str]:
    from bench import HEADLINE

    units = {
        "mem.peak_rss_mb": "MB",
        "session.cold_start_s": "s",
        "session.start_s": "s",
        "session.tune_s": "s",
        "catalog.layout_s": "s",
        "catalog.warm_cache_s": "s",
        "catalog.staged_mb": "MB",
        "build.jobs": "count",
        "build.persists": "count",
        "jobs": "count",
        "stages": "count",
        "result_mb": "MB",
    }
    for q in HEADLINE:
        units[f"build_s.{q}"] = "s"
        units[f"plan_s.{q}"] = "s"
        units[f"exec_s.{q}"] = "s"
        units[f"tasks.{q}"] = "count"
        units[f"sched.slowdown.{q}"] = "x"
    return units


def layer_units() -> dict[str, str]:
    """Per-layer metrics: name → unit. A workload that does not touch a
    layer reports 0 for that layer's metrics."""
    from duckdb_fastlanes_spark.io.fls_native import ENC_NAMES

    units = _headline_layer_units()
    units.update(
        {
            "fls.write_s": "s",
            "fls.scan_full_s": "s",
            "fls.scan_proj_s": "s",
            "fls.write_mb_per_s": "MB/s",
            "fls.scan_mb_per_s": "MB/s",
            "fls.bytes_per_user_byte": "ratio",
            "fls.files": "count",
            "fls.row_groups": "count",
            "fls.rg_read_ratio": "ratio",
            "fls.adaptive_pass_ratio": "ratio",
            "pq.write_s": "s",
            "pq.scan_s": "s",
            "pq.write_mb_per_s": "MB/s",
            "pq.scan_mb_per_s": "MB/s",
            "pq.bytes_per_user_byte": "ratio",
            "pq.files": "count",
            "kernels.encode_mb_per_s": "MB/s",
            "kernels.decode_mb_per_s": "MB/s",
            "trace.build_share": "ratio",
            "trace.plan_share": "ratio",
            "trace.execute_fetch_share": "ratio",
            "trace.remainder_share": "ratio",
            "trace.bookkeeping_ms_per_op": "ms",
            "trace.mix_wall_s": "s",
            "trace.ops_per_s": "1/s",
        }
    )
    for enc in ENC_NAMES.values():
        units[f"fls.enc.{enc}"] = "count"
    return units


@dataclass
class Ctx:
    seed: int
    seconds: float
    tracer: object
    sessions: common.Sessions
    data_dir: str
    layout_root: str
    run_dir: str
    phases: dict


def versions() -> dict[str, str]:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "numpy": numpy.__version__,
    }


def run_workload(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    """Run one workload in this process; returns the result object."""
    import headline
    import prime
    import storage

    data_dir = prime.data_dir(common.SF)
    if prime.needed(common.SF):
        # a process of its own, so this run's JVM starts cold
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prime.py"), "--sf", str(common.SF)],
            cwd=common.ROOT, stdout=sys.stderr, check=True,
        )
    run_dir = os.path.join(
        common.WORK, "runs", f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time())}"
    )
    os.makedirs(run_dir)
    common.prepare_env(run_dir)
    ctx = Ctx(
        seed=seed,
        seconds=seconds,
        tracer=Tracer() if trace else NullTracer(),
        sessions=common.Sessions(),
        data_dir=data_dir,
        layout_root=prime.layout_root(),
        run_dir=run_dir,
        phases={"start": common.now()},
    )
    try:
        if workload == "headline_sf0.1":
            res = headline.run(ctx)
        else:
            res = storage.run(ctx)
        rss = common.peak_rss_mb()
    finally:
        ctx.sessions.close()
        ctx.phases["close"] = common.now()
        if trace:
            ctx.tracer.write(os.path.join(run_dir, "spans.json"))
        # keep only the spans; Spark scratch and written files go
        for name in os.listdir(run_dir):
            if name != "spans.json":
                p = os.path.join(run_dir, name)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        os.chdir(common.ROOT)
    res["e2e"]["disk_bytes_per_user_byte"] = res["disk_bytes"] / res["user_bytes"]
    res["layer"]["mem.peak_rss_mb"] = rss
    if trace:
        units = layer_units()
        values = {k: float(res["layer"].get(k, 0.0)) for k in units}
    else:
        units = E2E_UNITS
        values = {k: float(res["e2e"][k]) for k in units}
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
        "context": {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "data_dir": os.path.relpath(data_dir, common.ROOT),
            "run_dir": os.path.relpath(run_dir, common.ROOT),
            "nproc": common.cpus(),
            "versions": versions(),
            "failures": res["failures"],
            "ops": res.get("ops", []),
            "phases_s": {k: round(v - ctx.phases["start"], 2) for k, v in ctx.phases.items()},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, common.ROOT)
    try:
        import bench  # noqa: F401  (the headline mix lives there)
        import duckdb_fastlanes_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not in this checkout ({e})", file=sys.stderr)
        return 2
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    # the context line first, the result (without it) last
    print(json.dumps(result.pop("context")))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
