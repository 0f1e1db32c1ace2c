"""Untimed priming of a checkout's benchmark inputs, in a process of its own.

    python3 perfbench/prime.py [--sf 0.1]

Generates the catalog, stages its layout with ``optimize_layout`` and
caches the DuckDB oracle digests of the headline queries, each only if
missing. ``run.py`` starts this as a child process whenever something is
missing, so a measured run never shares a JVM with the priming session and
every run's first set-up starts a cold JVM.

The staged layout lives in a directory named after a hash of the engine's
source: a checkout whose engine stages differently (file counts, writer
options, codecs) never reuses a layout another engine staged.
"""

from __future__ import annotations

import argparse
import hashlib
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import common  # noqa: E402
import gen  # noqa: E402

ENGINE = os.path.join(common.ROOT, "duckdb_fastlanes_spark")


def data_dir(sf: float) -> str:
    return os.path.join(common.WORK, "data", f"sf{sf}")


def _data_stamp() -> str:
    return f"{gen.VERSION}:{gen.DATA_SEED}"


def engine_hash() -> str:
    """Hash of every source file of the engine package (paths and bytes)."""
    h = hashlib.sha256()
    for d, dirs, files in sorted(os.walk(ENGINE)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            if f.endswith(".pyc"):
                continue
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, ENGINE).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()[:16]


def layout_root() -> str:
    return os.path.join(common.WORK, "layout", engine_hash())


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return None


def _layout_marker(sf: float) -> str:
    return os.path.join(layout_root(), f"sf{sf}.primed")


def _expected_cached(sf: float) -> bool:
    from bench import HEADLINE

    import headline

    try:
        headline.expected_digests(data_dir(sf), list(HEADLINE), cached_only=True)
    except LookupError:
        return False
    return True


def needed(sf: float) -> bool:
    """Whether anything a run reads is missing or stale."""
    return (
        _read(os.path.join(data_dir(sf), "_READY")) != _data_stamp()
        or _read(_layout_marker(sf)) != _data_stamp()
        or not _expected_cached(sf)
    )


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path)
    elif os.path.exists(path):
        os.remove(path)


def _stage_layout(sf: float) -> None:
    from duckdb_fastlanes_spark.catalog import optimize_layout
    from duckdb_fastlanes_spark.session import tune_for_input

    root = layout_root()
    parent = os.path.dirname(root)
    # layouts staged by other engine sources are never read again, and a
    # copy staged from older data may match the new data's row counts,
    # which is all optimize_layout checks
    for other in os.listdir(parent) if os.path.isdir(parent) else ():
        if other != os.path.basename(root):
            _remove(os.path.join(parent, other))
    _remove(os.path.join(root, os.path.basename(data_dir(sf))))
    run_dir = os.path.join(common.WORK, "runs", f"prime-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    common.prepare_env(run_dir)
    sessions = common.Sessions()
    try:
        spark = sessions.start()
        tune_for_input(spark, data_dir(sf))
        optimize_layout(spark, data_dir(sf), cache_root=root)
    finally:
        sessions.close()
        os.chdir(common.ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(_layout_marker(sf), "w") as fh:
        fh.write(_data_stamp())


def prime(sf: float) -> None:
    from bench import HEADLINE

    import headline

    d = data_dir(sf)
    if _read(os.path.join(d, "_READY")) != _data_stamp():
        shutil.rmtree(d, ignore_errors=True)
        gen.generate(sf, d)
        with open(os.path.join(d, "_READY"), "w") as fh:
            fh.write(_data_stamp())
    if _read(_layout_marker(sf)) != _data_stamp():
        _stage_layout(sf)
    headline.expected_digests(d, list(HEADLINE))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--sf", type=float, default=common.SF)
    args = ap.parse_args()
    sys.path.insert(0, common.ROOT)
    prime(args.sf)
    return 0


if __name__ == "__main__":
    sys.exit(main())
