"""Shared plumbing: where a run keeps its files, the Spark session's life,
result digests for the correctness checks, and peak memory."""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import os
import statistics
import sys
import time

#: root of the checkout the benchmark runs in (the parent of perfbench/)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: everything the benchmark writes lives under here (git-ignored)
WORK = os.path.join(ROOT, "perfbench", "_work")

#: the scale of the catalog every workload reads
SF = 0.1
#: set-ups per run; setup_s is their median
N_SETUPS = 3


def cpus() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def prepare_env(run_dir: str) -> None:
    """Point Spark, its Python workers and every temp file at ``run_dir``.
    Must run before pyspark starts its JVM, which inherits this environment."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # Python workers import the engine for mapInArrow decodes and UDFs
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    # spark-warehouse and other relative outputs land in the run directory
    os.chdir(run_dir)


#: every session this process stopped, kept referenced for the life of the
#: process: the engine memoizes per-session state under id(session), and a
#: recycled id would hand a new session a dead session's DataFrames
_RETIRED: list = []


class Sessions:
    """Starts, restarts and finally stops the one Spark session a run uses.
    Restarts stop the SparkContext and build a new one in the same JVM, so
    each set-up after the first starts from empty Spark state."""

    def __init__(self) -> None:
        self.spark = None

    def start(self):
        from duckdb_fastlanes_spark import get_spark

        if self.spark is not None:
            self.spark.stop()
            _RETIRED.append(self.spark)
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def close(self) -> None:
        """Stop Spark and wait for its JVM (and the Python workers it owns)
        to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
            _RETIRED.append(self.spark)
            self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), []):
            out.append(k)
            todo.append(k)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus its JVM (the java
    descendant), from /proc. Read before the session is stopped."""
    me = os.getpid()
    jvm = 0
    for pid in _descendants(me):
        try:
            with open(f"/proc/{pid}/comm") as fh:
                if fh.read().strip() == "java":
                    jvm += _hwm_kb(pid)
        except OSError:
            continue
    return (_hwm_kb(me) + jvm) / 1024.0


# ---------------------------------------------------------------- digests
def _timestamp(col: str, typ: str) -> str:
    c = f'"{col}"'
    if typ.startswith("TIMESTAMP") or typ == "DATE":
        # Spark hands out UTC-zoned timestamps; DuckDB reads the same
        # parquet values as zone-less ones (the session zone is UTC)
        return f"CAST({c} AS TIMESTAMP)"
    return c


def digest(con, relation: str) -> str:
    """Exact, order-insensitive digest of a DuckDB relation (a table, view
    or table function call), for read-backs that must return the written
    rows bit for bit: column names in sorted order, row count, and the sum
    of per-row hashes over the columns in name order, timestamps without
    zone."""
    cols = sorted(
        (r[0], r[1]) for r in con.execute(f"DESCRIBE SELECT * FROM {relation}").fetchall()
    )
    exprs = ", ".join(_timestamp(c, t) for c, t in cols)
    n, h = con.execute(
        f"SELECT count(*), CAST(sum(hash({exprs})) AS VARCHAR) FROM {relation}"
    ).fetchone()
    return f"{','.join(c for c, _ in cols)}|{n}|{h or 0}"


def duck():
    import duckdb

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={cpus()}")
    return con


def arrow_digest(con, tbl) -> str:
    con.register("_r", tbl)
    try:
        return digest(con, "_r")
    finally:
        con.unregister("_r")


_NORMALIZE = None


def _normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """``tools/check_correctness.py``'s result normalization: columns in
    name order, floats rounded to 9 places, NaN and bytes as strings."""
    global _NORMALIZE
    if _NORMALIZE is None:
        import importlib.util

        path = os.path.join(ROOT, "tools", "check_correctness.py")
        spec = importlib.util.spec_from_file_location("_check_correctness", path)
        mod = importlib.util.module_from_spec(spec)
        saved = list(sys.path)  # the tool puts its own checkout first
        try:
            spec.loader.exec_module(mod)
        finally:
            sys.path[:] = saved
        _NORMALIZE = mod._normalize
    return _NORMALIZE(rows, cols)


_EXACT = decimal.Context(prec=80)


def _value_key(v) -> str:
    """A string per value such that two values get the same string exactly
    when ``==`` holds between them, as check_correctness compares: 5, 5.0
    and Decimal("5.00") agree, -0.0 equals 0.0, a zoned timestamp equals its
    UTC wall time."""
    if isinstance(v, (int, float, decimal.Decimal)):
        d = decimal.Decimal(v)
        return "0" if d == 0 else str(d.normalize(_EXACT))
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return repr(v)


def rows_digest(cols: list[str], rows: list[tuple]) -> str:
    """Digest of a query result under check_correctness's normalization,
    row by row in the order ``_normalize`` sorts them: two results get the
    same digest exactly when that tool would pass them (same column names,
    row count and normalized rows)."""
    h = hashlib.sha256()
    for r in _normalize(rows, cols):
        h.update("\x1f".join(_value_key(v) for v in r).encode())
        h.update(b"\x1e")
    return f"{','.join(sorted(cols))}|{len(rows)}|{h.hexdigest()}"


def arrow_rows_digest(tbl) -> str:
    """``rows_digest`` of an Arrow result, as Spark's ``toArrow`` hands it."""
    return rows_digest(tbl.column_names, list(zip(*(c.to_pylist() for c in tbl.columns))))


# ------------------------------------------------------------------ stats
def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def gmean(xs) -> float:
    """Geometric mean: every operation of a mix weighs the same, whatever
    its size."""
    xs = [x for x in xs if x > 0]  # an operation that never succeeded has no wall
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def now() -> float:
    return time.perf_counter()
