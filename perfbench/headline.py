"""Query workloads: the ``bench.py`` headline mix over the sf0.1 catalog.

Each execution is constructed mode, as in ``bench.py``: build the DataFrame
through the registry, execute it and fetch it with ``toArrow``, every time.
Persisted intermediates are drained after every execution, so no execution
reuses another's work. Every result is checked against the DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import threading
import traceback

from common import (
    N_SETUPS, Sessions, arrow_digest, arrow_rows_digest, cpus, duck, gmean, median, now,
    rows_digest,
)


#: results up to this many rows are normalized and digested every time;
#: larger ones reuse the verdict of a bit-identical earlier result
SMALL_RESULT_ROWS = 1000
#: bump when ``common.rows_digest`` changes, so cached oracle digests are
#: recomputed
DIGEST_VERSION = "3"


def expected_digests(data_dir: str, names: list[str], cached_only: bool = False) -> dict[str, str]:
    """Oracle digest per query: its ``registry.oracles()`` SQL run by DuckDB
    over the catalog's parquet files, fetched and digested as
    ``tools/check_correctness.py`` compares it. Cached beside the data,
    keyed by the SQL text, so an edited oracle is re-run. With
    ``cached_only`` a digest missing from the cache raises ``LookupError``."""
    from duckdb_fastlanes_spark import registry
    from duckdb_fastlanes_spark.catalog import TABLES

    oracles = registry.oracles()
    path = os.path.join(data_dir, "_expected.json")
    cache = {}
    if os.path.exists(path):
        with open(path) as fh:
            cache = json.load(fh)
    out, con = {}, None
    for name in names:
        if name not in oracles:
            raise KeyError(f"headline query {name!r} has no oracle SQL")
        key = f"{name}:{DIGEST_VERSION}:{hashlib.sha1(oracles[name].encode()).hexdigest()}"
        if key not in cache:
            if cached_only:
                raise LookupError(f"no cached oracle digest for {name!r}")
            if con is None:
                con = duck()
                for t in TABLES:
                    con.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')"
                    )
            rel = con.execute(oracles[name])
            cache[key] = rows_digest([d[0] for d in rel.description], rel.fetchall())
        out[name] = cache[key]
    if con is not None:
        with open(path + ".tmp", "w") as fh:
            json.dump(cache, fh, indent=1)
        os.replace(path + ".tmp", path)
    return out


def setup(sessions: Sessions, tracer, data_dir: str, layout_root: str) -> dict:
    """One engine set-up: a fresh Spark session, the input-size tuning, the
    staged layout and the in-memory cache. Returns per-step seconds."""
    from duckdb_fastlanes_spark.catalog import optimize_layout, warm_cache
    from duckdb_fastlanes_spark.session import tune_for_input

    steps = {}
    t0 = now()
    with tracer.span("setup"):
        with tracer.span("setup.start"):
            spark = sessions.start()
        steps["start"] = now() - t0
        with tracer.span("setup.tune"):
            tune_for_input(spark, data_dir)
        steps["tune"] = now() - t0 - steps["start"]
        t1 = now()
        with tracer.span("setup.layout"):
            optimize_layout(spark, data_dir, cache_root=layout_root)
        steps["layout"] = now() - t1
        t1 = now()
        with tracer.span("setup.warm_cache"):
            warm_cache(spark, data_dir)
        steps["warm_cache"] = now() - t1
    steps["total"] = now() - t0
    return steps


class ClientPersists(list):
    """Stands in for ``bench_support._TRACKED``, the list ``managed_persist``
    registers a query's persisted intermediates in. Each registration is
    also filed under the client thread that made it, so every client
    unpersists its own intermediates after its own fetch, never another
    client's that may still be reading them. ``drain_persists`` still
    empties the whole list; the benchmark calls it only between phases."""

    def __init__(self, items=()) -> None:
        super().__init__(items)
        self._lock = threading.Lock()
        self._local = threading.local()

    def append(self, df) -> None:
        with self._lock:
            super().append(df)
        self._local.__dict__.setdefault("mine", []).append(df)

    def take_mine(self) -> list:
        """Remove and return what this thread registered since last time."""
        mine = self._local.__dict__.pop("mine", [])
        if mine:
            with self._lock:
                self[:] = [d for d in self if not any(d is m for m in mine)]
        return mine


class QueryRunner:
    """Runs one headline query end to end and checks its result."""

    def __init__(self, spark, data_dir: str, tracer, expected: dict[str, str]):
        from duckdb_fastlanes_spark import bench_support, registry

        self.spark = spark
        self.sc = spark.sparkContext
        self.data_dir = data_dir
        self.tracer = tracer
        self.expected = expected
        self.fns = registry.queries()
        self.con = duck()
        self.verdicts: dict[tuple[str, str], bool] = {}
        bench_support.drain_persists()
        self.persists = bench_support._TRACKED = ClientPersists()

    def _group_counts(self, group: str) -> tuple[int, int, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                stages += 1
                si = st.getStageInfo(s)
                tasks += si.numTasks if si else 0
        return len(jobs), stages, tasks

    def _unpersist_mine(self) -> int:
        mine = self.persists.take_mine()
        for df in mine:
            df.unpersist(blocking=True)
        return len(mine)

    def run(self, name: str) -> dict:
        """One execution: build, (traced: plan,) execute and fetch, timed;
        then unpersist what this execution persisted, untimed. The result is
        kept for ``check``. An engine error is a failed operation, not a
        failed run."""
        tr = self.tracer
        op = tr.new_op()
        rec: dict = {"query": name, "op": op, "ok": False}
        if tr.enabled:
            self.sc.setJobGroup(f"pb{op}b", name)
        t0 = rec["start"] = now()
        try:
            with tr.span("query", op=op, query=name):
                t1 = now()
                with tr.span("build"):
                    df = self.fns[name](self.spark, self.data_dir)
                rec["build_s"] = now() - t1
                if tr.enabled:
                    self.sc.setJobGroup(f"pb{op}e", name)
                    t1 = now()
                    with tr.span("plan"):
                        df._jdf.queryExecution().executedPlan()
                    rec["plan_s"] = now() - t1
                t1 = now()
                with tr.span("execute_fetch"):
                    tbl = df.toArrow()
                rec["exec_s"] = now() - t1
        except Exception:
            traceback.print_exc()
            rec["wall"] = now() - t0
            rec["end"] = now()
            self._unpersist_mine()
            return rec
        rec["wall"] = now() - t0
        rec["end"] = now()
        rec["persists"] = self._unpersist_mine()
        if tr.enabled:
            t1 = now()
            rec["build_jobs"], _, _ = self._group_counts(f"pb{op}b")
            rec["jobs"], rec["stages"], rec["tasks"] = self._group_counts(f"pb{op}e")
            tr.add_bookkeeping(now() - t1)
        rec["result_mb"] = tbl.nbytes / 1e6
        rec["result"] = tbl
        return rec

    def check(self, recs: list[dict]) -> None:
        """Compare each kept result with its oracle digest, then drop it.
        Runs after a phase, so no check competes with the measured queries
        for the cores. A large result equal bit for bit to one already
        checked (by an exact DuckDB digest) gets that result's verdict:
        normalizing in Python takes a second per 100k rows."""
        for rec in recs:
            tbl = rec.pop("result", None)
            if tbl is None:
                continue
            want = self.expected[rec["query"]]
            if tbl.num_rows <= SMALL_RESULT_ROWS:
                rec["ok"] = arrow_rows_digest(tbl) == want
                continue
            key = (rec["query"], arrow_digest(self.con, tbl))
            if key not in self.verdicts:
                self.verdicts[key] = arrow_rows_digest(tbl) == want
            rec["ok"] = self.verdicts[key]


def _window(runner: QueryRunner, orders: list[list[str]], seconds: float,
            mix: list[str], warm: bool) -> tuple[list[dict], float, float]:
    """Closed loop: client i runs ``orders[i]`` round and round, each in its
    own FAIR pool, issuing its next query only when the previous returned.

    With ``warm``, the window opens once every query of the mix has
    completed (the warm-up: JIT, codegen and Python workers), otherwise at
    once. It then lasts ``seconds`` and, if needed, until every query has
    completed once after the opening; queries in flight when it closes
    finish and are checked. Returns (records, t_open, t_close)."""
    recs: list[dict] = []
    lock = threading.Lock()
    t_open = None if warm else now()

    def opened_at() -> float | None:
        if t_open is not None:
            return t_open
        firsts: dict[str, float] = {}
        for r in recs:
            firsts.setdefault(r["query"], r["end"])
        return max(firsts.values()) if len(firsts) == len(mix) else None

    def covered_at(t0: float) -> float | None:
        ends: dict[str, list[float]] = {q: [] for q in mix}
        for r in recs:
            if r["start"] >= t0:
                ends[r["query"]].append(r["end"])
        if not all(ends.values()):
            return None
        return max(min(e) for e in ends.values())

    def closed() -> bool:
        with lock:
            t0 = opened_at()
            return t0 is not None and now() >= t0 + seconds and covered_at(t0) is not None

    def client(i: int) -> None:
        runner.sc.setLocalProperty("spark.scheduler.pool", f"perfbench_client{i}")
        order = orders[i]
        k = 0
        while not closed():
            rec = runner.run(order[k % len(order)])
            k += 1
            with lock:
                recs.append(rec)

    run_clients(client, len(orders))
    t0 = opened_at()
    return recs, t0, max(t0 + seconds, covered_at(t0))


def run_clients(fn, n: int) -> None:
    if n == 1:
        fn(0)
        return
    errors: list[BaseException] = []

    def guarded(i: int) -> None:
        try:
            fn(i)
        except BaseException as e:  # re-raised in the main thread below
            errors.append(e)

    threads = [threading.Thread(target=guarded, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]


def _orders(rng: random.Random, mix: list[str], clients: int) -> list[list[str]]:
    """Every client cycles through the mix in its listed order, from a
    seeded starting point; clients start a quarter of the cycle apart, so
    their first few queries already cover the mix. Only the starting point
    is seeded: a query pays up to 3x its repeated wall depending on which
    queries ran just before it, so a fresh order per pass would measure the
    shuffle, not the engine."""
    start = rng.randrange(len(mix))
    step = len(mix) // clients
    return [
        [mix[(start + i * step + k) % len(mix)] for k in range(len(mix))]
        for i in range(clients)
    ]


def _shares(tracer, ops: set[int]) -> dict[str, float]:
    """Self time of each span name over the given query executions, as a
    share of their summed query wall."""
    wall = sum(s["end"] - s["start"] for s in tracer.spans if s["op"] in ops and s["name"] == "query")
    return {k: v / wall for k, v in tracer.self_times(ops).items()} if wall else {}


def run(ctx) -> dict:
    """Set up three times, then a loaded phase (one closed-loop client per
    core, opened after a warm-up round) and a serial phase (one client),
    each of ``ctx.seconds``."""
    from bench import HEADLINE
    from duckdb_fastlanes_spark.bench_support import drain_persists

    mix = list(HEADLINE)
    rng = random.Random(ctx.seed)
    tracer = ctx.tracer
    sessions = ctx.sessions
    expected = expected_digests(ctx.data_dir, mix)

    setups = [setup(sessions, tracer, ctx.data_dir, ctx.layout_root) for _ in range(N_SETUPS)]
    ctx.phases["setup"] = now()
    runner = QueryRunner(sessions.spark, ctx.data_dir, tracer, expected)
    n_cpu = cpus()
    phases = {}
    # loaded first: its opening round warms the JVM up, and the serial
    # passes then run on a JVM past its warm-up drift
    for name, clients, warm in (("loaded", n_cpu, True), ("serial", 1, False)):
        with tracer.span(f"window.{name}"):
            recs, t0, t_close = _window(
                runner, _orders(rng, mix, clients), ctx.seconds, mix, warm
            )
        # whatever a client's own unpersist missed (none expected) goes
        # before the next phase
        drain_persists()
        runner.check(recs)
        # timings come from the correct executions only; the others count
        # in `failed`
        inwin = [r for r in recs if r["ok"] and r["start"] >= t0 and r["end"] <= t_close]
        phases[name] = {
            "recs": recs,
            "per_q": {q: [r for r in inwin if r["query"] == q] for q in mix},
            "t_open": t0,
            "t_close": t_close,
        }
        ctx.phases[name] = now()
    ser, lod = phases["serial"], phases["loaded"]
    serial_wall = {q: median(r["wall"] for r in ser["per_q"][q]) for q in mix}

    def mix_sum(per_q: dict, key: str) -> float:
        return sum(median(r[key] for r in per_q[q]) for q in mix)

    e2e = {
        "setup_s": median(s["total"] for s in setups),
        "mix_wall_s": sum(serial_wall.values()),
        "latency_gmean_s": gmean(serial_wall.values()),
        "ops_per_s": _loaded_ops_per_s(lod, serial_wall),
    }
    every = [r for ph in phases.values() for r in ph["recs"]]
    staged = os.path.join(ctx.layout_root, os.path.basename(ctx.data_dir))
    layer = {
        "session.cold_start_s": setups[0]["start"],
        "session.start_s": median(s["start"] for s in setups),
        "session.tune_s": median(s["tune"] for s in setups),
        "catalog.layout_s": median(s["layout"] for s in setups),
        "catalog.warm_cache_s": median(s["warm_cache"] for s in setups),
        "catalog.staged_mb": _dir_mb(staged),
    }
    if tracer.enabled:
        for q in mix:
            rs = ser["per_q"][q]
            layer[f"build_s.{q}"] = median(r["build_s"] for r in rs)
            layer[f"plan_s.{q}"] = median(r["plan_s"] for r in rs)
            layer[f"exec_s.{q}"] = median(r["exec_s"] for r in rs)
            layer[f"tasks.{q}"] = median(r["tasks"] for r in rs)
            layer[f"sched.slowdown.{q}"] = median(
                r["wall"] for r in lod["per_q"][q]
            ) / median(r["wall"] for r in rs)
        layer["build.jobs"] = mix_sum(ser["per_q"], "build_jobs")
        layer["build.persists"] = mix_sum(ser["per_q"], "persists")
        layer["jobs"] = mix_sum(ser["per_q"], "jobs")
        layer["stages"] = mix_sum(ser["per_q"], "stages")
        layer["result_mb"] = mix_sum(ser["per_q"], "result_mb")
        shares = _shares(tracer, {r["op"] for rs in ser["per_q"].values() for r in rs})
        for name in ("build", "plan", "execute_fetch"):
            layer[f"trace.{name}_share"] = shares.get(name, 0.0)
        layer["trace.remainder_share"] = shares.get("query", 0.0)
        layer["trace.bookkeeping_ms_per_op"] = 1000 * tracer.bookkeeping_s / len(every)
        layer["trace.mix_wall_s"] = e2e["mix_wall_s"]
        layer["trace.ops_per_s"] = e2e["ops_per_s"]
    return {
        "e2e": e2e,
        "layer": layer,
        # phase, query, wall, counted, start and end from the window's opening
        "ops": [[ph, r["query"], round(r["wall"], 4),
                 p["t_open"] <= r["start"] and r["end"] <= p["t_close"],
                 round(r["start"] - p["t_open"], 3), round(r["end"] - p["t_open"], 3)]
                for ph, p in phases.items() for r in p["recs"]],
        "attempted": len(every),
        "failed": sum(not r["ok"] for r in every),
        "failures": sorted({r["query"] for r in every if not r["ok"]}),
        "user_bytes": _decoded_bytes(ctx.data_dir),
        "disk_bytes": _dir_mb(staged) * 1e6,
    }


def _loaded_ops_per_s(phase: dict, serial_wall: dict[str, float]) -> float:
    """Throughput of the loaded phase, in queries of the mix per second.

    Every correct execution counts the share of its wall that falls inside
    the window, so one in flight at the opening or the close counts for
    what the window holds of it, no more. Each is weighed by its query's
    serial wall over the mix's mean serial wall, so an 8-second window
    that happens to hold more of the slow queries than the mix does is not
    read as a slower engine."""
    t0, t1 = phase["t_open"], phase["t_close"]
    mean_wall = sum(serial_wall.values()) / len(serial_wall)
    if mean_wall == 0:  # no query ever succeeded
        return 0.0
    done = sum(
        max(0.0, min(r["end"], t1) - max(r["start"], t0)) / r["wall"]
        * serial_wall[r["query"]] / mean_wall
        for r in phase["recs"] if r["ok"]
    )
    return done / (t1 - t0)


def _dir_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total / 1e6


def _decoded_bytes(data_dir: str) -> float:
    """Decoded size of the catalog: the parquet footers' row-group sizes."""
    import pyarrow.parquet as pq

    total = 0
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(data_dir, f)).metadata
            total += sum(md.row_group(i).total_byte_size for i in range(md.num_row_groups))
    return total
