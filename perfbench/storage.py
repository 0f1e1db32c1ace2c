"""Storage workload: the ``.fls`` sink and scan, beside the parquet ones.

Inputs are the catalog's ``lineitem`` (numeric columns: the FFOR, ALP and
dictionary kernels) and ``documents`` (strings: FSST and dictionary), each
read once, clustered with ``io.fls.cluster_by`` into 4 partitions and
cached. One cycle writes each input with ``write_fls_native`` and with
``write_fls`` (parquet), scans each written copy in full with
``read_fls_native`` and ``read_fls``, and runs one selective native scan of
lineitem: a projection, a seeded ~5% ``l_orderkey`` range and
``adaptive_filter=True``. A warm-up cycle first runs the same steps on a
seeded 10% sample of each input. Every read is checked, between steps and
outside their timers: full scans against the written rows (count and
content digest), the selective scan against DuckDB over the same rows.
"""

from __future__ import annotations

import os
import random
import shutil
import traceback

import pyarrow.parquet as pq

from common import N_SETUPS, arrow_digest, digest, duck, gmean, median, now

INPUTS = {"lineitem": "l_orderkey", "documents": "doc_id"}
PROJECTION = ["l_orderkey", "l_extendedprice", "l_discount"]
#: share of the l_orderkey domain the selective scan's range covers
SELECTIVITY = 0.05
#: share of each input the warm-up cycle writes and reads: enough to start
#: the Python workers and compile every step's code, at a tenth of a cycle
WARM_FRACTION = 0.1
#: rows of lineitem the in-process kernel probe encodes (two row groups)
KERNEL_ROWS = 2 * 65536
#: steps in one cycle: four per input plus the selective scan; a window
#: runs at least two cycles, so every step's wall is a median of two or more
STEPS_PER_CYCLE = 4 * len(INPUTS) + 1


def _prepare(spark, data_dir: str) -> dict:
    """Read, cluster and cache the inputs, and a seeded sample of each for
    the warm-up cycle; returns per-input state."""
    from duckdb_fastlanes_spark.io import fls

    out = {}
    for name, key in INPUTS.items():
        df = fls.cluster_by(
            spark.read.parquet(os.path.join(data_dir, f"{name}.parquet")), [key], 4
        ).cache()
        df.count()
        warm = df.sample(fraction=WARM_FRACTION, seed=1).cache()
        out[name] = {"df": df, "warm": warm, "warm_rows": warm.toArrow()}
    return out


def _files(path: str, suffix: str) -> list[str]:
    return sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix)
    )


def _size(files: list[str]) -> int:
    return sum(os.path.getsize(f) for f in files)


def run(ctx) -> dict:
    from duckdb_fastlanes_spark.io import fls, fls_native

    rng = random.Random(ctx.seed)
    tracer = ctx.tracer
    # set-up is the session alone: this workload has no catalog to stage
    setups = []
    for _ in range(N_SETUPS):
        t0 = now()
        with tracer.span("setup"), tracer.span("setup.start"):
            spark = ctx.sessions.start()
        setups.append(now() - t0)
    ctx.phases["setup"] = now()
    with tracer.span("inputs"):
        inputs = _prepare(spark, ctx.data_dir)
    con = duck()
    src = os.path.join(ctx.data_dir, "lineitem.parquet")
    kmin, kmax = con.execute(f"SELECT min(l_orderkey), max(l_orderkey) FROM '{src}'").fetchone()
    width = max(int((kmax - kmin + 1) * SELECTIVITY), 1)
    lo = rng.randrange(kmin, kmax - width + 2)
    hi = lo + width
    pred = [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)]
    con.execute(
        f"CREATE TEMP TABLE _sel AS SELECT {', '.join(PROJECTION)} FROM '{src}' "
        f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
    )
    sel_expected = digest(con, "_sel")
    sel_warm = None

    # what was written, to compare read-backs with: the source rows (the
    # inputs are a read and a re-partitioning of them); user bytes are
    # their Arrow size
    user_bytes = 0
    for name, st in inputs.items():
        path = os.path.join(ctx.data_dir, f"{name}.parquet")
        st["digest"] = digest(con, f"read_parquet('{path}')")
        user_bytes += pq.read_table(path).nbytes
        # the warm-up cycle writes the sample, so its reads must return it
        rows = st.pop("warm_rows")
        st["warm_digest"] = arrow_digest(con, rows)
        if name == "lineitem":
            con.register("_w", rows)
            con.execute(
                f"CREATE TEMP TABLE _wsel AS SELECT {', '.join(PROJECTION)} FROM _w "
                f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi}"
            )
            con.unregister("_w")
            sel_warm = digest(con, "_wsel")

    ctx.phases["inputs"] = now()
    out_dir = os.path.join(ctx.run_dir, "out")
    recs: list[dict] = []

    def step(kind: str, name: str, fn, check) -> None:
        """One timed step, checked untimed; an engine error is a failed
        step, not a failed run."""
        op = tracer.new_op()
        t0 = now()
        try:
            with tracer.span(kind, op=op, input=name):
                res = fn()
        except Exception:
            traceback.print_exc()
            res, check = None, lambda _: False
        wall = now() - t0
        recs.append({"kind": kind, "input": name, "wall": wall, "ok": check(res)})

    def cycle(warm: bool = False) -> None:
        for name, st in inputs.items():
            df = st["warm" if warm else "df"]
            want = st["warm_digest" if warm else "digest"]
            want_sel = sel_warm if warm else sel_expected

            def scan_check(tbl):
                return arrow_digest(con, tbl) == want

            fpath = os.path.join(out_dir, f"{name}_fls")
            ppath = os.path.join(out_dir, f"{name}_pq")
            step("fls.write", name, lambda: fls_native.write_fls_native(df, fpath), lambda _: True)
            step("pq.write", name, lambda: fls.write_fls(df, ppath), lambda _: True)
            step("fls.scan_full", name, lambda: fls_native.read_fls_native(spark, fpath).toArrow(), scan_check)
            step("pq.scan", name, lambda: fls.read_fls(spark, ppath).toArrow(), scan_check)
            if name == "lineitem":
                step(
                    "fls.scan_proj",
                    name,
                    lambda: fls_native.read_fls_native(
                        spark, fpath, columns=PROJECTION, predicate=pred, adaptive_filter=True
                    ).toArrow(),
                    lambda tbl: arrow_digest(con, tbl) == want_sel,
                )

    with tracer.span("warmup"):
        cycle(warm=True)
    ctx.phases["warmup"] = now()
    n_warm = len(recs)
    # a cycle is the unit: the window closes at the first cycle end past
    # the deadline (and after two cycles), so every step has the same
    # number of samples
    stop_at = now() + ctx.seconds
    with tracer.span("window"):
        while now() < stop_at or len(recs) - n_warm < 2 * STEPS_PER_CYCLE:
            cycle()
    ctx.phases["window"] = now()
    window = [r for r in recs[n_warm:] if r["ok"]]
    kinds = sorted({(r["kind"], r["input"]) for r in window})
    med = {k: median(r["wall"] for r in window if (r["kind"], r["input"]) == k) for k in kinds}

    fls_files = {n: _files(os.path.join(out_dir, f"{n}_fls"), ".fls") for n in inputs}
    pq_files = {n: _files(os.path.join(out_dir, f"{n}_pq"), ".parquet") for n in inputs}
    fls_bytes = sum(_size(f) for f in fls_files.values())
    pq_bytes = sum(_size(f) for f in pq_files.values())

    e2e = {
        "setup_s": median(setups),
        "mix_wall_s": sum(med.values()),
        "latency_gmean_s": gmean(med.values()),
        # per second spent in the steps themselves: the checks between
        # steps are not the engine's time
        "ops_per_s": len(window) / sum(r["wall"] for r in window),
    }
    layer = {"session.cold_start_s": setups[0], "session.start_s": median(setups)}
    if tracer.enabled:
        user_mb = user_bytes / 1e6

        def both(kind: str) -> float:
            return sum(med[(kind, n)] for n in inputs)

        layer.update(
            {
                "fls.write_s": both("fls.write"),
                "fls.scan_full_s": both("fls.scan_full"),
                "fls.scan_proj_s": med[("fls.scan_proj", "lineitem")],
                "fls.write_mb_per_s": user_mb / both("fls.write"),
                "fls.scan_mb_per_s": user_mb / both("fls.scan_full"),
                "fls.bytes_per_user_byte": fls_bytes / user_bytes,
                "pq.write_s": both("pq.write"),
                "pq.scan_s": both("pq.scan"),
                "pq.write_mb_per_s": user_mb / both("pq.write"),
                "pq.scan_mb_per_s": user_mb / both("pq.scan"),
                "pq.bytes_per_user_byte": pq_bytes / user_bytes,
                "pq.files": sum(len(f) for f in pq_files.values()),
                "trace.mix_wall_s": e2e["mix_wall_s"],
                "trace.ops_per_s": e2e["ops_per_s"],
                "trace.bookkeeping_ms_per_op": 1000 * tracer.bookkeeping_s / len(recs),
            }
        )
        layer.update(_footer_stats(fls_files, pred))
        layer.update(_kernels(tracer, ctx.run_dir, inputs))
    failed = sum(not r["ok"] for r in recs)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "e2e": e2e,
        "layer": layer,
        "ops": [[r["kind"], r["input"], round(r["wall"], 4)] for r in window],
        "attempted": len(recs),
        "failed": failed,
        "failures": sorted({f"{r['kind']}:{r['input']}" for r in recs if not r["ok"]}),
        "user_bytes": user_bytes,
        "disk_bytes": fls_bytes,
    }


def _footer_stats(fls_files: dict[str, list[str]], pred) -> dict:
    """File, row-group and per-encoding vector counts from the written
    footers; the share of lineitem row groups whose min/max survive the
    selective predicate; and the adaptive filter's passed/seen ratio."""
    from duckdb_fastlanes_spark.io import fls_native

    out: dict[str, float] = {f"fls.enc.{e}": 0 for e in fls_native.ENC_NAMES.values()}
    files = rgs = 0
    for name, paths in fls_files.items():
        for p in paths:
            footer = fls_native.read_footer(p)
            files += 1
            rgs += len(footer["row_groups"])
            for rg in footer["row_groups"]:
                for col in rg["columns"]:
                    for enc, n in col["encodings"].items():
                        out[f"fls.enc.{enc}"] += n
    out["fls.files"] = files
    out["fls.row_groups"] = rgs
    lo, hi = pred[0][2], pred[1][2]
    total = read = passed = seen = 0
    for p in fls_files["lineitem"]:
        footer = fls_native.read_footer(p)
        key = [c["name"] for c in footer["schema"]].index("l_orderkey")
        for rg in footer["row_groups"]:
            total += 1
            c = rg["columns"][key]
            read += c.get("max", hi) >= lo and c.get("min", lo) < hi
        stats: dict = {}
        for _ in fls_native.read_file_adaptive(p, columns=["l_orderkey"], predicate=pred, stats=stats):
            pass
        passed += sum(stats.get("passed", []))
        seen += sum(stats.get("seen", []))
    out["fls.rg_read_ratio"] = read / max(total, 1)
    out["fls.adaptive_pass_ratio"] = passed / max(seen, 1)
    return out


def _kernels(tracer, run_dir: str, inputs: dict) -> dict:
    """The NumPy codec alone, in this process and without Spark: encode and
    decode one Arrow table per input with ``write_table``/``read_file``."""
    from duckdb_fastlanes_spark.io import fls_native

    enc_s = dec_s = mb = 0.0
    for name, st in inputs.items():
        tbl = st["df"].limit(KERNEL_ROWS).toArrow()
        path = os.path.join(run_dir, f"kernel_{name}.fls")
        mb += tbl.nbytes / 1e6
        t0 = now()
        with tracer.span("kernels.encode", input=name):
            fls_native.write_table(tbl, path)
        enc_s += now() - t0
        t0 = now()
        with tracer.span("kernels.decode", input=name):
            n = sum(b.num_rows for b in fls_native.read_file(path))
        dec_s += now() - t0
        if n != tbl.num_rows:
            raise RuntimeError(f"kernel round trip of {name}: {n} != {tbl.num_rows} rows")
        os.remove(path)
    return {"kernels.encode_mb_per_s": mb / enc_s, "kernels.decode_mb_per_s": mb / dec_s}
