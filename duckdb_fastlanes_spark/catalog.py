"""Table catalog over the driver-generated parquet test data.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table per scale factor.

At 100 TB these would be multi-file partitioned datasets; ``table`` therefore
accepts any path Spark's parquet source accepts (file, dir, glob) — mirroring the
reference's multi-file ``read_fls`` glob expansion
(/root/reference/src/reader/fls_multi_file_info.cpp:70-82).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Analyzed-DataFrame cache: spark.read.parquet re-lists files and re-reads the
# footer schema on every call (~100-250 ms of driver work per table reference).
# DataFrames are immutable, so one analyzed scan per (session, dir, table) can
# be shared by every query — the reference caches the same way (first-file
# schema bind cached in FinalizeBindData, fls_multi_file_info.cpp:84-97).
_CACHE: dict[tuple[int, str, str], DataFrame] = {}

# sf_dir → optimized-layout dir, registered by optimize_layout (explicit
# opt-in; table() only redirects when the caller ingested first)
_LAYOUT: dict[str, str] = {}

#: minimum ingest splits for tables that are small in bytes but heavy per
#: row (regex shingling, vector math, per-row hashing) — splitting
#: parallelizes that CPU, not the I/O. Every table additionally splits by
#: SIZE (one file per _SPLIT_BYTES) so no table — dimension or fact — ever
#: bottlenecks on a single-file single-task scan as the corpus grows (a
#: single-file customer table ran the hash matrix on one core at ~sf1).
_MIN_FILES = {"lineitem": 16, "orders": 8, "events": 8, "documents": 8, "embeddings": 4}
_SPLIT_BYTES = 8 * 1024**2
_MAX_FILES = 32

#: ingest-time CLUSTER key per fact table (repartitionByRange instead of
#: round-robin): co-locating a key's rows makes map-side partial
#: aggregation on that key effective (count_distinct's per-task dedup
#: emits each orderkey once instead of once per task — measured 5.5 → 2.3 s
#: at the 1000× cell) and gives every staged file a tight min/max footer
#: range on the key, so row-group pruning works for key-range scans (A7).
#: orders/events arrive sorted already — range-splitting preserves that;
#: lineitem arrives UNSORTED, which round-robin splitting would bake in.
_CLUSTER_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}

#: BUCKETED fact staging (r6): above the small-input gauge the two fact
#: tables are additionally staged as Spark bucketed tables on their join
#: key — bucketBy(32, orderkey), sorted, ONE file per bucket — and
#: ``table()`` serves the bucketed copy. Every downstream equi-join or
#: aggregation on the bucket key (tpch_q9/q18/q21's lineitem⋈orders,
#: count_distinct's distinct-orderkey dedup) then consumes the write-time
#: shuffle: zero Exchange on the fact side, measured 2.43→2.03 s on
#: tpch_q9 at the 1000× SCALE cell. 32 buckets = local[32] cores; at
#: cluster scale the bucket count scales with the executor count, the
#: same pay-the-shuffle-once primitive (Hive/Iceberg bucket transforms).
_BUCKET_KEYS = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
_BUCKET_N = 32

#: staged-layout parquet codec. lz4, not zstd (r10 A/B at the 1000x cell):
#: scans dominate constructed-mode cost, and Spark's zstd decode of the
#: 60 M-row 5-column lineitem pass ran 0.53 s warm / 2.6 s cold vs lz4's
#: 0.44 s / 0.74 s (A/B in commit 93a8f5e; snappy between). Disk cost is
#: +22% on a local /tmp layout nobody ships. A cluster ingest would weigh
#: network/storage economics differently — the constant is the knob.
_LAYOUT_CODEC = "lz4"
#: (dir_key, name) → (table_name, staged_dir, key); staging is on-disk and
#: session-independent — registration into a session's catalog happens
#: lazily in table() via CLUSTERED BY DDL over the staged files
_BUCKET_TABLE: dict[tuple[str, str], tuple[str, str, str]] = {}


def source_fingerprint(sf_dir: str, *names: str, extra: str = "") -> str:
    """Short content fingerprint of one or more source parquet files:
    sha1 over (abspath, size, mtime) per file plus a derivation tag. Used
    to name derived staged copies (bucketed tables, indexes) so a source
    regenerated in place gets a FRESH staging instead of a stale memoized
    copy silently serving (the _ivf_index pattern, similarity.py:101)."""
    import hashlib
    import json
    import os

    parts: list = [extra]
    for name in names:
        src = os.path.join(sf_dir.rstrip("/"), f"{name}.parquet")
        try:
            st = os.stat(src)
            # mtime_ns + inode, not whole-second mtime: a source regenerated
            # within the same second at identical byte size must still
            # fingerprint differently (stale staged copies silently serving
            # fresh data is the exact failure this hash exists to prevent)
            parts.append(
                [os.path.abspath(src), st.st_size, st.st_mtime_ns, st.st_ino]
            )
        except OSError:
            parts.append([os.path.abspath(src), 0, 0])
    return hashlib.sha1(json.dumps(parts).encode()).hexdigest()[:10]


def is_bucketed(sf_dir: str, name: str) -> bool:
    """True when table() serves the bucketed staged copy of ``name`` for
    this directory (operators use this to pick exchange-free join shapes:
    a merge join over two bucket-aligned sorted facts needs neither an
    Exchange nor a Sort, where the unbucketed plan wants a shuffle-hash
    pin — see tpch_q9)."""
    return (sf_dir.rstrip("/"), name) in _BUCKET_TABLE


def _register_bucketed(
    spark: SparkSession, tname: str, loc: str, key: str, n_buckets: int = _BUCKET_N
) -> None:
    """Register the staged bucketed files as an external CLUSTERED BY table
    in THIS session's catalog (bucket specs only apply through the catalog;
    the files on disk are session-independent, the DDL is per-session)."""
    if spark.catalog.tableExists(tname):
        return
    schema_ddl = spark.read.parquet(loc).schema.toDDL()
    spark.sql(
        f"CREATE TABLE {tname} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({key}) SORTED BY ({key}) INTO {n_buckets} BUCKETS "
        f"LOCATION '{loc}'"
    )


def _stage_bucketed(spark: SparkSession, dir_key: str, out_root: str) -> None:
    """Write (once) the bucketed copies of the fact tables under the layout
    root and record them for table(). Idempotent and staleness-proof: the
    staged dir and table name carry the SOURCE fingerprint, so regenerated
    source data fingerprints to a new location and restages."""
    import os

    for name, ck in _BUCKET_KEYS.items():
        src = os.path.join(dir_key, f"{name}.parquet")
        if not os.path.exists(src):
            continue
        fp = source_fingerprint(dir_key, name, extra=f"bucket_v2:{_LAYOUT_CODEC}:{_BUCKET_N}:{ck}")
        loc = os.path.join(out_root, f"{name}_b{_BUCKET_N}_{fp}")
        tname = f"dfs_{name}_b{_BUCKET_N}_{fp}"
        if os.path.exists(os.path.join(loc, "_SUCCESS")):
            _register_bucketed(spark, tname, loc, ck)
        else:
            if spark.catalog.tableExists(tname):
                spark.sql(f"DROP TABLE {tname}")
            # repartition on the bucket hash key first → each write task
            # holds exactly one bucket → ONE sorted file per bucket (Spark
            # only trusts write-time sort order at one file per bucket)
            (
                _read_raw(spark, src, name)
                .repartition(_BUCKET_N, ck)
                .write.mode("overwrite")
                .format("parquet")
                .option("compression", _LAYOUT_CODEC)
                .option("path", loc)
                .bucketBy(_BUCKET_N, ck)
                .sortBy(ck)
                .saveAsTable(tname)
            )
        _BUCKET_TABLE[(dir_key, name)] = (tname, loc, ck)
    # staged copies supersede cached plain scans for these tables
    for k in [k for k in _CACHE if k[1] == dir_key and k[2] in _BUCKET_KEYS]:
        del _CACHE[k]


def optimize_layout(spark: SparkSession, sf_dir: str, cache_root: str = "/tmp/dfs_layout") -> str:
    """Ingest the catalog into the engine's optimized layout: fact tables
    split into N ZSTD files (parallel scans — the driver's originals are one
    row group, so they scan single-threaded), dimensions copied as-is. This
    is the analogue of the reference's own workflow, which converts parquet
    to row-group-sized .fls files BEFORE benchmarking
    (test/sql/simple.test:34, tpch_sf10_rg65536_lineitem.fls): ingest once,
    query many. Idempotent — reuses the staged copy when row counts match.
    After this call, table(spark, sf_dir, ...) transparently reads the
    optimized copy for this sf_dir."""
    import os

    key = sf_dir.rstrip("/")
    out_root = os.path.join(cache_root, os.path.basename(key))
    os.makedirs(out_root, exist_ok=True)
    for name in TABLES:
        src = f"{key}/{name}.parquet"
        if not os.path.exists(src):
            continue  # partial catalog (fixture dirs) — same as register_views
        dst = os.path.join(out_root, f"{name}.parquet")
        src_df = _read_raw(spark, src, name)
        # layout-version marker: a staged copy written before the current
        # cluster-key config must be restaged, or the old round-robin files
        # would silently serve forever (row counts alone can't tell)
        ck_marker = os.path.join(
            dst,
            f"_LAYOUT_{_CLUSTER_KEYS.get(name, 'roundrobin')}_{_LAYOUT_CODEC}",
        )
        if os.path.exists(os.path.join(dst, "_SUCCESS")) and os.path.exists(
            ck_marker
        ):
            if spark.read.parquet(dst).count() == src_df.count():
                continue  # staged copy is current
        src_bytes = 0
        try:
            src_bytes = os.path.getsize(src)
        except OSError:
            pass
        n_files = min(
            _MAX_FILES, max(_MIN_FILES.get(name, 0), src_bytes // _SPLIT_BYTES)
        )
        ck = _CLUSTER_KEYS.get(name)
        if n_files and ck:
            writer = src_df.repartitionByRange(int(n_files), ck)
        elif n_files:
            writer = src_df.repartition(n_files)
        else:
            writer = src_df
        writer.write.mode("overwrite").option("compression", _LAYOUT_CODEC).parquet(dst)
        with open(ck_marker, "w") as fh:
            fh.write("ok")
    _LAYOUT[key] = out_root
    # drop analyzed-scan cache entries for this dir so reads re-resolve
    for k in [k for k in _CACHE if k[1] == key]:
        del _CACHE[k]
    # force view re-registration over the staged copies
    for sid, d in list(_VIEWS_CURRENT.items()):
        if d == key:
            del _VIEWS_CURRENT[sid]
    # above the input gauge, additionally stage the fact tables BUCKETED on
    # their join keys (pay the shuffle once at ingest; every orderkey join
    # and distinct downstream runs exchange-free — see _BUCKET_KEYS note)
    from duckdb_fastlanes_spark.session import SMALL_INPUT_BYTES, input_gauge_bytes

    if input_gauge_bytes(key) >= SMALL_INPUT_BYTES:
        _stage_bucketed(spark, key, out_root)
    return out_root


def warm_cache(spark: SparkSession, sf_dir: str, max_bytes: int = 2 * 1024**3) -> bool:
    """Pin the catalog into Spark's in-memory columnar cache (the warehouse
    hot-set path: scans read compressed column batches from executor memory
    instead of re-decoding parquet). Only engages when the whole catalog fits
    comfortably (< ``max_bytes`` on disk) — at 100 TB the hot set is chosen
    per-table (dims + the working partition), never wholesale, so the
    size gate IS the cluster behavior, not a bench trick. Idempotent;
    returns True when the cache path engaged.

    Cache-manager note: views and query plans built via ``table()`` share the
    analyzed scan (``_CACHE``), and Spark's CacheManager matches plan
    fragments globally, so every registered query — DataFrame- or SQL-built —
    automatically reads the InMemoryRelation after this call."""
    import os

    key = sf_dir.rstrip("/")
    base = _LAYOUT.get(key, key)
    try:
        total = sum(
            os.path.getsize(os.path.join(base, f))
            for f in os.listdir(base)
            if os.path.isfile(os.path.join(base, f))
        ) or sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(base)
            for f in fs
        )
    except OSError:
        return False
    if total >= max_bytes:
        return False
    for name in TABLES:
        if os.path.exists(os.path.join(base, f"{name}.parquet")):
            df = table(spark, sf_dir, name)
            if not df.is_cached:
                df.cache().count()  # materialize now, off the timed path
    return True


#: sessions whose timezone the catalog has already pinned (see _pin_utc)
_TZ_PINNED: set[int] = set()


def _pin_utc(spark: SparkSession) -> None:
    """Pin the session timezone to UTC, once per session, at the catalog's
    public entry points. Timestamp semantics everywhere in the engine (the
    NTZ→TS cast in _read_raw, unix_micros, date arithmetic, watermarks)
    assume UTC; get_spark already sets it at construction, but a foreign
    session (e.g. the driver's own) may carry another zone. Pinning once —
    with a warning when we actually change it — avoids silently clobbering
    a caller's later deliberate tz choice on every table read."""
    if id(spark) in _TZ_PINNED:
        return
    _TZ_PINNED.add(id(spark))
    if spark.conf.get("spark.sql.session.timeZone", "UTC") != "UTC":
        import warnings

        warnings.warn(
            "duckdb_fastlanes_spark catalog: setting spark.sql.session.timeZone"
            " to UTC for this session (engine timestamp semantics are UTC-based)",
            stacklevel=3,
        )
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _read_raw(spark: SparkSession, path: str, name: str) -> DataFrame:
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, T.LongType):
            # INT64 TIMESTAMP(NANOS) read via nanosAsLong → µs TimestampType
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, T.TimestampNTZType):
            # parquet timestamp[us] with isAdjustedToUTC=false reads as
            # TIMESTAMP_NTZ; unix_micros/withWatermark require TIMESTAMP.
            # Session tz is UTC (session.py), so the cast is lossless: the
            # wall-clock fields are reinterpreted as the same UTC instant —
            # matching DuckDB's reading of the same file (reference type
            # matrix: /root/reference/src/reader/translation_utils.cpp:5-48).
            df = df.withColumn("ts", F.col("ts").cast(T.TimestampType()))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table as a DataFrame (columnar vectorized parquet scan).

    ``events.ts`` normalizes to µs TimestampType whatever the physical parquet
    encoding: INT64 TIMESTAMP(NANOS) (read via ``nanosAsLong`` + div 1000) or
    timestamp[us] with isAdjustedToUTC=false (read as TIMESTAMP_NTZ, cast
    under the UTC session tz) — the same µs UTC-instant semantics DuckDB's
    parquet reader applies, so downstream ``unix_micros``/watermarks work.

    On a session's FIRST catalog access this pins spark.sql.session.timeZone
    to UTC (warning if it changes an existing setting) — engine timestamp
    semantics are UTC-based. Later deliberate tz changes are respected.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; have {TABLES}")
    _pin_utc(spark)
    dir_key = sf_dir.rstrip("/")
    key = (id(spark), dir_key, name)
    if key in _CACHE:
        return _CACHE[key]
    # serve the bucketed staged copy when one exists for this dir (staged
    # by optimize_layout above the input gauge) — same rows, plus a bucket
    # distribution every orderkey join/aggregate consumes exchange-free.
    # Non-bucket-aligned scans are unaffected: autoBucketedScan drops the
    # bucket info and splits files normally when no operator requires the
    # distribution.
    ref = _BUCKET_TABLE.get((dir_key, name))
    if ref is not None:
        tname, loc, ck = ref
        _register_bucketed(spark, tname, loc, ck)
        df = spark.table(tname)
        _CACHE[key] = df
        return df
    base = _LAYOUT.get(dir_key, dir_key)
    # a session built outside get_spark (e.g. the driver's own) fails on the
    # INT64 TIMESTAMP(NANOS) events column with PARQUET_TYPE_ILLEGAL unless
    # nanosAsLong is on — _read_raw sets it (runtime-settable) before reading
    df = _read_raw(spark, f"{base}/{name}.parquet", name)
    _CACHE[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table present in ``sf_dir`` as a temp view for
    spark.sql queries (partial catalogs — e.g. test fixtures with a single
    table — register only what exists)."""
    import os

    base = _LAYOUT.get(sf_dir.rstrip("/"), sf_dir.rstrip("/"))
    for name in TABLES:
        if os.path.exists(os.path.join(base, f"{name}.parquet")):
            table(spark, sf_dir, name).createOrReplaceTempView(name)


#: session id → sf_dir its temp views currently point at (views are
#: session-global, so switching directories must re-register)
_VIEWS_CURRENT: dict[int, str] = {}


def sql_q(spark: SparkSession, sf_dir: str, sql: str) -> "DataFrame":
    """Run a Spark-dialect SQL body over the catalog views.

    Construction-cost twin of DuckDB's ``execute(sql)``: ONE JVM parse of the
    whole query instead of a Py4J round-trip per Column/relational call
    (measured 0.05-0.09 s of pure driver-side build per mid-size DataFrame
    composition — pure overhead against an interactive baseline). Views are
    registered once per session and re-registered when the scale-factor dir
    changes; ``optimize_layout`` invalidates them so re-registration picks
    up the staged copies."""
    dir_key = sf_dir.rstrip("/")
    if _VIEWS_CURRENT.get(id(spark)) != dir_key:
        register_views(spark, sf_dir)
        _VIEWS_CURRENT[id(spark)] = dir_key
    return spark.sql(sql)


def values_df(spark: SparkSession, rows: list[tuple], ddl: str) -> "DataFrame":
    """Small driver-computed result set as a JVM LocalRelation.

    r11 (guide §4): ``spark.createDataFrame(list, ddl)`` routes through
    ``applySchemaToPythonRDD`` — a Python-RDD-backed relation whose every
    execution (and any range-partitioner sampling pass an orderBy adds)
    spins Python worker tasks. For the scalar/summary rows many operators
    emit (roundtrip mismatch counts, MMR picks, DESCRIBE output) that is
    ~0.2-1.5 s of pure boundary tax per run. A typed VALUES literal parses
    once into a LocalRelation: same rows, same schema, no Python boundary.
    Supports int/float/bool/str/None cells plus flat lists of those
    (``array(...)`` literals); the explicit CAST per column pins the
    declared type, so e.g. ``0.1234`` never lands as DECIMAL(4,4)."""
    from pyspark.sql.types import StructType

    schema = StructType.fromDDL(ddl)

    def lit(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "TRUE" if v else "FALSE"
        if isinstance(v, float):
            return repr(v)
        if isinstance(v, int):
            return str(v)
        if isinstance(v, str):
            return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
        if isinstance(v, (list, tuple)):
            return "array(" + ", ".join(lit(x) for x in v) + ")"
        raise TypeError(f"values_df: unsupported literal {type(v)}")

    cols = ", ".join(
        f"CAST(c{i} AS {f.dataType.simpleString()}) AS {f.name}"
        for i, f in enumerate(schema.fields)
    )
    names = ", ".join(f"c{i}" for i in range(len(schema.fields)))
    if rows:
        body = ", ".join("(" + ", ".join(lit(v) for v in r) + ")" for r in rows)
        tail = ""
    else:  # typed empty relation: one NULL row folded away by the optimizer
        body = "(" + ", ".join("NULL" for _ in schema.fields) + ")"
        tail = " WHERE 1 = 0"
    return spark.sql(
        f"SELECT {cols} FROM (VALUES {body}) AS t({names}){tail}"
    )


def install_stats(
    spark: SparkSession,
    sf_dir: str,
    tables: tuple[str, ...] | None = None,
    database: str = "dfs_stats",
) -> dict[str, int]:
    """Install table + column statistics into Spark's catalog so the
    cost-based optimizer plans from them — the Spark realization of the
    reference feeding per-column min/max and cardinality into its planner
    (reference A10/A11: src/reader/fls_reader.cpp:244-292 merges row-group
    column stats; src/reader/fls_multi_file_info.cpp:152-164 feeds
    explicit_cardinality to join planning; ``read_fls``'s
    explicit_cardinality option in io/fls.py is the API-surface twin).

    ``stats_catalog`` computes the same statistics as an observable query;
    this call is the side that INSTALLS them: each catalog table present in
    ``sf_dir`` becomes an external parquet table in ``database`` and gets
    ``ANALYZE TABLE ... COMPUTE STATISTICS FOR ALL COLUMNS`` (row count,
    per-column min/max/ndv/null count/avg+max length). With
    ``spark.sql.cbo.enabled`` these drive filter-selectivity estimates and
    therefore join-strategy (broadcast) and join-reorder decisions —
    demonstrated by tests/test_plans.py::test_installed_stats_flip_join_strategy.

    Scale note: ANALYZE is one scan per table (all column aggregates in one
    pass) and writes only catalog metadata — at 100 TB it is a routine
    nightly job, and the alternative (planning joins from raw file sizes)
    is exactly what mis-sizes filtered build sides into sort-merge joins.

    Idempotent; returns {table: row_count} read back from the catalog
    statistics (not from a re-count)."""
    import os

    base = _LAYOUT.get(sf_dir.rstrip("/"), sf_dir.rstrip("/"))
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    out: dict[str, int] = {}
    for name in tables or TABLES:
        path = os.path.join(base, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        _pin_utc(spark)
        full = f"{database}.{name}"
        spark.sql(f"DROP TABLE IF EXISTS {full}")
        spark.sql(f"CREATE TABLE {full} USING parquet LOCATION '{path}'")
        spark.sql(f"ANALYZE TABLE {full} COMPUTE STATISTICS FOR ALL COLUMNS")
        stats_row = [
            r
            for r in spark.sql(f"DESCRIBE TABLE EXTENDED {full}").collect()
            if r["col_name"] == "Statistics"
        ]
        n = -1
        if stats_row:
            import re as _re

            m = _re.search(r"(\d+) rows", stats_row[0]["data_type"])
            if m:
                n = int(m.group(1))
        out[name] = n
    return out
