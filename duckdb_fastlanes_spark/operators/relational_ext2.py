"""Inventory-completing micro-queries (SURVEY.md §2.C joins/windows/sort/
aggregation/scalar rows — embedded DuckDB v1.3.2 surface, public knowledge):
right outer join, distribution window functions, explicit NULL ordering,
boolean aggregates, bitwise scalars, Levenshtein fuzzy matching, calendar
arithmetic, try_cast, fixed-width histogram, deterministic array_agg,
regression aggregates, and tie-safe mode."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi


# RIGHT OUTER JOIN — preserved side is the build side; Spark plans it as
# a mirrored left-outer, same shuffle profile.
register_ansi(
    "join_right_outer",
    """
    SELECT p.p_partkey, p.p_brand, l.l_orderkey, l.l_linenumber
    FROM (SELECT * FROM lineitem WHERE l_orderkey < 500) l
    RIGHT OUTER JOIN (SELECT * FROM part WHERE p_partkey < 200) p
      ON l.l_partkey = p.p_partkey
    ORDER BY p.p_partkey, l.l_orderkey, l.l_linenumber
    """,
)


@register(
    "window_distribution",
    oracle="""
    SELECT s_suppkey,
           round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 4) AS pr,
           round(cume_dist()    OVER (ORDER BY s_acctbal, s_suppkey), 4) AS cd
    FROM supplier
    ORDER BY s_suppkey
    """,
)
def window_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist — distribution window functions. A global
    ORDER BY window is a single-partition sort; at scale these run inside a
    partitionBy (per-group distributions) — global form kept for the oracle."""
    from pyspark.sql.window import Window

    s = table(spark, sf_dir, "supplier")
    w = Window.orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_suppkey",
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
    ).orderBy("s_suppkey")


@register(
    "window_distribution_scalable",
    oracle="""
    SELECT s_suppkey,
           round(percent_rank() OVER (ORDER BY s_acctbal, s_suppkey), 4) AS pr,
           round(cume_dist()    OVER (ORDER BY s_acctbal, s_suppkey), 4) AS cd
    FROM supplier
    ORDER BY s_suppkey
    """,
)
def window_distribution_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL percent_rank / cume_dist WITHOUT the single-partition sort —
    the distributed two-pass global-rank pattern (r6, answering the one
    WindowExec warning left in the registry):

    1. range-partition on the order key (repartitionByRange: one sampling
       pass picks boundaries, rows land range-sorted across N partitions);
    2. rank locally with a window PARTITIONED BY spark_partition_id() —
       one parallel task per partition, no SinglePartition exchange;
    3. lift local ranks to global with per-partition prefix offsets (ONE
       driver-side collect bounded by the partition count — #partitions
       rows, corpus-size-independent, same bounded-collect contract as
       sim_mmr_rerank) via a broadcast-literal map.

    Exactness: the order key (s_acctbal, s_suppkey) ends in a unique
    tiebreaker, so rank() == row_number() and cume_dist's ≤-count equals
    the global row number — pr = (rk−1)/(N−1), cd = rk/N, bit-identical
    to the oracle's window forms (integer-derived doubles). An order key
    WITH ties would add one value-keyed min/max adjustment pass. The
    global-ORDER-BY sibling (window_distribution) stays as the B-row
    parity form; this is the plan a 100 TB global ranking should run."""
    from pyspark.sql.window import Window

    s = table(spark, sf_dir, "supplier").select("s_suppkey", "s_acctbal")
    n_parts = max(2, spark.sparkContext.defaultParallelism // 4)
    # Materialize the range partitioning ONCE before both consumers (the
    # counts collect below and the rank window): RangePartitioner samples
    # its boundaries per EXECUTION (seeded by the RDD id), so two
    # independent executions of the same repartitionByRange can place rows
    # in different partitions once the input outgrows the reservoir sample
    # — offsets would then disagree with pids and silently skew pr/cd.
    # The checkpoint pins one concrete partitioning; pid is computed
    # downstream of it, so both jobs read identical partitions.
    base = s.repartitionByRange(n_parts, "s_acctbal", "s_suppkey").localCheckpoint(
        eager=True
    )
    base = base.select(
        "s_suppkey", "s_acctbal", F.spark_partition_id().alias("pid")
    )
    w = Window.partitionBy("pid").orderBy("s_acctbal", "s_suppkey")
    local = base.withColumn("lrk", F.row_number().over(w))
    counts = sorted(
        (r["pid"], r["c"])
        for r in base.groupBy("pid").agg(F.count(F.lit(1)).alias("c")).collect()
    )
    total = sum(c for _, c in counts)
    if total == 0:
        # empty input: create_map() of zero pairs cannot type-resolve
        # map()[pid], and (total - 1) would divide by zero — return a
        # well-typed empty result (empty-catalog robustness gate)
        return local.select(
            "s_suppkey",
            F.lit(0.0).alias("pr"),
            F.lit(0.0).alias("cd"),
        ).limit(0)
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    off_map = F.create_map(
        *[x for pid, off in offsets.items() for x in (F.lit(pid), F.lit(off))]
    )
    rk = (F.col("lrk") + F.coalesce(off_map[F.col("pid")], F.lit(0))).cast("double")
    return (
        local.select(
            "s_suppkey",
            F.round((rk - 1) / F.lit(float(total - 1)), 4).alias("pr"),
            F.round(rk / F.lit(float(total)), 4).alias("cd"),
        )
        .orderBy("s_suppkey")
    )


@register(
    "window_distribution_grouped",
    oracle="""
    SELECT s_nationkey, s_suppkey,
           round(percent_rank() OVER (PARTITION BY s_nationkey
                                      ORDER BY s_acctbal, s_suppkey), 4) AS pr,
           round(cume_dist()    OVER (PARTITION BY s_nationkey
                                      ORDER BY s_acctbal, s_suppkey), 4) AS cd,
           ntile(4)             OVER (PARTITION BY s_nationkey
                                      ORDER BY s_acctbal, s_suppkey) AS quartile
    FROM supplier
    ORDER BY s_nationkey, s_suppkey
    """,
)
def window_distribution_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution windows in their SCALE-CORRECT form: percent_rank /
    cume_dist / ntile PARTITION BY group. This is the primary API — the
    partition key hash-distributes the sort across the cluster (per-group
    local sorts after one exchange), where the global-ORDER-BY sibling
    (window_distribution, kept for the reference's B-row parity) funnels
    every row through a single-partition sort. Plan-asserted in
    tests/test_plans.py: the physical Window node sorts WITHIN hash
    partitions — no SinglePartition exchange anywhere."""
    from pyspark.sql.window import Window

    s = table(spark, sf_dir, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy("s_acctbal", "s_suppkey")
    return s.select(
        "s_nationkey",
        "s_suppkey",
        F.round(F.percent_rank().over(w), 4).alias("pr"),
        F.round(F.cume_dist().over(w), 4).alias("cd"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("s_nationkey", "s_suppkey")


# Explicit NULLS FIRST multi-key sort — always spell the null position:
# DuckDB defaults NULLS LAST on ASC, Spark NULLS FIRST (SURVEY §7 risk
# register), so implicit defaults silently diverge.
register_ansi(
    "sort_nulls_ordering",
    """
    SELECT c_custkey, nullif(c_mktsegment, 'BUILDING') AS seg
    FROM customer
    WHERE c_custkey < 100
    ORDER BY seg ASC NULLS FIRST, c_custkey DESC
    """,
)


# bool_and/bool_or (= every/any) aggregates.
register_ansi(
    "agg_bool",
    """
    SELECT o_orderstatus,
           bool_and(o_totalprice > 1000)  AS all_over_1k,
           bool_or(o_totalprice > 400000) AS any_over_400k,
           count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)


@register(
    "scalar_bitwise",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           l_linenumber & 3                 AS b_and,
           l_linenumber | 8                 AS b_or,
           xor(l_linenumber, 5)             AS b_xor,
           l_linenumber << 2                AS b_shl,
           l_linenumber >> 1                AS b_shr
    FROM lineitem
    WHERE l_orderkey < 200
    ORDER BY l_orderkey, l_linenumber
    """,
)
def scalar_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar surface (&, |, xor, shifts)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    ln = F.col("l_linenumber")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        ln.bitwiseAND(F.lit(3)).alias("b_and"),
        ln.bitwiseOR(F.lit(8)).alias("b_or"),
        ln.bitwiseXOR(F.lit(5)).alias("b_xor"),
        F.shiftleft(ln, 2).alias("b_shl"),
        F.shiftright(ln, 1).alias("b_shr"),
    ).orderBy("l_orderkey", "l_linenumber")


# Edit-distance fuzzy matching for short strings (entity resolution on
# names), blocked by nation so the pairwise Levenshtein runs inside buckets
# — the same blocked-join discipline as the embedding near-dup, since edit
# distance has no cheap LSH.
register_ansi(
    "dedup_fuzzy_names",
    """
    SELECT a.c_custkey AS key_a, b.c_custkey AS key_b,
           levenshtein(a.c_name, b.c_name) AS dist
    FROM customer a JOIN customer b
      ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 300 AND b.c_custkey < 300
      AND levenshtein(a.c_name, b.c_name) <= 2
    ORDER BY key_a, key_b
    """,
)


@register(
    "scalar_date_arith2",
    oracle="""
    SELECT o_orderkey,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)    AS month_end,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH AS TIMESTAMP)
                                                                     AS plus_3m,
           CAST(datediff('month', TIMESTAMP '1995-01-01 00:00:00',
                         o_orderdate) AS BIGINT)                     AS months_since_95,
           dayofweek(o_orderdate) + 1                                AS dow,
           weekofyear(o_orderdate)                                   AS woy
    FROM orders
    WHERE o_orderkey < 300
    ORDER BY o_orderkey
    """,
)
def scalar_date_arith2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar arithmetic: last_day, month addition, month-boundary diffs,
    day-of-week, ISO week. Dialect traps pinned here: DuckDB datediff('month')
    counts month-boundary crossings (Spark months_between is fractional — the
    boundary count is computed from year/month parts instead); DuckDB
    DATE + INTERVAL yields TIMESTAMP (cast back); DuckDB dayofweek is 0-based
    Sunday, Spark's is 1-based."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 300)
    d = F.col("o_orderdate").cast("date")
    months_since = (F.year(d) - 1995) * 12 + (F.month(d) - 1)
    return o.select(
        "o_orderkey",
        F.last_day(d).cast("timestamp").alias("month_end"),
        F.add_months(d, 3).cast("timestamp").alias("plus_3m"),
        months_since.cast("bigint").alias("months_since_95"),
        F.dayofweek(d).alias("dow"),
        F.weekofyear(d).alias("woy"),
    ).orderBy("o_orderkey")


# TRY_CAST error-safe casting: malformed strings become NULL instead of
# failing the job — at 100 TB a single bad row must never kill the query.
# (lang is never numeric → count 0; the props slice is digits for 2-digit
# k values only.)
register_ansi(
    "scalar_try_cast",
    """
    SELECT
        count(*)                                            AS n_rows,
        count(try_cast(lang AS INT))                        AS n_numeric_lang,
        count(try_cast(substr(props, 8, 2) AS INT))         AS n_k_prefix,
        CAST(sum(coalesce(try_cast(substr(props, 8, 2) AS INT), 0)) AS BIGINT)
            AS sum_k_prefix
    FROM documents d, events e
    WHERE d.doc_id = e.event_id
    """,
)


# Fixed-width histogram via floor-bucketing — one partial-aggregated
# shuffle at bucket cardinality; the building block for distribution
# profiling over any numeric column.
register_ansi(
    "agg_histogram",
    """
    SELECT CAST(floor(value / 10.0) AS BIGINT) AS bucket,
           count(*) AS n,
           round(min(value), 2) AS lo,
           round(max(value), 2) AS hi
    FROM events
    GROUP BY 1
    ORDER BY bucket
    """,
)


@register(
    "agg_array_sorted",
    oracle="""
    SELECT n_regionkey,
           array_to_string(list(n_name ORDER BY n_name), '|') AS nations_sorted,
           len(list(n_name)) AS n_nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY n_regionkey
    """,
)
def agg_array_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic array aggregation: collect_list order is
    partition-dependent in Spark, so sort_array before serializing — the only
    safe way to expose an array aggregate's value cross-engine."""
    n = table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias(
                "nations_sorted"
            ),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("n_regionkey")
    )


# Linear-regression aggregates (slope/intercept/R²) — single-pass
# algebraic moments, so they partial-aggregate map-side like sum/count.
register_ansi(
    "agg_regression",
    """
    SELECT l_returnflag,
           round(regr_slope(l_extendedprice, l_quantity), 2)     AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 2)        AS r2,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


# Tie-safe mode: native mode() tie-breaks engine-specifically (Spark
# nondeterministic, DuckDB first-encountered), so the mode is computed from
# explicit counts with max_by on (count, value) — ties resolve to the
# lexicographically largest value on both engines, deterministically.
register_ansi(
    "agg_mode",
    """
    WITH counted AS (
        SELECT o_orderpriority, o_orderstatus, count(*) AS cnt
        FROM orders GROUP BY 1, 2
    ),
    ranked AS (
        SELECT o_orderpriority, o_orderstatus, cnt,
               CAST(sum(cnt) OVER (PARTITION BY o_orderpriority) AS BIGINT) AS n,
               row_number() OVER (PARTITION BY o_orderpriority
                                  ORDER BY cnt DESC, o_orderstatus DESC) AS rk
        FROM counted
    )
    SELECT o_orderpriority, o_orderstatus AS status_mode, n
    FROM ranked WHERE rk = 1
    ORDER BY o_orderpriority
    """,
)


@register(
    "join_lateral",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_custkey < 100
    ORDER BY c.c_custkey, price DESC, t.o_orderkey
    """,
)
def join_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL join (top-2 orders per customer) — Spark 4 parses
    the same ANSI LATERAL DuckDB does; Catalyst decorrelates it to a ranked
    window join, so there is no per-row re-execution at scale. Expressed as
    SQL text over the catalog views (r7: inline parquet.` refs re-infer
    the file schema on every parse — the views resolve from the session
    catalog instead)."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
    SELECT c.c_custkey, t.o_orderkey, round(t.o_totalprice, 2) AS price
    FROM customer c,
    LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
    ) t
    WHERE c.c_custkey < 100
    ORDER BY c.c_custkey, price DESC, t.o_orderkey
    """,
    )


@register(
    "recursive_cte_months",
    oracle="""
    WITH RECURSIVE months(m) AS (
        SELECT CAST('1996-01-01' AS DATE)
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < CAST('1996-12-01' AS DATE)
    )
    SELECT CAST(m AS TIMESTAMP) AS month_start, count(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders
      ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
    GROUP BY m
    ORDER BY m
    """,
)
def recursive_cte_months(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE (Spark 4 feature parity with DuckDB): generate a month
    spine by recursion, left-join per-month order counts — the calendar-spine
    pattern that guarantees zero-count months appear. The recursion itself is
    12 rows of driver-side work; the join is the only distributed step."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
    WITH RECURSIVE months(m) AS (
        SELECT CAST('1996-01-01' AS DATE)
        UNION ALL
        SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
        WHERE m < CAST('1996-12-01' AS DATE)
    )
    SELECT CAST(m AS TIMESTAMP) AS month_start, count(o_orderkey) AS n_orders
    FROM months LEFT JOIN orders
      ON date_trunc('month', o_orderdate) = CAST(m AS TIMESTAMP)
    GROUP BY m
    ORDER BY m
    """,
    )


@register(
    "dq_integrity_checks",
    oracle="""
    SELECT
        (SELECT count(*) FROM lineitem WHERE l_orderkey IS NULL)      AS null_orderkeys,
        (SELECT count(*) FROM (SELECT l_orderkey, l_linenumber FROM lineitem
                               GROUP BY 1, 2 HAVING count(*) > 1))    AS dup_line_ids,
        (SELECT count(*) FROM lineitem l LEFT JOIN orders o
           ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) AS orphan_lines,
        (SELECT count(*) FROM orders o LEFT JOIN customer c
           ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL)    AS orphan_orders,
        (SELECT count(*) FROM customer c LEFT JOIN nation n
           ON c.c_nationkey = n.n_nationkey
           WHERE n.n_nationkey IS NULL)                               AS orphan_customers
    """,
)
def dq_integrity_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate: NULL-key, duplicate-key, and referential-integrity
    violation counts across the star schema — the checks a pipeline runs
    before publishing a snapshot. Each probe is an independent aggregate;
    the FK checks are anti-join counts (broadcast when the parent side is a
    dimension). All-zero on the driver data; non-zero values localize the
    broken edge.

    The five probes assemble as 1-row aggregates cross-joined into ONE
    plan (the census-scalars pattern), not five driver-side .count()
    round-trips: one action instead of five job floors + Py4J hops, and
    nothing is collected (r8; 0.86 s → one job)."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    n = table(spark, sf_dir, "nation")

    def cnt(df: DataFrame, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias(name))

    # r11 (guide §2.3): the lineitem→orders FK probe shuffled the 6 M-row
    # fact table into the anti-join. The violation COUNT only needs per-key
    # line counts, so the (l_orderkey, l_linenumber) group frame (already
    # computed for the duplicate check — its exchange is REUSED) rolls up
    # to (l_orderkey, n_lines) and the anti-join moves |orders|-sized keys
    # + counts instead of fact rows; orphan lines = sum(n_lines). NULL keys
    # never match an anti-join probe on either engine, so they count as
    # orphans exactly as the oracle's LEFT JOIN ... IS NULL does.
    line_ids = li.groupBy("l_orderkey", "l_linenumber").count()
    per_order = line_ids.groupBy("l_orderkey").agg(
        F.sum("count").alias("n_lines")
    )
    return (
        cnt(li.filter(F.col("l_orderkey").isNull()), "null_orderkeys")
        .crossJoin(
            cnt(line_ids.filter(F.col("count") > 1), "dup_line_ids")
        )
        .crossJoin(
            per_order.join(o, per_order.l_orderkey == o.o_orderkey, "left_anti").agg(
                F.coalesce(F.sum("n_lines"), F.lit(0)).cast("bigint").alias(
                    "orphan_lines"
                )
            )
        )
        .crossJoin(
            cnt(o.join(c, o.o_custkey == c.c_custkey, "left_anti"), "orphan_orders")
        )
        .crossJoin(
            cnt(
                c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey, "left_anti"),
                "orphan_customers",
            )
        )
    )


# Distribution-shape moments (population skewness g1, population
# variance) computed from explicit power sums on BOTH engines: the native
# skewness()/kurtosis() use different estimators per engine (sample G1 in
# DuckDB, population g1 in Spark), so cross-engine parity needs the
# formula spelled out. Power sums are single-pass algebraic — map-side
# partial aggregation like any sum.
register_ansi(
    "agg_moments",
    """
    SELECT l_returnflag,
           round((avg(l_quantity * l_quantity * l_quantity)
                  - 3 * avg(l_quantity) * avg(l_quantity * l_quantity)
                  + 2 * avg(l_quantity) * avg(l_quantity) * avg(l_quantity))
                 / power(avg(l_quantity * l_quantity) - avg(l_quantity) * avg(l_quantity), 1.5),
                 2) + 0.0 AS skew_g1,
           round(avg(l_quantity * l_quantity) - avg(l_quantity) * avg(l_quantity), 2)
               + 0.0 AS variance_pop
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


@register(
    "scalar_string_funcs2",
    oracle="""
    SELECT c_custkey,
           lpad(CAST(c_custkey AS VARCHAR), 8, '0')        AS padded_key,
           repeat('*', c_nationkey % 5)                    AS stars,
           reverse(c_mktsegment)                           AS seg_rev,
           translate(c_mktsegment, 'AEIOU', 'aeiou')       AS seg_lowvowel,
           left(c_name, 8)                                 AS name_prefix,
           right(c_name, 3)                                AS name_suffix,
           CAST(instr(c_name, '0') AS BIGINT)              AS first_zero_pos
    FROM customer
    WHERE c_custkey < 200
    ORDER BY c_custkey
    """,
)
def scalar_string_funcs2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second string-function batch: pad/repeat/reverse/translate/left/right/
    instr — same names and semantics on both engines."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 200)
    return c.select(
        "c_custkey",
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
        F.repeat(F.lit("*"), (F.col("c_nationkey") % 5)).alias("stars"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.translate("c_mktsegment", "AEIOU", "aeiou").alias("seg_lowvowel"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.substring("c_name", -3, 3).alias("name_suffix"),
        F.instr("c_name", "0").cast("bigint").alias("first_zero_pos"),
    ).orderBy("c_custkey")


@register(
    "window_qualify",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_totalprice DESC, o_orderkey) AS rk
    FROM orders
    QUALIFY rk <= 2
    ORDER BY o_custkey, rk
    """,
)
def window_qualify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB's QUALIFY clause (top-2 orders per customer): Spark has no
    QUALIFY keyword — the canonical rewrite is a filter over the ranking
    window, which Catalyst plans identically (rank then filter, and the
    rk<=2 predicate enables window top-k pushdown via
    WindowGroupLimit)."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rk"),
        )
        .filter(F.col("rk") <= 2)
        .orderBy("o_custkey", "rk")
    )


@register(
    "agg_group_by_all",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n_orders,
           round(sum(o_totalprice), 2) AS revenue
    FROM orders
    GROUP BY ALL
    ORDER BY ALL
    """,
)
def agg_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL / ORDER BY ALL (DuckDB-pioneered sugar, adopted by Spark
    4's SQL dialect) — run through spark.sql on a temp view to exercise the
    actual SQL-surface parity, not a DataFrame rewrite."""
    table(spark, sf_dir, "orders").createOrReplaceTempView("dfs_orders_gba")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               count(*) AS n_orders,
               round(sum(o_totalprice), 2) AS revenue
        FROM dfs_orders_gba
        GROUP BY ALL
        ORDER BY ALL
        """
    )


def approx_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Raw sketch-vs-exact comparison frame (shared by the registry query
    and tests/test_approx.py's raw-error pinning).

    The exact reference values aggregate SEPARATELY and join back on the
    group key: mixing countDistinct with sketch aggregates in one agg makes
    Spark's one-distinct rewrite key the partial aggregate by
    (group, distinct value), i.e. one quantile-sketch buffer PER DISTINCT
    KEY (~150k sketches at sf0.1 — measured 23 s combined vs 0.8 s split).
    r11: the EXACT leg had the same trap in miniature — countDistinct +
    percentile() in one agg keys the percentile's O(ndv) value buffer by
    (group, l_orderkey), one buffer per distinct order. Split into three
    legs (sketches / exact distinct / exact percentile) joined on the
    ≤|groups|-row key: 2.3 s → ~1.3 s at sf0.1, same rows."""
    li = table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey").alias("approx_orders"),
        F.percentile_approx("l_extendedprice", 0.5, 10_000).alias("approx_p50"),
    )
    exact_nd = li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("exact_orders"),
    )
    exact_p50 = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("exact_p50_raw"),
    )
    return (
        approx.join(exact_nd, "l_returnflag")
        .join(exact_p50, "l_returnflag")
        .select(
            "l_returnflag",
            "approx_orders",
            "exact_orders",
            "approx_p50",
            F.round("exact_p50_raw", 2).alias("exact_p50"),
            "exact_p50_raw",
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_approx_sketch",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_orderkey) AS exact_orders,
           true AS hll_in_envelope,
           CAST(floor(median(l_extendedprice) * 1000 + 0.5) AS BIGINT) AS exact_p50_mil,
           true AS p50_in_envelope
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_approx_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate aggregates for 100 TB interactive profiling:
    approx_count_distinct (HyperLogLog++) and approx_percentile (t-digest
    style quantile sketch). Both sketches are mergeable, so they partial-
    aggregate map-side and shuffle O(sketch) bytes per group instead of
    O(distinct values) — the whole point at scale.

    r6: upgraded from rows-only to a CERTIFIED hash oracle. Raw estimates
    are engine-specific by design (Spark HLL++ vs DuckDB's sketch), so the
    query emits the EXACT values (hash-checked against DuckDB) plus
    booleans certifying each sketch landed inside its error envelope
    (HLL ≤ max(15 %, 2 abs) at default rsd 5 %; p50 ≤ 5 % at accuracy
    10 k — the same envelopes tests/test_approx.py pins on the raw
    values). An out-of-envelope sketch now FAILS the driver's hash gate
    instead of passing a rows-only count."""
    cmp = approx_vs_exact(spark, sf_dir)
    # exact_p50 emits in exact MILLI-units: an even-count median is the mean
    # of two 2-dp values (2.5 dp exact), and round(x, 2) sits exactly on the
    # .005 boundary where the engines' doubles can land a hair apart —
    # floor(x*1000 + 0.5) is integer-exact and boundary-free on both sides
    return cmp.select(
        "l_returnflag",
        "exact_orders",
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= F.greatest(0.15 * F.col("exact_orders"), F.lit(2.0))
        ).alias("hll_in_envelope"),
        F.floor(F.col("exact_p50_raw") * 1000 + F.lit(0.5))
        .cast("bigint")
        .alias("exact_p50_mil"),
        (
            F.abs(F.col("approx_p50") - F.col("exact_p50"))
            <= 0.05 * F.col("exact_p50")
        ).alias("p50_in_envelope"),
    ).orderBy("l_returnflag")


@register(
    "distinct_on_latest",
    oracle="""
    SELECT DISTINCT ON (o_custkey)
           o_custkey, o_orderkey, o_orderdate, round(o_totalprice, 2) AS total
    FROM orders
    ORDER BY o_custkey, o_orderdate DESC, o_orderkey DESC
    """,
)
def distinct_on_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB `SELECT DISTINCT ON (k) ... ORDER BY k, v DESC` parity — each
    customer's latest order (orderkey breaks date ties, so the pick is
    total-order deterministic). Spark form: row_number over the per-key
    window, keep rank 1 — one shuffle on the key, and Catalyst plans a
    WindowGroupLimit (per-partition top-1 pre-filter before the shuffle)
    rather than a full per-key sort-materialize."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT o_custkey, o_orderkey, o_orderdate,
               round(o_totalprice, 2) AS total
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY o_custkey
                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
              FROM orders)
        WHERE rn = 1
        ORDER BY o_custkey
        """,
    )


@register(
    "array_lambda_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(list_sum(list_transform(range(1, l_linenumber + 1), x -> x * x))
                AS BIGINT) AS sum_squares,
           len(list_filter(range(1, l_linenumber + 1), x -> x % 2 = 0))
               AS n_even,
           len(list_filter(range(1, l_linenumber + 1), x -> x > 3)) > 0
               AS has_gt3
    FROM lineitem WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def array_lambda_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas — transform, filter, exists — the LIST
    manipulation surface (complements array_funcs' aggregate/contains;
    reference declares LIST but cannot materialize it,
    translation_utils.cpp:36-37). All JVM-side codegen'd expressions: no
    UDF, no Python in the hot path. DuckDB's range(a, b) is end-exclusive
    like Spark's sequence(a, b - 1); both sides build [1..l_linenumber]."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    seq = F.sequence(F.lit(1), F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.aggregate(
            F.transform(seq, lambda x: x * x),
            F.lit(0).cast("bigint"),
            lambda a, x: a + x,
        ).alias("sum_squares"),
        F.size(F.filter(seq, lambda x: x % 2 == 0)).alias("n_even"),
        F.exists(seq, lambda x: x > 3).alias("has_gt3"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "scan_star_modifiers",
    oracle="""
    SELECT * EXCLUDE (c_mktsegment)
             REPLACE (upper(c_name) AS c_name,
                      CAST(round(c_acctbal * 100, 0) AS BIGINT) AS c_acctbal)
    FROM customer WHERE c_custkey % 37 = 0
    """,
)
def scan_star_modifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB star modifiers: SELECT * EXCLUDE (col) REPLACE (expr AS col).
    Spark's `* EXCEPT (col)` covers EXCLUDE; REPLACE maps to in-place
    withColumn (projection stays a pure column-pruned scan — no extra
    pass). acctbal emitted as integer cents for hash stability."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") % 37 == 0)
    return (
        c.drop("c_mktsegment")
        .withColumn("c_name", F.upper("c_name"))
        .withColumn(
            "c_acctbal", F.round(F.col("c_acctbal") * 100, 0).cast("bigint")
        )
    )


@register(
    "join_positional",
    oracle="""
    SELECT l.n_name, r.r_name
    FROM (SELECT n_name FROM nation) l
    POSITIONAL JOIN (SELECT r_name FROM region) r
    """,
)
def join_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB POSITIONAL JOIN (row N pairs with row N; shorter side padded
    with NULLs) — reproduced with the A9 virtual row-position column:
    `_metadata.row_index` is the absolute row offset in the parquet file
    (the same physical order DuckDB's scan yields), full-outer-joined on
    position. Scale note: positional semantics only exist relative to a
    stable file order, so the join keys on (file order) metadata, never on
    a nondeterministic monotonically_increasing_id."""
    sf = sf_dir.rstrip("/")
    n = (
        spark.read.parquet(f"{sf}/nation.parquet")
        .select("n_name", F.col("_metadata.row_index").alias("pos"))
    )
    r = (
        spark.read.parquet(f"{sf}/region.parquet")
        .select("r_name", F.col("_metadata.row_index").alias("pos"))
    )
    return n.join(r, "pos", "full").select("n_name", "r_name")


@register(
    "setop_union_by_name",
    oracle="""
    SELECT n_nationkey AS k, n_name AS nm, n_regionkey AS extra FROM nation
    UNION ALL BY NAME
    SELECT r_name AS nm, r_regionkey AS k FROM region
    """,
)
def setop_union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB UNION ALL BY NAME (columns matched by name, missing columns
    NULL-filled) = Spark unionByName(allowMissingColumns=True) — the same
    semantics `read_fls(union_by_name := true)` applies across files (A2,
    /root/reference/src/reader/fls_multi_file_info.cpp:70-82)."""
    n = table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("nm"),
        F.col("n_regionkey").alias("extra"),
    )
    r = table(spark, sf_dir, "region").select(
        F.col("r_name").alias("nm"), F.col("r_regionkey").alias("k")
    )
    return n.unionByName(r, allowMissingColumns=True)


@register(
    "scan_columns_expression",
    oracle="""
    SELECT round(min(COLUMNS('l_.*(price|discount|tax)')), 2)
    FROM lineitem
    """,
)
def scan_columns_expression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB COLUMNS('regex') star expression — one aggregate applied to
    every column whose name matches a pattern. The Spark idiom is the same
    thing made explicit: match the pattern against df.columns driver-side
    and build the aggregate list programmatically; the resulting plan is a
    single wide aggregate, identical to DuckDB's expansion. DuckDB's
    COLUMNS('regex') does PARTIAL (re.search) matching — COLUMNS('price')
    selects l_extendedprice — so the Python side mirrors that, not an
    anchored fullmatch."""
    import re

    li = table(spark, sf_dir, "lineitem")
    cols = [c for c in li.columns if re.search(r"l_.*(price|discount|tax)", c)]
    return li.agg(*[F.round(F.min(c), 2).alias(c) for c in cols])


@register(
    "scan_generate_series",
    oracle="""
    SELECT i, i * i AS sq, i % 5 AS bucket
    FROM generate_series(1, 997, 7) t(i)
    """,
)
def scan_generate_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """generate_series as a table function (B9): DuckDB's inclusive
    generate_series(1, 997, 7) = spark.range(1, 998, 7) (end-exclusive),
    both BIGINT. Series generation is a leaf the planner parallelizes by
    slicing the range — no data movement at any length."""
    r = spark.range(1, 998, 7).withColumnRenamed("id", "i")
    return r.select(
        "i", (F.col("i") * F.col("i")).alias("sq"), (F.col("i") % 5).alias("bucket")
    )
