"""Aggregation operators (SURVEY.md §2.C Aggregation row).

DuckDB v1.3.2 surface: GROUPING SETS/CUBE/ROLLUP, FILTER (WHERE), arg_min/arg_max,
list()/string_agg — all public knowledge (vendored engine). Spark maps 1:1:
cube/rollup/groupingSets, conditional agg, max_by/min_by, collect_list/concat_ws.

Scale notes: cube/rollup expand each input row into #grouping-sets rows *after*
partial aggregation in Spark (Expand below the first agg) — the shuffle carries
group tuples, not raw rows. string_agg needs a deterministic element order →
sort_array before joining, so results are order-stable under any partitioning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi


@register(
    "agg_rollup",
    oracle="""
    SELECT
        coalesce(l_returnflag, 'ALL') AS returnflag,
        coalesce(l_linestatus, 'ALL') AS linestatus,
        count(*) AS n,
        round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY returnflag, linestatus
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) with grand total; NULL grouping
    slots coalesced to 'ALL' so both engines hash identically (data is NOT NULL
    so no ambiguity with real NULL keys).

    r9: expressed as pre-aggregate CTE + explicit grouping-sets leg + a plain
    global-aggregate grand-total leg. Spark's native ROLLUP emits NO rows over
    empty input while the ANSI (and DuckDB) semantics emit the grand-total
    ``()`` grouping-set row; a plain global aggregate yields its one row on
    empty input in BOTH engines, closing the CORRECTNESS_EMPTY divergence.
    Scale shape: lineitem is scanned and partially aggregated ONCE into the
    tiny (flag, status) group frame; both legs re-aggregate that frame (Spark
    reuses the exchange), so the 100 TB scan cost is unchanged vs ROLLUP."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_small

    return ordered_small(
        sql_q(
            spark,
            sf_dir,
            """
            WITH g AS (
                SELECT l_returnflag AS rf, l_linestatus AS ls,
                       count(1) AS n, sum(l_quantity) AS s
                FROM lineitem
                GROUP BY l_returnflag, l_linestatus
            )
            SELECT coalesce(rf, 'ALL') AS returnflag,
                   coalesce(ls, 'ALL') AS linestatus,
                   sum(n) AS n,
                   round(sum(s), 2) AS sum_qty
            FROM g
            GROUP BY GROUPING SETS ((rf, ls), (rf))
            UNION ALL
            SELECT 'ALL' AS returnflag, 'ALL' AS linestatus,
                   coalesce(sum(n), 0) AS n,
                   round(sum(s), 2) AS sum_qty
            FROM g
            """,
        ),
        "returnflag",
        "linestatus",
    )


@register(
    "agg_cube",
    oracle="""
    SELECT
        coalesce(o_orderstatus, 'ALL')   AS status,
        coalesce(o_orderpriority, 'ALL') AS priority,
        count(*) AS n,
        round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    ORDER BY status, priority
    """,
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (status, priority) — all 4 grouping sets.

    r9: the Spark body is no longer the oracle text — Spark's native CUBE
    emits NO grand-total row over empty input where ANSI/DuckDB emit one,
    so the Spark side is now a pre-aggregate CTE + the three grouped
    grouping-sets + a plain global-aggregate leg (one row on empty input in
    both engines). avg is decomposed as sum/count over the pre-aggregate so
    every leg reads the tiny (status, priority) group frame; orders is
    scanned once."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_small

    return ordered_small(
        sql_q(
            spark,
            sf_dir,
            """
            WITH g AS (
                SELECT o_orderstatus AS st, o_orderpriority AS pr,
                       count(1) AS n, sum(o_totalprice) AS s
                FROM orders
                GROUP BY o_orderstatus, o_orderpriority
            )
            SELECT coalesce(st, 'ALL') AS status,
                   coalesce(pr, 'ALL') AS priority,
                   sum(n) AS n,
                   round(sum(s) / sum(n), 2) AS avg_price
            FROM g
            GROUP BY GROUPING SETS ((st, pr), (st), (pr))
            UNION ALL
            SELECT 'ALL' AS status, 'ALL' AS priority,
                   coalesce(sum(n), 0) AS n,
                   round(sum(s) / sum(n), 2) AS avg_price
            FROM g
            """,
        ),
        "status",
        "priority",
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT
        coalesce(l_returnflag, 'ALL') AS returnflag,
        coalesce(l_linestatus, 'ALL') AS linestatus,
        count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    ORDER BY returnflag, linestatus
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — per-flag and per-status marginals only."""
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT
            coalesce(l_returnflag, 'ALL') AS returnflag,
            coalesce(l_linestatus, 'ALL') AS linestatus,
            count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        ORDER BY returnflag, linestatus
        """
    )


# FILTER (WHERE ...) conditional aggregation — Spark supports the same
# syntax via expr(); stays in whole-stage codegen.
register_ansi(
    "agg_filtered",
    """
    SELECT
        l_returnflag,
        count(*) FILTER (WHERE l_quantity > 25)                 AS n_bulk,
        round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2) AS discounted_rev,
        count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


@register(
    "agg_max_by",
    oracle="""
    SELECT
        o_orderstatus,
        (max(struct_pack(p := o_totalprice, k := o_orderkey))).k AS top_order,
        (min(struct_pack(p := o_totalprice, k := o_orderkey))).k AS bottom_order,
        round(max(o_totalprice), 2)      AS max_price
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def agg_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arg_min/arg_max (DuckDB) = max_by/min_by (Spark), made tie-
    deterministic: a bare max_by(key, price) picks an ARBITRARY key among
    price ties — invisible on the raw corpus where prices are near-unique,
    but the 100x replicated cell duplicates every price and the engines
    picked different keys. Both sides aggregate the lexicographic extremum
    of (price, key) — same single-pass arg-extremum plan, deterministic at
    any scale."""
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.max(F.struct(F.col("o_totalprice").alias("p"),
                           F.col("o_orderkey").alias("k")))["k"].alias("top_order"),
            F.min(F.struct(F.col("o_totalprice").alias("p"),
                           F.col("o_orderkey").alias("k")))["k"].alias("bottom_order"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


@register(
    "agg_string_agg",
    oracle="""
    SELECT
        n_regionkey AS regionkey,
        string_agg(n_name, ',' ORDER BY n_name) AS nations
    FROM nation
    GROUP BY n_regionkey
    ORDER BY regionkey
    """,
)
def agg_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string_agg / list() → collect_list + sort_array + concat_ws (element
    order pinned so the result is partitioning-independent)."""
    n = table(spark, sf_dir, "nation")
    return (
        n.groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(F.concat_ws(",", F.sort_array(F.collect_list("n_name"))).alias("nations"))
        .orderBy("regionkey")
    )


# Statistical aggregates (stddev/variance/corr/median) — DuckDB ordered-set
# family (SURVEY §2.C); Spark has native equivalents (median since 3.4).
register_ansi(
    "agg_stats",
    """
    SELECT
        l_returnflag,
        round(stddev_samp(l_extendedprice), 2) AS sd_price,
        round(var_samp(l_quantity), 2)         AS var_qty,
        round(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
        round(median(l_quantity), 2)           AS median_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
        SELECT l_returnflag,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(l_quantity AS BIGINT)                   AS qty,
               l_orderkey, l_linenumber
        FROM lineitem),
    cum AS (
        SELECT l_returnflag, price_c, qty,
               CAST(sum(qty) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY price_c, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw,
               CAST(sum(qty) OVER (PARTITION BY l_returnflag) AS BIGINT)
                 AS totw
        FROM w)
    SELECT l_returnflag,
           CAST(max(totw) AS BIGINT) AS total_weight,
           round(min(CASE WHEN 2 * cumw >= totw THEN price_c END)
                 / CAST(100 AS DOUBLE), 2) AS weighted_median_price
    FROM cum
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted median: the price at which half of all SHIPPED QUANTITY sits
    below — the inventory-weighted center a plain median (agg_stats) cannot
    express. Lower weighted median by the standard cumulative-weight rule:
    the first price (in a total order) whose running weight reaches half
    the group total.

    Determinism: prices snap to exact integer cents, weights are exact
    BIGINTs, the running sum rides a (price, orderkey, linenumber) total
    order, and the selection (min over a threshold predicate of integers)
    is order-independent — no float accumulation anywhere.

    Scale shape: the corpus first collapses to a (group, price) HISTOGRAM
    with map-side combine — the weighted median depends only on per-price
    aggregated weights, so the tie-break columns are unnecessary — and
    the cumulative window then runs over distinct prices, not rows. With
    3 return flags the window has only 3 active tasks, so shrinking its
    input is the whole game: a measured A/B at the 100x cell read 12.6 s
    (per-row window) vs 2.2 s (histogram) — 6 M rows collapse to ~580 k
    distinct prices and the heavy lifting happens in the fully parallel
    pre-aggregate. The DuckDB oracle keeps the per-row tie-broken
    formulation as an independent derivation of the same statistic."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_checkpointed

    df = sql_q(
        spark,
        sf_dir,
        """
        WITH w AS (
            SELECT l_returnflag,
                   CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
                   CAST(l_quantity AS BIGINT)                   AS qty
            FROM lineitem),
        hist AS (
            SELECT l_returnflag, price_c, sum(qty) AS wsum
            FROM w GROUP BY l_returnflag, price_c),
        -- r11 (guide §2.4): group totals as a 3-row aggregate JOINED back
        -- instead of a second window — the unbounded-both-ways frame made
        -- WindowExec buffer every group's full histogram per row batch;
        -- the ordered cumulative window below is untouched
        tot AS (
            SELECT l_returnflag, sum(wsum) AS totw FROM hist GROUP BY l_returnflag),
        cum AS (
            SELECT h.l_returnflag, h.price_c, t.totw,
                   sum(h.wsum) OVER (
                       PARTITION BY h.l_returnflag ORDER BY h.price_c
                       ROWS UNBOUNDED PRECEDING) AS cumw
            FROM hist h JOIN tot t ON t.l_returnflag = h.l_returnflag)
        SELECT l_returnflag,
               max(totw) AS total_weight,
               round(min(CASE WHEN 2 * cumw >= totw THEN price_c END)
                     / CAST(100 AS DOUBLE), 2) AS weighted_median_price
        FROM cum
        GROUP BY l_returnflag
        """,
    )
    # r12 (guide §2.4, tools/sort_resample_audit.py): the final ORDER BY
    # sampled its child — re-running the cumulative window + final
    # aggregate over the full histogram once per query. Checkpoint the
    # 3-row result, then sort it.
    return ordered_checkpointed(df, "l_returnflag")
