"""Warehouse-maintenance operators: SCD2 dimension builds, CDC snapshot
diffs, equal-frequency binning, runtime-prefiltered joins, and feature
scaling.

These complete the "capabilities a user of the reference's embedded engine
has" list (SURVEY.md §2.C — embedded DuckDB v1.3.2 surface, public
knowledge): each is a standard DuckDB/warehouse recipe (windowed SCD2,
full-outer diff, ntile binning) re-expressed Spark-first, plus the
runtime-filter join pattern Spark itself applies at scale
(spark.sql.optimizer.runtime.bloomFilter.enabled).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi


# Slowly-changing-dimension type 2 build: collapse each user's event
# stream into versioned state rows with [eff_from, eff_to) validity ranges
# and an is_current flag — the standard dimension-table maintenance
# pattern. Two windows over the same (user_id, time) partitioning: change
# detection via lag, range closing via lead — one shuffle on user_id,
# both windows reuse it. Scale shape: partitions by user (no global
# window), so 100 TB of events with bounded per-user history streams
# through without skew; eff_from ties are broken by event_id in the
# change-detection window.
register_ansi(
    "dim_scd2_user_state",
    """
    WITH ordered AS (
        SELECT user_id, event_type, ts,
               lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   AS prev_type
        FROM events WHERE user_id < 100
    ),
    changes AS (
        SELECT user_id, event_type AS state, ts AS eff_from
        FROM ordered
        WHERE prev_type IS NULL OR event_type <> prev_type
    )
    SELECT user_id, state, eff_from,
           lead(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from)
               AS eff_to,
           lead(eff_from) OVER (PARTITION BY user_id ORDER BY eff_from) IS NULL
               AS is_current
    FROM changes
    ORDER BY user_id, eff_from
    """,
)


@register(
    "cdc_snapshot_diff",
    oracle="""
    WITH snap_a AS (
        SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 97 <> 0
    ),
    snap_b AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM orders WHERE o_orderkey % 89 <> 0
    )
    SELECT change_type, count(*) AS n,
           min(k) AS min_key, max(k) AS max_key
    FROM (
        SELECT CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                    WHEN b.o_orderkey IS NULL THEN 'delete'
                    ELSE 'update' END AS change_type,
               coalesce(a.o_orderkey, b.o_orderkey) AS k
        FROM snap_a a FULL OUTER JOIN snap_b b USING (o_orderkey)
        WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL
           OR a.o_totalprice <> b.o_totalprice
    )
    GROUP BY change_type ORDER BY change_type
    """,
)
def cdc_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture by snapshot diff: full-outer join two table
    versions on the business key and classify every row as insert / delete /
    update (unchanged rows drop out) — how a pipeline without a transaction
    log derives a changelog from periodic snapshots. The two snapshots here
    are derived deterministically from orders (drop key%97 rows vs drop
    key%89 and bump price on key%13) so both engines diff identical inputs.
    Scale shape: one co-partitioned shuffle on the key; AQE handles the
    near-equal snapshot sizes; the classification is row-local."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH snap_a AS (
            SELECT o_orderkey, o_totalprice AS price_a
            FROM orders WHERE o_orderkey % 97 <> 0),
        snap_b AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 13 = 0 THEN o_totalprice + 10
                        ELSE o_totalprice END AS price_b
            FROM orders WHERE o_orderkey % 89 <> 0),
        diff AS (
            SELECT o_orderkey AS k,
                   CASE WHEN price_a IS NULL THEN 'insert'
                        WHEN price_b IS NULL THEN 'delete'
                        ELSE 'update' END AS change_type
            FROM snap_a FULL OUTER JOIN snap_b USING (o_orderkey)
            WHERE price_a IS NULL OR price_b IS NULL OR price_a <> price_b)
        SELECT change_type, count(1) AS n,
               min(k) AS min_key, max(k) AS max_key
        FROM diff
        GROUP BY change_type
        ORDER BY change_type
        """,
    )


# Equal-frequency discretization: ntile(10) over the price order gives
# ten buckets of (near-)equal row count with their value ranges — the
# feature-prep binning a training pipeline applies to heavy-tailed
# numerics (where equal-WIDTH bins put 99% of rows in bin 1; compare
# agg_histogram). Ties broken by key so both engines assign identically.
# Scale note: a global ntile funnels through one window partition; at
# 100 TB the same output comes from approx_percentile boundaries + a
# row-local range assignment (agg_percentiles has the boundary half) —
# this operator keeps the exact-semantics variant the oracle can check.
register_ansi(
    "binning_equal_frequency",
    """
    SELECT bucket, count(*) AS n,
           round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi
    FROM (
        SELECT o_totalprice,
               ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        FROM orders
    )
    GROUP BY bucket ORDER BY bucket
    """,
)


@register(
    "join_bloom_prefilter",
    oracle="""
    SELECT o.o_orderpriority, count(*) AS n,
           CAST(round(sum(o.o_totalprice) * 100) AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority
    """,
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join: before shuffling the fact side, probe rows are
    prefiltered by an approximate membership set built from the dimension's
    join keys (hash buckets, i.e. a 1-hash bloom filter), then the exact
    semi-join removes the false positives — so the result equals the plain
    join and the oracle checks that equality. This is the pattern behind
    Spark's own runtime bloom filters
    (spark.sql.optimizer.runtime.bloomFilter.enabled): at 100 TB the
    broadcast bitmap drops most fact rows BEFORE the shuffle that the join
    would otherwise pay for. Both membership structures broadcast; no added
    shuffle."""
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    keys = cust.select("c_custkey")
    buckets = keys.select(
        F.pmod(F.xxhash64("c_custkey"), F.lit(8192)).alias("bkt")
    ).distinct()
    o = table(spark, sf_dir, "orders").withColumn(
        "bkt", F.pmod(F.xxhash64("o_custkey"), F.lit(8192))
    )
    prefiltered = o.join(F.broadcast(buckets), "bkt", "left_semi")
    exact = prefiltered.join(
        F.broadcast(keys),
        prefiltered.o_custkey == keys.c_custkey,
        "left_semi",
    )
    return (
        exact.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice") * 100)
            .cast("bigint")
            .alias("revenue_cents"),
        )
        .orderBy("o_orderpriority")
    )


# Feature scaling audit: per-group z-score of quantity (vs global
# mean/std) and min-max-scaled price — the normalization a feature
# pipeline applies before training, verified groupwise so rounding stays
# off knife-edges. Spark shape: the 1-row global-stats aggregate
# broadcast-joins onto the per-group aggregate — two map-side-combined
# aggs, no global window, scale-indifferent.
register_ansi(
    "feature_scale_stats",
    """
    WITH g AS (
        SELECT avg(l_quantity) AS mq, stddev_samp(l_quantity) AS sq,
               min(l_extendedprice) AS lop, max(l_extendedprice) AS hip
        FROM lineitem
    )
    SELECT l_returnflag,
           round((avg(l_quantity) - any_value(g.mq)) / any_value(g.sq), 2)
               + 0.0 AS qty_z,
           round((avg(l_extendedprice) - any_value(g.lop))
                 / (any_value(g.hip) - any_value(g.lop)), 2) + 0.0 AS price_minmax
    FROM lineitem CROSS JOIN g
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)


@register(
    "binning_by_quantile_boundaries",
    oracle="""
    WITH b AS (
        SELECT quantile_cont(o_totalprice,
                             [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9])
               AS bnds
        FROM orders
    )
    SELECT 1 + len(list_filter(b.bnds, x -> o_totalprice > x)) AS bucket,
           count(*) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM orders CROSS JOIN b
    GROUP BY 1 ORDER BY 1
    """,
)
def binning_by_quantile_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB-shaped variant of binning_equal_frequency: compute the nine
    decile boundaries once (one aggregate), broadcast the 9-element array,
    and assign each row a bucket with a row-local filter-count — no global
    window, no sort of the fact table. Exact `percentile` keeps the result
    oracle-checkable; swapping in approx_percentile changes nothing
    downstream (the documented approximation at extreme scale). Boundary
    arithmetic is safe to hash: interpolated boundaries land strictly
    between data values except when they ARE a data value, and both engines
    then produce it exactly."""
    o = table(spark, sf_dir, "orders")
    b = o.agg(
        F.expr(
            "percentile(o_totalprice,"
            " array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))"
        ).alias("bnds")
    )
    return (
        o.crossJoin(F.broadcast(b))
        .select(
            "o_totalprice",
            (
                1 + F.size(F.filter("bnds", lambda x: F.col("o_totalprice") > x))
            ).alias("bucket"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


@register(
    "orders_duplicate_invoices",
    oracle="""
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
           a.o_custkey AS custkey,
           abs(datediff('day', a.o_orderdate, b.o_orderdate)) AS days_apart,
           round(abs(a.o_totalprice - b.o_totalprice)
                 / greatest(a.o_totalprice, b.o_totalprice), 4) AS price_gap
    FROM orders a JOIN orders b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND abs(datediff('day', a.o_orderdate, b.o_orderdate)) <= 30
     AND abs(a.o_totalprice - b.o_totalprice)
         / greatest(a.o_totalprice, b.o_totalprice) <= 0.1
    ORDER BY key_a, key_b
    """,
)
def orders_duplicate_invoices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suspected-duplicate-invoice detection: same customer, order dates
    within 30 days, totals within 10% — the fuzzy business-dedup a finance
    pipeline runs (dedup_fuzzy_names' numeric/temporal sibling). Spark
    shape: equi-join on the customer key does the heavy partitioning; the
    band predicates evaluate inside the join — pair cost is per-customer
    O(orders²) with small per-customer counts, which is why this scales
    where an unkeyed band join would not."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b,
               a.o_custkey AS custkey,
               abs(datediff(a.o_orderdate, b.o_orderdate)) AS days_apart,
               round(abs(a.o_totalprice - b.o_totalprice)
                     / greatest(a.o_totalprice, b.o_totalprice), 4)
                 AS price_gap
        FROM orders a JOIN orders b
          ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
             AND abs(datediff(a.o_orderdate, b.o_orderdate)) <= 30
             AND abs(a.o_totalprice - b.o_totalprice)
                 / greatest(a.o_totalprice, b.o_totalprice) <= 0.1D
        ORDER BY key_a, key_b
        """,
    )


@register(
    "dq_expectations_suite",
    oracle="""
    SELECT 'not_null(o_orderkey)' AS rule,
           count(*) FILTER (WHERE o_orderkey IS NULL) AS n_failed FROM orders
    UNION ALL
    SELECT 'unique(o_orderkey)',
           count(*) - count(DISTINCT o_orderkey) FROM orders
    UNION ALL
    SELECT 'in_set(o_orderstatus)',
           count(*) FILTER (WHERE o_orderstatus NOT IN ('F', 'O', 'P'))
    FROM orders
    UNION ALL
    SELECT 'between(o_totalprice,0,10000000.0)',
           count(*) FILTER (WHERE o_totalprice NOT BETWEEN 0 AND 10000000.0)
    FROM orders
    UNION ALL
    SELECT 'matches(o_orderpriority)',
           count(*) FILTER (WHERE NOT regexp_matches(o_orderpriority,
                                                     '^[1-5]-[A-Z ]+$'))
    FROM orders
    """,
)
def dq_expectations_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations suite (functions.expectations): five typed
    rules — not-null, uniqueness, set membership, numeric range, regex
    shape — compiled into one fused aggregate pass plus one grouped pass
    for uniqueness; the report row order is the suite order. The oracle
    states each rule as an independent filtered count, proving the fused
    plan changes no semantics."""
    from duckdb_fastlanes_spark.functions.expectations import (
        between,
        in_set,
        matches,
        not_null,
        unique,
        validate,
    )

    o = table(spark, sf_dir, "orders")
    suite = [
        not_null("o_orderkey"),
        unique("o_orderkey"),
        in_set("o_orderstatus", ["F", "O", "P"]),
        between("o_totalprice", 0, 10000000.0),
        matches("o_orderpriority", r"^[1-5]-[A-Z ]+$"),
    ]
    return validate(o, suite)
