"""Join operators (SURVEY.md §2.B B4, §2.C Joins row).

Reference evidence: FULL OUTER JOIN USING in the reference's own tests
(/root/reference/test/all_types_single_threaded.test:31); the remaining join
shapes are the embedded DuckDB v1.3.2 surface (public knowledge, SURVEY §2.C).

Scale notes: dimension tables (region/nation/supplier, and customer at most
SFs) are broadcast — the fact-side scan never shuffles for those joins.
Fact-to-fact (lineitem ⋈ orders) shuffles on the join key; AQE handles skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi


@register(
    "join_inner_broadcast",
    oracle="""
    SELECT n.n_name, count(*) AS n_customers, round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name IN ('ASIA', 'EUROPE')
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
)
def join_inner_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: fact ⋈ broadcast(dim) — zero fact shuffle before the
    aggregate. The dims are pre-joined and filtered BEFORE broadcasting: one
    broadcast build (of only the surviving nations) instead of two, and the
    region filter never touches an executor — strictly less data shipped at
    any scale. Single-parse SQL body with an explicit BROADCAST hint."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_small

    return ordered_small(
        sql_q(
            spark,
            sf_dir,
            """
            SELECT /*+ BROADCAST(d) */ d.n_name,
                   count(1) AS n_customers,
                   round(sum(c.c_acctbal), 2) AS total_bal
            FROM customer c
            JOIN (
                SELECT n.n_nationkey, n.n_name
                FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
                WHERE r.r_name IN ('ASIA', 'EUROPE')
            ) d ON c.c_nationkey = d.n_nationkey
            GROUP BY d.n_name
            """,
        ),
        "n_name",
    )


# LEFT OUTER with an extra join-side predicate; count(col) skips NULLs so
# customers with no 'F' orders report 0.
register_ansi(
    "join_left_outer",
    """
    SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
    GROUP BY c.c_custkey
    """,
)


@register(
    "join_full_outer",
    oracle="""
    SELECT
        coalesce(a.k, b.k)   AS k,
        coalesce(a.cnt_o, 0) AS cnt_o,
        coalesce(b.cnt_l, 0) AS cnt_l
    FROM (SELECT o_orderkey % 97 AS k, count(*) AS cnt_o FROM orders   WHERE o_totalprice > 300000 GROUP BY 1) a
    FULL OUTER JOIN
         (SELECT l_orderkey % 89 AS k, count(*) AS cnt_l FROM lineitem WHERE l_quantity > 49      GROUP BY 1) b
    USING (k)
    ORDER BY k
    """,
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER JOIN USING (reference all_types_single_threaded.test:31) with
    unmatched rows on both sides; sort-merge join under the hood (full outer
    cannot broadcast-hash). Single-parse SQL body."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_small

    return ordered_small(
        sql_q(
            spark,
            sf_dir,
            """
            SELECT k,
                   coalesce(a.cnt_o, 0) AS cnt_o,
                   coalesce(b.cnt_l, 0) AS cnt_l
            FROM (SELECT o_orderkey % 97 AS k, count(1) AS cnt_o
                  FROM orders WHERE o_totalprice > 300000 GROUP BY o_orderkey % 97) a
            FULL OUTER JOIN
                 (SELECT l_orderkey % 89 AS k, count(1) AS cnt_l
                  FROM lineitem WHERE l_quantity > 49 GROUP BY l_orderkey % 89) b
            USING (k)
            """,
        ),
        "k",
    )


# LEFT SEMI join — customers having at least one big order.
register_ansi(
    "join_semi",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT ANTI join — customers with no orders at all."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@register(
    "join_theta_range",
    oracle="""
    SELECT p.p_partkey, count(*) AS n_cheaper_suppliers
    FROM part p
    JOIN supplier s ON s.s_acctbal > p.p_retailprice / 100.0
    WHERE p.p_size <= 10
    GROUP BY p.p_partkey
    ORDER BY p.p_partkey
    """,
)
def join_theta_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta (non-equi range) join — broadcast nested loop on the small side;
    the DuckDB analogue is its IEJoin/NLJ path (SURVEY §2.C Joins).

    The probe side is explicitly widened to core count: NLJ work is
    |probe| × |build| — quadratic in data, not bytes — so the scan's
    byte-proportional partitioning under-parallelizes it (a single-file
    probe side ran the whole product on one core at the ~sf1 cell)."""
    width = spark.sparkContext.defaultParallelism
    p = table(spark, sf_dir, "part").filter(F.col("p_size") <= 10).repartition(width)
    s = F.broadcast(table(spark, sf_dir, "supplier"))
    return (
        p.join(s, s.s_acctbal > p.p_retailprice / 100.0)
        .groupBy("p_partkey")
        .agg(F.count(F.lit(1)).alias("n_cheaper_suppliers"))
        .orderBy("p_partkey")
    )


@register(
    "join_asof",
    oracle="""
    WITH state_changes AS (
        SELECT user_id, ts, value
        FROM events
        WHERE event_type = 'purchase'
    ),
    lookups AS (
        SELECT user_id, ts AS view_ts, event_id
        FROM events
        WHERE event_type = 'view'
    )
    SELECT l.event_id, l.user_id,
           round(max(s.value), 2) AS last_purchase_value
    FROM lookups l
    JOIN state_changes s
      ON s.user_id = l.user_id AND s.ts <= l.view_ts
      AND s.ts = (SELECT max(s2.ts) FROM state_changes s2
                  WHERE s2.user_id = l.user_id AND s2.ts <= l.view_ts)
    GROUP BY l.event_id, l.user_id
    ORDER BY l.event_id
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join (DuckDB ASOF JOIN, SURVEY §2.C Joins) composed from a union +
    window last_value: for each 'view' event, the most recent prior 'purchase'
    value for the same user. Scales as one shuffle on user_id, no self-join —
    the idiomatic Spark re-expression of ASOF for dense event tables."""
    ev = table(spark, sf_dir, "events")
    from pyspark.sql.window import Window

    tagged = ev.filter(F.col("event_type").isin("purchase", "view")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("purchase_value"),
    )
    w = (
        Window.partitionBy("user_id")
        # purchase sorts before view at equal ts; among equal-ts purchases the
        # max value comes last, matching the oracle's max()-at-max-ts tie rule
        .orderBy(F.col("ts").asc(), F.col("event_type").asc(), F.col("purchase_value").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = tagged.withColumn("last_purchase_value", F.last("purchase_value", ignorenulls=True).over(w))
    return (
        filled.filter((F.col("event_type") == "view") & F.col("last_purchase_value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.round("last_purchase_value", 2).alias("last_purchase_value"),
        )
        .orderBy("event_id")
    )


@register(
    "join_strategy_equivalence",
    oracle="""
    WITH agg AS (
        SELECT count(*) AS n,
               CAST(round(sum(l_extendedprice) * 100) AS BIGINT) AS cents
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    )
    SELECT 'broadcast' AS strategy, n, cents FROM agg
    UNION ALL SELECT 'shuffle_hash', n, cents FROM agg
    UNION ALL SELECT 'shuffle_merge', n, cents FROM agg
    ORDER BY strategy
    """,
)
def join_strategy_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-join-strategy surface: the same logical join executed under
    BROADCAST, SHUFFLE_HASH, and SHUFFLE_MERGE hints must agree exactly —
    Spark's analogue of the reference's single-vs-multi-threaded test
    matrix (SURVEY.md §5: same corpus, different execution schedule,
    identical results). The hints are real (each run plans its hinted
    operator; visible in explain()); the oracle states the shared answer
    three times. At scale this query doubles as the strategy-picking
    harness: time the three rows' plans at the target layout and keep the
    winner."""
    li = table(spark, sf_dir, "lineitem")
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")

    def run(hint: str, label: str) -> DataFrame:
        return (
            li.join(o.hint(hint), li.l_orderkey == o.o_orderkey)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("l_extendedprice") * 100)
                .cast("bigint")
                .alias("cents"),
            )
            .select(F.lit(label).alias("strategy"), "n", "cents")
        )

    return (
        run("broadcast", "broadcast")
        .unionByName(run("shuffle_hash", "shuffle_hash"))
        .unionByName(run("shuffle_merge", "shuffle_merge"))
        .orderBy("strategy")
    )
