"""Window operators (SURVEY.md §2.B B3, §2.C Windows row).

Reference evidence: ROW_NUMBER() OVER (ORDER BY id)
(/root/reference/test/all_types_single_threaded.test:12-19); ranking/analytic/
frame windows are the embedded DuckDB surface (public).

Scale notes: every window here partitions by a key (user_id / custkey) so work
distributes; the only global-ORDER-BY window (row_number over the whole table)
is expressed on a *pre-aggregated* small input. Avoid unpartitioned windows over
raw fact tables at 100 TB — they serialize onto one task.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi


@register(
    "window_row_number",
    oracle="""
    SELECT o_orderkey, o_custkey,
           row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
    """,
)
def window_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW_NUMBER per customer in order date order (orderkey tiebreak →
    deterministic). Single-parse SQL body."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT o_orderkey, o_custkey,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey) AS rn
        FROM orders
        """,
    )


# rank / dense_rank / ntile. rank ties on equal l_quantity are fine (rank
# is tie-stable); ntile is POSITIONAL, so its ORDER BY must be total —
# (l_orderkey, l_linenumber) is unique in the test corpus but collides
# in the synthesized 100× cell, where an underspecified ntile order
# assigned tied rows to different quartiles per engine; the extra sort
# keys pin it on every corpus.
register_ansi(
    "window_rank_dense",
    """
    SELECT l_orderkey, l_linenumber,
           rank()       OVER (PARTITION BY l_orderkey ORDER BY l_quantity)       AS qty_rank,
           dense_rank() OVER (PARTITION BY l_orderkey ORDER BY l_quantity)       AS qty_dense_rank,
           ntile(4)     OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_quantity,
                                       l_extendedprice, l_shipdate)              AS quartile
    FROM lineitem
    WHERE l_orderkey % 50 = 0
    """,
)


# lag/lead analytics per user ordered by time (event_id tiebreak).
register_ansi(
    "window_lag_lead",
    """
    SELECT event_id, user_id,
           round(value, 2) AS value,
           round(lag(value)  OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS prev_value,
           round(lead(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 2) AS next_value,
           round(value - coalesce(lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0), 2) AS delta
    FROM events
    """,
)


# ROWS BETWEEN frames: 3-row moving sum + frame count + running min per
# user. The moving sum is emitted as exact integer cents: ``value`` sits on a
# 2-decimal grid, and Spark's retractable sliding-sum accumulates different
# low-order bits than DuckDB's recompute — integer cents are engine-stable
# while round(avg, 2) flips on exact .005 boundaries (2-row frames).
register_ansi(
    "window_moving_frame",
    """
    SELECT event_id, user_id,
           CAST(round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) * 100) AS BIGINT) AS moving_sum3_cents,
           count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS n_frame,
           round(min(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_min
    FROM events
    """,
)


# RANGE BETWEEN value frame — peers within ±50k price per customer.
register_ansi(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey,
           round(o_totalprice, 2) AS price,
           count(*) OVER (PARTITION BY o_custkey ORDER BY o_totalprice
                          RANGE BETWEEN 50000 PRECEDING AND 50000 FOLLOWING) AS n_similar_price
    FROM orders
    """,
)


# first_value/last_value with full-partition frame, collapsed to one row
# per user.
register_ansi(
    "window_first_last",
    """
    SELECT DISTINCT user_id,
           first_value(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_event,
           last_value(event_type)  OVER (PARTITION BY user_id ORDER BY ts, event_id
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event
    FROM events
    """,
)


@register(
    "window_nth_ignore_nulls",
    oracle="""
    SELECT o_orderkey, n_lines, second_price, first_nonzero_disc
    FROM (
        SELECT l_orderkey AS o_orderkey,
               count(*) OVER w AS n_lines,
               round(nth_value(l_extendedprice, 2) OVER w, 2) AS second_price,
               first_value(nullif(l_discount, 0.0) IGNORE NULLS) OVER w
                   AS first_nonzero_disc,
               row_number() OVER (PARTITION BY l_orderkey
                                  ORDER BY l_linenumber, l_suppkey,
                                           l_extendedprice) AS rn
        FROM lineitem
        WHERE l_orderkey < 1000
        WINDOW w AS (PARTITION BY l_orderkey
                     ORDER BY l_linenumber, l_suppkey, l_extendedprice
                     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    WHERE rn = 1
    ORDER BY o_orderkey
    """,
)
def window_nth_ignore_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value and IGNORE NULLS navigation: per order, the second line's
    price (NULL for 1-line orders) and the first non-zero discount in line
    order (NULL-skipping first_value) — the window-function corners beyond
    first/last/lag (window_first_last, window_lag_lead). Full-partition
    frames are spelled explicitly so both engines agree; one row per order
    via rn=1 on the same partitioning (no second shuffle). The window order
    carries (l_suppkey, l_extendedprice) tie-breaks: (orderkey, linenumber)
    is unique on the raw corpus but collides in the 100x replicated cell,
    where an underspecified nth_value order let each engine pick a
    different "second" row."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    w = (
        Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_suppkey", "l_extendedprice")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    w_rn = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    return (
        li.select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.count(F.lit(1)).over(w).alias("n_lines"),
            F.round(F.nth_value("l_extendedprice", 2).over(w), 2).alias(
                "second_price"
            ),
            F.first(
                F.nullif(F.col("l_discount"), F.lit(0.0)), ignorenulls=True
            )
            .over(w)
            .alias("first_nonzero_disc"),
            F.row_number().over(w_rn).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("o_orderkey")
    )


# Ratio-to-report: each (status, priority) cell's share of its status
# group — a window aggregate OVER an aggregate, the standard percent-of-
# total report. The window runs on the already-reduced group table
# (|statuses × priorities| rows), so the expensive pass is the map-side-
# combined aggregate; the share window is nearly free at any scale.
register_ansi(
    "window_ratio_to_report",
    """
    WITH g AS (
        SELECT o_orderstatus, o_orderpriority,
               sum(o_totalprice) AS revenue
        FROM orders GROUP BY 1, 2
    )
    SELECT o_orderstatus, o_orderpriority,
           CAST(round(revenue * 100) AS BIGINT) AS revenue_cents,
           round(revenue / sum(revenue) OVER (PARTITION BY o_orderstatus), 4)
               AS share_of_status
    FROM g
    ORDER BY o_orderstatus, o_orderpriority
    """,
)


@register(
    "window_frame_exclude",
    oracle="""
    WITH t AS (
        SELECT o_custkey AS k, o_orderkey AS id,
               date_trunc('month', o_orderdate) AS m,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders WHERE o_custkey % 101 = 0
    )
    SELECT k, id,
           CAST(sum(c) OVER (PARTITION BY k ORDER BY m, id
                             ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
                             EXCLUDE CURRENT ROW) AS BIGINT) AS excl_current,
           CAST(sum(c) OVER (PARTITION BY k ORDER BY m
                             RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                             EXCLUDE GROUP) AS BIGINT) AS excl_group,
           CAST(sum(c) OVER (PARTITION BY k ORDER BY m
                             RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                             EXCLUDE TIES) AS BIGINT) AS excl_ties
    FROM t
    """,
)
def window_frame_exclude(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window frame EXCLUDE clause (DuckDB/SQL:2011 surface; Spark has no
    EXCLUDE) emulated exactly by frame arithmetic over integer cents:

    - EXCLUDE CURRENT ROW on a bounded ROWS frame = frame_sum - current,
      NULL when the frame holds only the current row (count guard);
    - EXCLUDE GROUP on the full-partition RANGE frame = partition_sum -
      peer_group_sum (peers = equal ORDER BY month), NULL when the
      partition is a single peer group;
    - EXCLUDE TIES = partition_sum - peer_group_sum + current (the frame
      keeps the current row, so never empty).

    The ROWS frame orders on (month, id) — a total order, so the frame
    membership is deterministic across engines; the GROUP/TIES columns
    order on the month alone so real peer groups exist. All sums are exact
    BIGINT cents (driver-hash-stable). Scale: three window specs over the
    same (k)-partitioned shuffle — Catalyst reuses one exchange; the
    peer-group sum is a second window on (k, m), a strict refinement that
    needs no extra shuffle beyond the sort."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH t AS (
            SELECT o_custkey AS k, o_orderkey AS id,
                   date_trunc('month', o_orderdate) AS m,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
            FROM orders WHERE o_custkey % 101 = 0
        )
        SELECT k, id,
               CASE WHEN (count(1) OVER w_rows) > 1
                    THEN (sum(c) OVER w_rows) - c END AS excl_current,
               CASE WHEN (count(1) OVER w_part) > (count(1) OVER w_peer)
                    THEN (sum(c) OVER w_part) - (sum(c) OVER w_peer)
               END AS excl_group,
               (sum(c) OVER w_part) - (sum(c) OVER w_peer) + c AS excl_ties
        FROM t
        WINDOW w_rows AS (PARTITION BY k ORDER BY m, id
                          ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING),
               w_part AS (PARTITION BY k),
               w_peer AS (PARTITION BY k, m)
        """,
    )


@register(
    "window_filtered_agg",
    oracle="""
    WITH t AS (
        SELECT o_custkey AS k, o_orderkey AS id, o_orderdate AS d,
               o_orderstatus AS st,
               CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
        FROM orders WHERE o_custkey % 103 = 0
    )
    SELECT k, id,
           CAST(sum(c) FILTER (WHERE st = 'F')
                OVER (PARTITION BY k ORDER BY d, id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT)                                       AS run_f_cents,
           CAST(count(*) FILTER (WHERE st = 'F')
                OVER (PARTITION BY k ORDER BY d, id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT)                                       AS run_f_orders
    FROM t
    """,
)
def window_filtered_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate FILTER clause on a window function (DuckDB surface; Spark's
    FILTER only attaches to group aggregates) — reproduced exactly as
    CASE-guarded window aggregates: sum(CASE WHEN p THEN x END) OVER w is
    the filtered running sum, count(CASE ...) the filtered running count.
    Exact integer cents; the (date, id) ROWS order is total, so frames are
    deterministic across engines. One (k)-partition sort serves both specs."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH t AS (
            SELECT o_custkey AS k, o_orderkey AS id, o_orderdate AS d,
                   o_orderstatus AS st,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
            FROM orders WHERE o_custkey % 103 = 0
        )
        SELECT k, id,
               sum(CASE WHEN st = 'F' THEN c END) OVER w   AS run_f_cents,
               count(CASE WHEN st = 'F' THEN 1 END) OVER w AS run_f_orders
        FROM t
        WINDOW w AS (PARTITION BY k ORDER BY d, id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
    )


@register(
    "window_moving_median",
    oracle="""
    WITH v AS (
        SELECT event_id, user_id,
               CAST(round(value * 100) AS BIGINT) AS v_c, ts
        FROM events WHERE user_id < 30),
    framed AS (
        SELECT event_id, user_id,
               list_sort(list(v_c) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS sa
        FROM v)
    SELECT event_id, user_id, CAST(len(sa) AS INT) AS n_frame,
           (CASE WHEN len(sa) % 2 = 1
                 THEN 2 * sa[(len(sa) + 1) // 2]
                 ELSE sa[len(sa) // 2] + sa[len(sa) // 2 + 1] END)
             / CAST(2 AS DOUBLE) AS moving_median_cents
    FROM framed
    ORDER BY user_id, event_id
    """,
)
def window_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving median over a 7-row frame per user — the robust smoother a
    moving average (window_moving_frame) cannot provide under spikes; the
    dashboard de-noiser for bursty per-user value streams.

    Spark has no median window function, so BOTH engines materialize the
    frame explicitly (collect_list / list window aggregate), sort it, and
    pick the middle — identical algorithm, no percentile-interpolation
    dialect risk. Values snap to exact integer cents first; the even-frame
    average is (a+b)/2 in CENTS — halves are exactly representable in
    binary, so the output needs no rounding at all (a /100 rescale would
    land on .005 ties where the engines' round() disagree).

    Scale shape: one shuffle on user_id; the frame is ≤ 7 BIGINTs per row
    (constant memory), so the window is a single per-partition sorted
    pass. The audited slice (user_id < 30) bounds output rows like the
    sibling per-user windows."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH v AS (
            SELECT event_id, user_id,
                   CAST(round(value * 100) AS BIGINT) AS v_c, ts
            FROM events WHERE user_id < 30),
        framed AS (
            SELECT event_id, user_id,
                   sort_array(collect_list(v_c) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) AS sa
            FROM v)
        SELECT event_id, user_id, size(sa) AS n_frame,
               (CASE WHEN size(sa) % 2 = 1
                     THEN 2 * element_at(sa,
                              CAST((size(sa) + 1) DIV 2 AS INT))
                     ELSE element_at(sa,
                              CAST(size(sa) DIV 2 AS INT))
                          + element_at(sa,
                              CAST(size(sa) DIV 2 + 1 AS INT)) END)
                 / CAST(2 AS DOUBLE) AS moving_median_cents
        FROM framed
        ORDER BY user_id, event_id
        """,
    )
