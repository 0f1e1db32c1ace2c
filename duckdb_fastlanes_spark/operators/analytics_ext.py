"""Applied analytics shapes: anomaly detection, co-occurrence mining, and
gaps-and-islands — the workloads an events/retail pipeline layers on the
relational core (SURVEY.md §2.C surface composition; all public-knowledge
SQL patterns re-expressed DataFrame-first)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi


# Z-score outlier detection: per-type mean/stddev (one aggregate, tiny
# result, broadcast back) then a filter on the full stream — two passes,
# no window sort. At 100 TB the stats side is per-partition-combinable
# and the probe is a pure scan.
register_ansi(
    "events_anomaly_zscore",
    """
    WITH stats AS (
        SELECT event_type, avg(value) AS mu, stddev_pop(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, round(e.value, 2) AS value,
           round((e.value - s.mu) / s.sigma, 2) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE (e.value - s.mu) / s.sigma > 3
    ORDER BY e.event_id
    """,
)


@register(
    "orders_market_basket",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, count(*) AS support
    FROM baskets a JOIN baskets b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    HAVING count(*) >= 3
    ORDER BY support DESC, part_a, part_b
    LIMIT 50
    """,
)
def orders_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part pairs bought in the same order with
    support ≥ 3, top-50. Pair work costs Σ basket_size² — bounded because
    baskets are small (the blocked-pairwise discipline again); the pair
    aggregate partial-combines map-side.

    r11 (guide §2.4, plans/r11/orders_market_basket_*): the shared-ANSI
    form's ``baskets`` CTE (a DISTINCT exchange over lineitem) was inlined
    into BOTH self-join legs — two distinct exchanges plus a sort-merge
    self-join. Now ONE groupBy(l_orderkey) builds each basket as a sorted
    distinct part array (collect_set dedups in the same exchange the
    DISTINCT used to pay) and the a < b pairs are generated row-locally
    with posexplode + suffix slice (the graph wedge pattern): 8 exchanges
    → 3, no join, 1.9 s → ~0.9 s at sf0.1. Identical pair set and counts —
    the DuckDB oracle keeps the self-join form."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH baskets AS (
            SELECT l_orderkey, array_sort(collect_set(l_partkey)) AS parts
            FROM lineitem GROUP BY l_orderkey),
        pairs AS (
            SELECT part_a, explode(cand) AS part_b
            FROM (SELECT pos, part_a,
                         slice(parts, pos + 2,
                               greatest(size(parts) - pos - 1, 0)) AS cand
                  FROM (SELECT posexplode(parts) AS (pos, part_a), parts
                        FROM baskets))
            WHERE size(cand) > 0)
        SELECT part_a, part_b, count(1) AS support
        FROM pairs
        GROUP BY part_a, part_b
        HAVING count(1) >= 3
        ORDER BY support DESC, part_a, part_b
        LIMIT 50
        """,
    )


@register(
    "window_gaps_islands",
    oracle="""
    WITH hours AS (
        SELECT DISTINCT user_id, CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
        FROM events
    ),
    numbered AS (
        SELECT user_id, h,
               h - row_number() OVER (PARTITION BY user_id ORDER BY h) AS grp
        FROM hours
    )
    SELECT user_id, min(h) AS island_start, max(h) AS island_end,
           count(*) AS island_len
    FROM numbered
    GROUP BY user_id, grp
    HAVING count(*) >= 3
    ORDER BY user_id, island_start
    """,
)
def window_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: runs of consecutive *active hours* per user via the
    value-minus-row_number trick (consecutive values share the difference),
    one aggregate per island, islands of 3+ hours kept. Single shuffle on
    user_id; the distinct collapses to active-hour cardinality first."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH hours AS (
            SELECT DISTINCT user_id,
                   CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT) AS h
            FROM events),
        numbered AS (
            SELECT user_id, h,
                   h - row_number() OVER (PARTITION BY user_id ORDER BY h)
                     AS grp
            FROM hours)
        SELECT user_id, island_start, island_end, island_len
        FROM (SELECT user_id, grp, min(h) AS island_start,
                     max(h) AS island_end, count(1) AS island_len
              FROM numbered GROUP BY user_id, grp)
        WHERE island_len >= 3
        ORDER BY user_id, island_start
        """,
    )


@register(
    "events_interarrival",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               datediff('second',
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        ts) AS gap_s
        FROM events
    )
    SELECT user_id,
           count(gap_s)                       AS n_gaps,
           CAST(min(gap_s) AS BIGINT)         AS min_gap_s,
           CAST(max(gap_s) AS BIGINT)         AS max_gap_s,
           round(avg(gap_s), 2)               AS avg_gap_s
    FROM gaps
    WHERE gap_s IS NOT NULL AND user_id < 50
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival gap statistics per user: lag window then aggregate —
    the cadence profile behind rate limiting / bot detection. One shuffle
    on user_id shared with every other per-user operator."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT user_id, count(gap_s) AS n_gaps,
               CAST(min(gap_s) AS BIGINT) AS min_gap_s,
               CAST(max(gap_s) AS BIGINT) AS max_gap_s,
               round(avg(gap_s), 2) AS avg_gap_s
        FROM (SELECT user_id,
                     unix_timestamp(ts) - unix_timestamp(
                         lag(ts) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id)) AS gap_s
              FROM events WHERE user_id < 50)
        WHERE gap_s IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id
        """,
    )


@register(
    "customers_rfm",
    oracle="""
    WITH per_cust AS (
        SELECT o_custkey,
               max(o_orderdate)             AS last_order,
               count(*)                     AS frequency,
               round(sum(o_totalprice), 2)  AS monetary
        FROM orders GROUP BY o_custkey
    )
    SELECT ntile(4) OVER (ORDER BY last_order, o_custkey)  AS r_quartile,
           ntile(4) OVER (ORDER BY frequency, o_custkey)   AS f_quartile,
           o_custkey, frequency, monetary
    FROM per_cust
    ORDER BY o_custkey
    LIMIT 200
    """,
)
def customers_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM scoring: per-customer recency/frequency/monetary rollup, then
    ntile quartiles (tie-broken on custkey so both engines bucket
    identically). The rollup shrinks to customer cardinality before any
    window — the global ntile sorts |customers|, never |orders|."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    wr = Window.orderBy("last_order", "o_custkey")
    wf = Window.orderBy("frequency", "o_custkey")
    return (
        per_cust.select(
            F.ntile(4).over(wr).alias("r_quartile"),
            F.ntile(4).over(wf).alias("f_quartile"),
            "o_custkey",
            "frequency",
            "monetary",
        )
        .orderBy("o_custkey")
        .limit(200)
    )


# Pareto analysis: cumulative revenue share per supplier (the 80/20
# read-off). Running sum over the revenue-ranked rollup ÷ grand total —
# both windows run over supplier cardinality, not lineitem. Per-supplier
# revenue aggregates exact integer micro-units (the _usum_col split-BIGINT
# pattern): a raw double sum rounded the cent differently per engine at
# the 100x cell, which also flipped the tied-revenue ranking; the rounded
# revenues then make the prefix-sum share order-identical.
register_ansi(
    "supplier_pareto",
    """
    WITH rev AS (
        SELECT l_suppkey,
               round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount))
                                         * 1000000, 0) AS DECIMAL(25,0))) AS DOUBLE)
                     / 1000000.0, 2) AS revenue
        FROM lineitem GROUP BY l_suppkey
    )
    SELECT l_suppkey, revenue,
           round(sum(revenue) OVER (ORDER BY revenue DESC, l_suppkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / sum(revenue) OVER (), 4) AS cum_share
    FROM rev
    ORDER BY revenue DESC, l_suppkey
    """,
)


@register(
    "orders_yoy_growth",
    oracle="""
    WITH yearly AS (
        SELECT extract(year FROM o_orderdate) AS yr,
               round(sum(o_totalprice), 2) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT yr, revenue,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY yr))
                 / lag(revenue) OVER (ORDER BY yr), 2) AS yoy_pct
    FROM yearly
    ORDER BY yr
    """,
)
def orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: yearly rollup (shrinks to |years|
    rows) then lag — the standard KPI trend shape; the window runs over a
    handful of rows no matter the input size."""
    from pyspark.sql.window import Window

    o = table(spark, sf_dir, "orders")
    yearly = o.groupBy(F.year("o_orderdate").alias("yr")).agg(
        F.round(F.sum("o_totalprice"), 2).alias("revenue")
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr",
        "revenue",
        F.round(F.lit(100.0) * (F.col("revenue") - prev) / prev, 2).alias("yoy_pct"),
    ).orderBy("yr")


@register(
    "part_skyline",
    oracle="""
    SELECT p_partkey, p_size, round(p_retailprice, 2) AS price
    FROM part a
    WHERE NOT EXISTS (
        SELECT 1 FROM part b
        WHERE b.p_retailprice <= a.p_retailprice AND b.p_size >= a.p_size
          AND (b.p_retailprice < a.p_retailprice OR b.p_size > a.p_size)
    )
    ORDER BY p_partkey
    """,
)
def part_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query: parts not dominated on (cheaper price,
    larger size). The oracle is the textbook NOT EXISTS quadratic; the Spark
    plan exploits that the skyline is *distributive*: collapse to distinct
    (size, price) pairs first (tiny), one running-max window ordered by
    (price asc, size desc) keeps a pair iff no earlier pair reaches its
    size, then join winners back to partkeys. At 100 TB the distinct-pair
    reduction happens map-side; a per-partition local skyline before the
    global pass bounds the windowed set further."""
    from pyspark.sql.window import Window

    p = table(spark, sf_dir, "part")
    pairs = p.select("p_size", "p_retailprice").distinct()
    w = (
        Window.orderBy(F.col("p_retailprice").asc(), F.col("p_size").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        pairs.withColumn("prev_max", F.max("p_size").over(w))
        .filter(F.col("prev_max").isNull() | (F.col("prev_max") < F.col("p_size")))
        .select(
            F.col("p_size").alias("s_size"), F.col("p_retailprice").alias("s_price")
        )
    )
    return (
        p.join(
            F.broadcast(sky),
            (p.p_size == F.col("s_size")) & (p.p_retailprice == F.col("s_price")),
        )
        .select("p_partkey", "p_size", F.round("p_retailprice", 2).alias("price"))
        .orderBy("p_partkey")
    )


@register(
    "chi2_priority_status",
    oracle="""
    WITH obs AS (
        SELECT o_orderpriority AS p, o_orderstatus AS s, count(*) AS o
        FROM orders GROUP BY 1, 2
    ),
    rowt AS (SELECT p, sum(o) AS rt FROM obs GROUP BY p),
    colt AS (SELECT s, sum(o) AS ct FROM obs GROUP BY s),
    tot AS (SELECT sum(o) AS n FROM obs)
    SELECT round(sum((obs.o - rowt.rt * colt.ct / tot.n) ** 2
                     / (rowt.rt * colt.ct / tot.n)), 3) AS chi2,
           (count(DISTINCT obs.p) - 1) * (count(DISTINCT obs.s) - 1) AS dof,
           CAST(max(tot.n) AS BIGINT) AS n
    FROM obs, rowt, colt, tot
    WHERE obs.p = rowt.p AND obs.s = colt.s
    """,
)
def chi2_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square independence test between order priority and status — the
    categorical-drift gate a data-quality suite runs between snapshots. One
    aggregate to the contingency table (|P|×|S| cells), margins re-aggregated
    from those cells (never from the raw table), everything after the first
    aggregate is O(cells)."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH obs AS (
            SELECT o_orderpriority AS p, o_orderstatus AS s, count(1) AS o
            FROM orders GROUP BY 1, 2),
        rowt AS (SELECT p, sum(o) AS rt FROM obs GROUP BY p),
        colt AS (SELECT s, sum(o) AS ct FROM obs GROUP BY s),
        tot AS (SELECT sum(o) AS n FROM obs)
        SELECT /*+ BROADCAST(rowt), BROADCAST(colt), BROADCAST(tot) */
               round(sum(power(o - rt * ct / n, 2) / (rt * ct / n)), 3)
                 AS chi2,
               (count(DISTINCT p) - 1) * (count(DISTINCT s) - 1) AS dof,
               CAST(max(n) AS BIGINT) AS n
        FROM obs JOIN rowt USING (p) JOIN colt USING (s) CROSS JOIN tot
        """,
    )


# 7-day rolling distinct active users (the DAU/WAU board metric). Distinct
# windowed counts don't compose, so the oracle's range join is re-expressed
# scalably: collapse to distinct (user, day) first, then EXPLODE each
# activity day into the ≤7 rolling windows it feeds and equi-aggregate on
# window day — shuffle keys are dense days, never a theta join, and the
# fan-out is bounded ×7 of the already-collapsed activity set.
register_ansi(
    "events_rolling_distinct_users",
    """
    WITH activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events
    ),
    days AS (SELECT DISTINCT day FROM activity)
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           count(DISTINCT a.user_id) AS active_7d,
           count(DISTINCT CASE WHEN a.day = d.day THEN a.user_id END) AS active_1d
    FROM days d
    JOIN activity a ON a.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
    ORDER BY d.day
    """,
)


# Shannon entropy of the type distribution within each brand — the
# concentration/diversity probe (0 = single-type brand, ln(k) = uniform
# over k types). Two cheap aggregates over the (brand, type) cells; the
# raw table is scanned once.
register_ansi(
    "entropy_by_group",
    """
    WITH c AS (
        SELECT p_brand, p_type, count(*) AS cnt
        FROM part GROUP BY 1, 2
    ),
    t AS (SELECT p_brand, sum(cnt) AS n FROM c GROUP BY p_brand)
    SELECT c.p_brand,
           CAST(max(t.n) AS BIGINT) AS n_parts,
           count(*) AS n_types,
           round(sum(-(cnt / t.n) * ln(cnt / t.n)), 4) AS type_entropy
    FROM c JOIN t ON c.p_brand = t.p_brand
    GROUP BY c.p_brand
    ORDER BY c.p_brand
    """,
)


# Kolmogorov–Smirnov two-sample statistic between even- and odd-keyed
# order prices: max |ECDF0(v) - ECDF1(v)| — the distribution-drift test a
# pipeline runs between data snapshots or train/eval splits (compare
# dq_split_divergence's KL/TVD on token histograms; KS works on raw
# numerics with no binning). Running counts per group over one global
# value order give both ECDFs in a single window pass. Ties: evaluating
# at ROWS-cumulative counts is exact at each value's last duplicate, and
# the max over rows equals the max over distinct values. Scale note: the
# global-order window is the exact-semantics variant; at 100 TB the same
# decision comes from a quantile-sketch ECDF on approx_percentile
# boundaries.
register_ansi(
    "stats_ks_two_sample",
    """
    WITH s AS (
        SELECT o_totalprice AS v, o_orderkey % 2 AS grp FROM orders
    ),
    n AS (
        SELECT sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS n0,
               sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS n1
        FROM s
    ),
    ecdf AS (
        SELECT v,
               sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END)
                   OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c0,
               sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END)
                   OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS c1
        FROM s
    )
    SELECT CAST(max(n.n0) AS BIGINT) AS n0, CAST(max(n.n1) AS BIGINT) AS n1,
           round(max(abs(CAST(c0 AS DOUBLE) / n.n0
                         - CAST(c1 AS DOUBLE) / n.n1)), 4) AS ks_stat
    FROM ecdf, n
    """,
)


@register(
    "stats_welch_ttest",
    oracle="""
    WITH g AS (
        SELECT event_type,
               count(*) AS n, avg(value) AS m, var_samp(value) AS v
        FROM events
        WHERE event_type IN ('click', 'view')
        GROUP BY event_type
    )
    SELECT a.n AS n_click, b.n AS n_view,
           round(a.m - b.m, 4) AS mean_diff,
           round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 3) AS t_stat,
           round(((a.v / a.n + b.v / b.n) ** 2)
                 / ((a.v / a.n) ** 2 / (a.n - 1)
                    + (b.v / b.n) ** 2 / (b.n - 1)), 1) AS welch_df
    FROM g a, g b
    WHERE a.event_type = 'click' AND b.event_type = 'view'
    """,
)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test comparing event values between the
    click and view cohorts — the A/B-test readout computed fully in-engine
    from one grouped aggregate (n, mean, var per arm) and a 1-row × 1-row
    join; nothing leaves the executors until the final scalar row. Welch df
    via Welch–Satterthwaite. Scale-indifferent: the only shuffle is the
    2-group aggregate."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH g AS (
            SELECT event_type, count(1) AS n, avg(value) AS m,
                   var_samp(value) AS v
            FROM events WHERE event_type IN ('click', 'view')
            GROUP BY event_type)
        SELECT a.n AS n_click, b.n AS n_view,
               round(a.m - b.m, 4) AS mean_diff,
               round((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 3) AS t_stat,
               round(pow(a.v / a.n + b.v / b.n, 2)
                     / (pow(a.v / a.n, 2) / (a.n - 1)
                        + pow(b.v / b.n, 2) / (b.n - 1)), 1) AS welch_df
        FROM (SELECT * FROM g WHERE event_type = 'click') a
        CROSS JOIN (SELECT * FROM g WHERE event_type = 'view') b
        """,
    )
