"""Event-analytics shapes over the ``events`` stream table: funnel and
retention cohorts — the batch workloads an events pipeline runs next to the
streaming operators (SURVEY.md §7 step 5; the reference has no event surface,
§2.C Streaming row).

Scale notes: both queries aggregate per-user first (shuffle on user_id — the
same partitioning the sessionization operators use, so a shared
repartition/bucket layout serves all of them), then reduce tiny per-user rows;
nothing pairwise, nothing collected."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi

#: time slices for the distributed sweep-line prefix sum (events_max_
#: concurrency): parallelism = |event_type| × this; the offset frame stays
#: |event_type| × this rows — trivially broadcastable at any corpus size
N_SWEEP_BUCKETS = 64


# Ordered funnel view → click → purchase: per-user first-touch times via
# conditional min (one shuffle), then counting users whose stages happened
# in order. FILTER(WHERE) is the §2.C filtered-aggregate surface.
register_ansi(
    "events_funnel",
    """
    WITH per_user AS (
        SELECT user_id,
               min(CASE WHEN event_type = 'view' THEN ts END)     AS first_view,
               min(CASE WHEN event_type = 'click' THEN ts END)    AS first_click,
               min(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
        FROM events
        GROUP BY user_id
    )
    SELECT
        count(*) FILTER (WHERE first_view IS NOT NULL) AS n_viewed,
        count(*) FILTER (WHERE first_view IS NOT NULL
                           AND first_click > first_view) AS n_clicked_after_view,
        count(*) FILTER (WHERE first_view IS NOT NULL
                           AND first_click > first_view
                           AND first_purchase > first_click) AS n_purchased_after_click
    FROM per_user
    """,
)


@register(
    "events_retention_cohort",
    oracle="""
    WITH firsts AS (
        SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, date_trunc('week', e.ts) AS active_week
        FROM events e
    )
    SELECT CAST(f.cohort_week AS TIMESTAMP) AS cohort_week,
           CAST(datediff('week', f.cohort_week, a.active_week) AS BIGINT) AS week_n,
           count(*) AS n_active
    FROM firsts f
    JOIN activity a ON a.user_id = f.user_id
    WHERE datediff('week', f.cohort_week, a.active_week) BETWEEN 0 AND 4
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users bucketed by first-activity week, counted
    per subsequent active week (0..4). Two narrow per-user aggregates joined
    on user_id — the cohort matrix is |cohorts| × 5 rows regardless of input
    size."""
    ev = table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    # calendar-week difference, matching DuckDB's datediff('week', a, b) which
    # counts week-boundary crossings: both operands are already week-truncated,
    # so floor(days/7) over the truncated difference is exact
    week_n = (F.datediff(F.col("active_week"), F.col("cohort_week")) / 7).cast("bigint")
    return (
        firsts.join(activity, "user_id")
        .select(F.col("cohort_week").cast("timestamp").alias("cohort_week"),
                week_n.alias("week_n"))
        .filter(F.col("week_n").between(0, 4))
        .groupBy("cohort_week", "week_n")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_week", "week_n")
    )


@register(
    "events_gapfill_locf",
    oracle="""
    WITH hourly AS (
        SELECT date_trunc('hour', ts) AS hour,
               count(*) AS n_events,
               round(sum(value), 2) AS total_value
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    bounds AS (SELECT min(hour) AS lo, max(hour) AS hi FROM hourly),
    spine AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hour
        FROM bounds
    )
    SELECT s.hour,
           coalesce(h.n_events, 0) AS n_events,
           last_value(h.total_value IGNORE NULLS)
               OVER (ORDER BY s.hour ROWS UNBOUNDED PRECEDING) AS locf_value
    FROM spine s LEFT JOIN hourly h USING (hour)
    ORDER BY s.hour
    """,
)
def events_gapfill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill: a complete hourly spine over the observed range
    (generate+explode — no calendar table needed), left-joined with the
    hourly rollup, missing hours carried forward (LOCF) via
    last_value IGNORE NULLS — the hypertable/timescale rollup idiom for
    dashboards that cannot show holes.

    Scale shape: the rollup is a bounded-key aggregate; the spine is hours,
    not events, so the join's build side broadcasts; the single global LOCF
    window is over spine rows (bounded) — at multi-year × multi-key scale,
    partition the window by key and the same plan holds per key."""
    from duckdb_fastlanes_spark.functions.ordering import ordered_small
    from pyspark.sql.window import Window

    from duckdb_fastlanes_spark.catalog import sql_q

    return ordered_small(
        sql_q(
            spark,
            sf_dir,
            """
            WITH hourly AS (
                SELECT date_trunc('hour', ts) AS hour,
                       count(1) AS n_events,
                       round(sum(value), 2) AS total_value
                FROM events WHERE event_type = 'purchase' GROUP BY 1),
            spine AS (
                SELECT explode(sequence(lo, hi, INTERVAL 1 HOUR)) AS hour
                FROM (SELECT min(hour) AS lo, max(hour) AS hi FROM hourly))
            SELECT s.hour,
                   coalesce(h.n_events, 0) AS n_events,
                   last(h.total_value, true) OVER (
                       ORDER BY s.hour
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                     AS locf_value
            FROM spine s LEFT JOIN hourly h ON s.hour = h.hour
            """,
        ),
        "hour",
    )


@register(
    "events_max_concurrency",
    oracle="""
    WITH iv AS (
        SELECT event_type,
               epoch_us(ts) AS start_us,
               epoch_us(ts) + greatest(CAST(floor(value) AS BIGINT), 1) * 60000000 AS end_us
        FROM events
    ),
    points AS (
        SELECT event_type, start_us AS t, 1 AS delta FROM iv
        UNION ALL
        SELECT event_type, end_us AS t, -1 AS delta FROM iv
    ),
    running AS (
        SELECT event_type,
               sum(delta) OVER (PARTITION BY event_type ORDER BY t, delta) AS live
        FROM points
    )
    SELECT event_type, CAST(max(live) AS BIGINT) AS max_concurrent,
           CAST(count(*) / 2 AS BIGINT) AS n_intervals
    FROM running
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-concurrency sweep line: each event opens an interval of
    floor(value) minutes (≥1); +1/-1 boundary points, a running sum ordered
    by (time, delta) — ends sort before starts at the same instant, so
    touching intervals don't overcount — and the per-type maximum is the
    concurrency watermark (peak simultaneous sessions / GPU occupancy /
    room usage — the interval-algebra op dashboards ask for).

    Scale shape — two-level distributed prefix sum. A single running-sum
    window PARTITION BY event_type caps parallelism at the number of types
    (measured flat ~3.4 s at the 100× cell whatever the partition count), so
    instead: (1) collapse boundary points to one net delta per (type, t) —
    the intermediate "after the ends, before the starts" running value is
    always ≤ its predecessor, so the per-instant net prefix preserves the
    maximum exactly; (2) range-bucket time into N_SWEEP_BUCKETS deterministic
    slices from the broadcast global bounds; (3) an inner running sum
    windowed per (type, bucket) — parallelism types × buckets; (4) a
    bucket-offset prefix over the tiny (type, bucket) totals frame; (5)
    max(offset + inner). Deterministic at any layout: every sum is keyed by
    unique (type, t), no row_number, no peer ambiguity."""
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_small

    n_b = N_SWEEP_BUCKETS
    # r11 (guide §2.4, plans/r11/events_max_concurrency_*): Catalyst INLINES
    # every CTE reference, so the single-statement form re-derived the
    # scan → union → (type, t) aggregate once per consumer (pts feeds the
    # inner window, the bucket totals AND — through bounds — itself): 19
    # scans / 20 exchanges at sf0.1. The collapsed per-instant point stream
    # is now built once as a DataFrame and lazily localCheckpoint-ed —
    # every downstream leg reads the one materialization (1 scan + 1
    # aggregate exchange upstream of it). Algorithm, bucketing and results
    # are unchanged.
    pts0 = sql_q(
        spark,
        sf_dir,
        """
        WITH iv AS (
            SELECT event_type, unix_micros(ts) AS start_us,
                   unix_micros(ts)
                   + greatest(CAST(floor(value) AS BIGINT), 1) * 60000000
                     AS end_us
            FROM events),
        points AS (
            SELECT event_type, start_us AS t, 1 AS delta FROM iv
            UNION ALL
            SELECT event_type, end_us AS t, -1 AS delta FROM iv)
        SELECT event_type, t, sum(delta) AS d, count(1) AS npts
        FROM points GROUP BY event_type, t
        """,
    ).localCheckpoint(eager=False)
    pts0.createOrReplaceTempView("emc_pts0")
    return ordered_small(
        spark.sql(
            f"""
            WITH bounds AS (SELECT min(t) AS lo, max(t) AS hi FROM emc_pts0),
            pts AS (
                SELECT /*+ BROADCAST(bounds) */ p.*,
                       least({n_b - 1},
                             CAST((t - lo) * {n_b} / (hi - lo + 1) AS BIGINT))
                         AS bucket
                FROM emc_pts0 p CROSS JOIN bounds),
            inner_run AS (
                SELECT event_type, bucket, npts,
                       sum(d) OVER (PARTITION BY event_type, bucket ORDER BY t)
                         AS run_in
                FROM pts),
            btot AS (SELECT event_type, bucket, sum(d) AS bd
                     FROM pts GROUP BY event_type, bucket),
            off AS (
                SELECT event_type, bucket,
                       coalesce(sum(bd) OVER (
                           PARTITION BY event_type ORDER BY bucket
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ), 0) AS off
                FROM btot)
            SELECT /*+ BROADCAST(off) */ event_type,
                   max(off + run_in) AS max_concurrent,
                   CAST(sum(npts) / 2 AS BIGINT) AS n_intervals
            FROM inner_run JOIN off USING (event_type, bucket)
            GROUP BY event_type
            """,
        ),
        "event_type",
    )


@register(
    "events_markov_transitions",
    oracle="""
    WITH seq AS (
        SELECT event_type AS prev,
               lead(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next
        FROM events
    ),
    trans AS (
        SELECT prev, next, count(*) AS cnt
        FROM seq WHERE next IS NOT NULL GROUP BY prev, next
    )
    SELECT prev, next, cnt,
           round(cnt * 1.0 / sum(cnt) OVER (PARTITION BY prev), 6) AS p
    FROM trans
    ORDER BY prev, next
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event sequences:
    P(next event type | current event type). The behavioral-model primitive
    behind next-action prediction and anomalous-session scoring.

    Scale shape: ONE shuffle on user_id for the sequence window (lead), then
    the transition count collapses to a #types² matrix — the second window
    (row-normalization) runs over that tiny aggregate, not the events. Ties
    in ts are broken by event_id so the sequence, and hence the matrix, is
    partition-layout-invariant.
    """
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_small

    return ordered_small(
        sql_q(
            spark,
            sf_dir,
            """
            WITH seq AS (
                SELECT event_type AS prev,
                       lead(event_type) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id) AS next
                FROM events),
            trans AS (
                SELECT prev, next, count(1) AS cnt
                FROM seq WHERE next IS NOT NULL GROUP BY prev, next)
            SELECT prev, next, cnt,
                   round(cnt / sum(cnt) OVER (PARTITION BY prev), 6) AS p
            FROM trans
            """,
        ),
        "prev",
        "next",
    )


EWMA_ALPHA = 0.3


@register(
    "events_ewma_smoothing",
    oracle=f"""
    SELECT user_id,
           count(*) AS n_events,
           round(list_reduce(
               list(value ORDER BY ts, event_id),
               (acc, x) -> {EWMA_ALPHA} * x + {1 - EWMA_ALPHA} * acc), 6) AS ewma
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def events_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-weighted moving average of each user's event values —
    a RECURSIVE per-key computation (ewma_t = αx_t + (1-α)ewma_{t-1}) that
    plain window frames cannot express without overflow-prone pow() tricks.
    Spark-first shape: sort-free groupBy collect + higher-order-function fold
    (F.aggregate), all JVM-side — no Python UDF, no iterative driver loop.

    Scale shape: one shuffle on user_id; each group folds its own (bounded)
    value list. The fold order is pinned by array_sort over (ts, event_id)
    structs, so the result is bit-identical across partition layouts — both
    engines run the same left-to-right IEEE double chain (oracle uses
    DuckDB's list_reduce with list(... ORDER BY) — same fold, same order).
    """
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        f"""
        SELECT user_id, size(vals) AS n_events,
               round(aggregate(slice(vals, 2, size(vals) - 1),
                               CAST(element_at(vals, 1) AS DOUBLE),
                               (acc, x) -> {EWMA_ALPHA}D * x
                                           + {1 - EWMA_ALPHA}D * acc), 6)
                 AS ewma
        FROM (SELECT user_id,
                     transform(array_sort(collect_list(
                         struct(ts, event_id, value))), s -> s.value) AS vals
              FROM events GROUP BY user_id)
        ORDER BY user_id
        """,
    )


@register(
    "events_attribution",
    oracle="""
    WITH seq AS (
        SELECT event_type, ts,
               last_value(CASE WHEN event_type <> 'purchase'
                               THEN struct_pack(t := ts, c := event_type) END
                          IGNORE NULLS) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        FROM events
    )
    SELECT coalesce(touch.c, '(direct)') AS touch_channel,
           count(*) AS n_purchases,
           round(avg(epoch_us(ts - touch.t) / 60000000.0), 4) AS avg_minutes_to_purchase
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY 1
    ORDER BY 1
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase is credited to the most recent
    PRECEDING non-purchase event of the same user (its "channel"), with the
    mean touch→purchase latency. Purchases with no prior touch fall into
    '(direct)'.

    Scale shape: one shuffle on user_id for the sequence window; the
    IGNORE-NULLS last_value over an unbounded-preceding frame is a running
    carry (no per-row rescan), and the final aggregate is #channels-sized.
    Ties in ts are broken by event_id so the carried touch is deterministic
    under any partition layout.
    """
    from duckdb_fastlanes_spark.catalog import sql_q
    from duckdb_fastlanes_spark.functions.ordering import ordered_small

    return ordered_small(
        sql_q(
            spark,
            sf_dir,
            """
            WITH seq AS (
                SELECT event_type, ts,
                       last(CASE WHEN event_type <> 'purchase'
                                 THEN struct(ts AS t, event_type AS c) END,
                            true) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS touch
                FROM events)
            SELECT coalesce(touch.c, '(direct)') AS touch_channel,
                   count(1) AS n_purchases,
                   round(avg((unix_micros(ts) - unix_micros(touch.t))
                             / 60000000.0D), 4) AS avg_minutes_to_purchase
            FROM seq
            WHERE event_type = 'purchase'
            GROUP BY coalesce(touch.c, '(direct)')
            """,
        ),
        "touch_channel",
    )


@register(
    "events_interval_overlap",
    oracle="""
    WITH iv AS (
        SELECT user_id, event_id,
               epoch_us(ts) AS s,
               epoch_us(ts) + CAST(floor(value * 10) AS BIGINT) * 1000000 AS e
        FROM events
    )
    SELECT a.user_id, a.event_id AS event_a, b.event_id AS event_b,
           round((least(a.e, b.e) - greatest(a.s, b.s)) / 1000000.0, 2)
               AS overlap_s
    FROM iv a JOIN iv b
      ON a.user_id = b.user_id AND a.event_id < b.event_id
     AND a.s <= b.e AND b.s <= a.e
     AND least(a.e, b.e) - greatest(a.s, b.s) > 0
    ORDER BY a.user_id, event_a, event_b
    """,
)
def events_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping-interval self-join (each event spans ``floor(value*10)``
    seconds), the classic range-join problem. The oracle is the naive
    O(n²/users) theta join; the Spark plan is the *scalable* form: explode
    each interval into the hour buckets it spans, equi-join on
    (user, bucket) — so the shuffle key is dense and the comparison set is
    only same-bucket pairs (Σ bucket², never n²) — then dedupe pair hits
    across buckets and verify the exact overlap predicate. Same rows, a
    plan that survives 1000× more events."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH iv AS (
            SELECT user_id, event_id, unix_micros(ts) AS s,
                   unix_micros(ts)
                   + CAST(floor(value * 10) AS BIGINT) * 1000000 AS e
            FROM events),
        bucketed AS (
            SELECT user_id, event_id, s, e,
                   explode(sequence(floor(s / 3.6e9), floor(e / 3.6e9)))
                     AS bucket
            FROM iv),
        pairs AS (
            SELECT DISTINCT a.user_id, a.event_id AS event_a,
                   b.event_id AS event_b,
                   a.s AS as_, a.e AS ae, b.s AS bs, b.e AS be
            FROM bucketed a JOIN bucketed b
              ON a.user_id = b.user_id AND a.bucket = b.bucket
                 AND a.event_id < b.event_id)
        SELECT user_id, event_a, event_b,
               round((least(ae, be) - greatest(as_, bs)) / 1000000.0D, 2)
                 AS overlap_s
        FROM pairs
        WHERE as_ <= be AND bs <= ae
          AND least(ae, be) - greatest(as_, bs) > 0
        ORDER BY user_id, event_a, event_b
        """,
    )


@register(
    "events_seasonal_profile",
    oracle="""
    SELECT dayofweek(ts) AS dow, hour(ts) AS hod,
           count(*) AS n_events,
           CAST(round(sum(value) * 100) AS BIGINT) AS total_value_cents,
           round(count(*) * 10000.0 / (sum(count(*)) OVER ())) / 10000.0 AS share
    FROM events
    GROUP BY 1, 2
    ORDER BY dow, hod
    """,
)
def events_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-week seasonal load profile: one partial+final aggregate over
    (dow, hour) — 168 output cells regardless of input size — then a
    window-total share over the tiny aggregate (the window runs on 168 rows,
    not the stream). Spark's dayofweek is 1=Sunday; DuckDB's is 0=Sunday —
    normalized here."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT dow, hod, n_events, total_value_cents,
               -- scale INTO the round: see the r6 note — round(x, 4) at a
               -- half-boundary flips between engines; n*10^4/total rounds
               -- identically as an exactly-representable odd/2
               round(n_events * 10000.0D / sum(n_events) OVER ()) / 10000.0D
                 AS share
        FROM (SELECT dayofweek(ts) - 1 AS dow, hour(ts) AS hod,
                     count(1) AS n_events,
                     CAST(round(sum(value) * 100) AS BIGINT)
                       AS total_value_cents
              FROM events GROUP BY 1, 2)
        ORDER BY dow, hod
        """,
    )


# Robust outlier gate: median absolute deviation per event type with the
# 1.4826 normal-consistency constant (the robust twin of
# events_anomaly_zscore — immune to the very outliers it hunts). Three
# passes over the stream, but each reduces to a per-type scalar that
# broadcasts back; no window, no global sort. Exact medians keep the
# oracle hashable; at 100 TB swap in percentile_approx and drop a pass.
register_ansi(
    "events_mad_outliers",
    """
    WITH med AS (
        SELECT event_type, median(value) AS med
        FROM events GROUP BY event_type
    ),
    mad AS (
        SELECT e.event_type, median(abs(e.value - m.med)) AS mad
        FROM events e JOIN med m USING (event_type)
        GROUP BY e.event_type
    )
    SELECT e.event_type,
           round(m.med, 2) AS med,
           round(d.mad, 2) AS mad,
           CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * d.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e
    JOIN med m USING (event_type)
    JOIN mad d USING (event_type)
    GROUP BY e.event_type, m.med, d.mad
    ORDER BY e.event_type
    """,
)


@register(
    "events_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT user_id, value,
               epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
                   - epoch_us(ts) AS dur_us
        FROM events
    )
    SELECT user_id,
           round(sum(value * dur_us) / sum(dur_us), 2) AS twap,
           round(sum(dur_us) / 3600000000.0, 2) AS observed_hours
    FROM seq WHERE dur_us IS NOT NULL
    GROUP BY user_id
    HAVING count(*) >= 5
    ORDER BY user_id
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): each reading holds until the user's next
    event, so it is weighted by its holding duration — the correct average
    for irregularly-sampled series (plain avg over-weights bursts). One
    window partitioned by user_id (the shared events partitioning key), then
    one aggregate; ties on ts break on event_id so lead() is total-order
    deterministic on both engines."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH seq AS (
            SELECT user_id, value,
                   unix_micros(lead(ts) OVER (PARTITION BY user_id
                                              ORDER BY ts, event_id))
                   - unix_micros(ts) AS dur_us
            FROM events)
        SELECT user_id, twap, observed_hours
        FROM (SELECT user_id,
                     round(sum(value * dur_us) / sum(dur_us), 2) AS twap,
                     round(sum(dur_us) / 3600000000.0D, 2) AS observed_hours,
                     count(1) AS n_holds
              FROM seq WHERE dur_us IS NOT NULL
              GROUP BY user_id)
        WHERE n_holds >= 5
        ORDER BY user_id
        """,
    )


@register(
    "events_cusum_drift",
    oracle="""
    WITH mu AS (
        SELECT event_type,
               CAST(round(avg(value) * 100000) AS BIGINT) AS mu_scaled
        FROM events GROUP BY event_type
    ),
    dev AS (
        SELECT e.event_type, e.ts, e.event_id,
               CAST(round(e.value * 100) AS BIGINT) * 1000 - m.mu_scaled AS d
        FROM events e JOIN mu m USING (event_type)
    ),
    cusum AS (
        SELECT event_type, ts,
               sum(d) OVER (PARTITION BY event_type
                            ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS c
        FROM dev
    )
    SELECT event_type,
           round(max(c) / 100000.0, 2) AS max_cusum,
           min(CASE WHEN c = max_c THEN ts END) AS ts_at_max
    FROM (SELECT *, max(c) OVER (PARTITION BY event_type) AS max_c FROM cusum)
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per event type: running sum of deviations from
    the per-type mean; the maximum excursion and when it peaked flag level
    shifts plain thresholds miss. All arithmetic is EXACT INTEGER in
    scaled units (cents×1000 vs a 10⁻⁵-scaled mean), so the running sum is
    associativity-proof — identical on both engines no matter how window
    partials combine. One shuffle on event_type; everything else is
    window + aggregate within the partition."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH mu AS (
            SELECT event_type,
                   CAST(round(avg(value) * 100000) AS BIGINT) AS mu_scaled
            FROM events GROUP BY event_type),
        dev AS (
            SELECT /*+ BROADCAST(mu) */ e.event_type, e.ts, e.event_id,
                   CAST(round(e.value * 100) AS BIGINT) * 1000 - mu.mu_scaled
                     AS d
            FROM events e JOIN mu ON e.event_type = mu.event_type),
        cusum AS (
            SELECT event_type, ts,
                   sum(d) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND CURRENT ROW) AS c
            FROM dev),
        withmax AS (
            SELECT event_type, ts, c,
                   max(c) OVER (PARTITION BY event_type) AS max_c
            FROM cusum)
        SELECT event_type,
               round(max(c) / 100000.0D, 2) AS max_cusum,
               min(CASE WHEN c = max_c THEN ts END) AS ts_at_max
        FROM withmax
        GROUP BY event_type
        ORDER BY event_type
        """,
    )


@register(
    "events_seasonal_naive_mae",
    oracle="""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hour,
               CAST(round(sum(value) * 100) AS BIGINT) AS total_cents
        FROM events GROUP BY 1, 2
    ),
    joined AS (
        SELECT a.event_type, a.hour, a.total_cents,
               b.total_cents AS forecast_cents
        FROM hourly a JOIN hourly b
          ON b.event_type = a.event_type
         AND b.hour = a.hour - INTERVAL 168 HOUR
    )
    SELECT event_type,
           count(*) AS n_forecasts,
           round(avg(abs(total_cents - forecast_cents)) / 100.0, 2) AS mae,
           round(CAST(sum(abs(total_cents - forecast_cents)) AS DOUBLE)
                 / sum(abs(total_cents)), 4) AS wape
    FROM joined GROUP BY event_type ORDER BY event_type
    """,
)
def events_seasonal_naive_mae(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour's per-type total
    with the value 168 hours (one week) earlier, report MAE and WAPE — the
    baseline every real forecasting model must beat, and a drift alarm when
    WAPE jumps. Hourly totals are exact integer cents (associativity-proof);
    the self-join is a dense equi-join on (type, hour) over the tiny hourly
    rollup, never the raw stream."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS hour,
                   CAST(round(sum(value) * 100) AS BIGINT) AS total_cents
            FROM events GROUP BY event_type, date_trunc('hour', ts)),
        joined AS (
            SELECT a.event_type, abs(a.total_cents - b.total_cents) AS err,
                   a.total_cents
            FROM hourly a JOIN hourly b
              ON a.event_type = b.event_type
             AND a.hour = b.hour + INTERVAL 168 HOURS)
        SELECT event_type, count(1) AS n_forecasts,
               round(avg(err) / 100.0D, 2) AS mae,
               round(CAST(sum(err) AS DOUBLE) / sum(abs(total_cents)), 4)
                 AS wape
        FROM joined
        GROUP BY event_type
        ORDER BY event_type
        """,
    )


@register(
    "events_m4_downsample",
    oracle="""
    WITH ranked AS (
        SELECT date_trunc('hour', ts) AS bucket, value, ts, event_id,
               row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                  ORDER BY ts, event_id) AS rn_first,
               row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                  ORDER BY ts DESC, event_id DESC) AS rn_last
        FROM events
    )
    SELECT bucket,
           count(*) AS n,
           round(min(value), 2) AS v_min,
           round(max(value), 2) AS v_max,
           round(min(CASE WHEN rn_first = 1 THEN value END), 2) AS v_first,
           round(min(CASE WHEN rn_last = 1 THEN value END), 2) AS v_last
    FROM ranked
    GROUP BY bucket ORDER BY bucket
    """,
)
def events_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 time-series downsampling: per hourly pixel-bucket keep min, max,
    first, and last value — the error-free line-chart reduction (Jugel et
    al., VLDB'14): those four points per bucket reproduce the exact pixel
    rendering of the full series at any data volume. One shuffle on the
    bucket: the rank windows and the aggregate share the date_trunc
    partitioning; first/last carry (ts, event_id) tiebreaks so both
    engines pick identical endpoints."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").withColumn(
        "bucket", F.date_trunc("hour", "ts")
    )
    w_f = Window.partitionBy("bucket").orderBy("ts", "event_id")
    w_l = Window.partitionBy("bucket").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    ranked = ev.select(
        "bucket",
        "value",
        F.row_number().over(w_f).alias("rn_first"),
        F.row_number().over(w_l).alias("rn_last"),
    )
    return (
        ranked.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 2).alias("v_min"),
            F.round(F.max("value"), 2).alias("v_max"),
            F.round(
                F.min(F.when(F.col("rn_first") == 1, F.col("value"))), 2
            ).alias("v_first"),
            F.round(
                F.min(F.when(F.col("rn_last") == 1, F.col("value"))), 2
            ).alias("v_last"),
        )
        .orderBy("bucket")
    )


@register(
    "events_funnel_windowed",
    oracle="""
    WITH fv AS (
        SELECT user_id, min(ts) AS t_view FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    fc AS (
        SELECT e.user_id, min(e.ts) AS t_click
        FROM events e JOIN fv ON e.user_id = fv.user_id
        WHERE e.event_type = 'click'
          AND e.ts > fv.t_view
          AND e.ts <= fv.t_view + INTERVAL 1 HOUR
        GROUP BY e.user_id
    ),
    fp AS (
        SELECT e.user_id, min(e.ts) AS t_purchase
        FROM events e JOIN fc ON e.user_id = fc.user_id
        WHERE e.event_type = 'purchase'
          AND e.ts > fc.t_click
          AND e.ts <= fc.t_click + INTERVAL 24 HOURS
        GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM fv) AS n_viewed,
           (SELECT count(*) FROM fc) AS n_clicked_1h,
           (SELECT count(*) FROM fp) AS n_purchased_24h
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict windowed conversion funnel: first view → first click within
    1 hour of it → first purchase within 24 hours of that click. Unlike
    events_funnel (any-order firsts), each stage is anchored to the
    PREVIOUS stage's timestamp with a conversion deadline — the metric
    product analytics actually reports. Three stage aggregates, each an
    equi-join on user_id reusing the same hash partitioning; stage tables
    shrink monotonically so later joins broadcast under AQE."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH fv AS (
            SELECT user_id, min(ts) AS t_view
            FROM events WHERE event_type = 'view' GROUP BY user_id),
        fc AS (
            SELECT e.user_id, min(e.ts) AS t_click
            FROM events e JOIN fv ON e.user_id = fv.user_id
            WHERE e.event_type = 'click'
              AND e.ts > fv.t_view AND e.ts <= fv.t_view + INTERVAL 1 HOUR
            GROUP BY e.user_id),
        fp AS (
            SELECT e.user_id, min(e.ts) AS t_purchase
            FROM events e JOIN fc ON e.user_id = fc.user_id
            WHERE e.event_type = 'purchase'
              AND e.ts > fc.t_click AND e.ts <= fc.t_click + INTERVAL 24 HOURS
            GROUP BY e.user_id)
        SELECT (SELECT count(1) FROM fv) AS n_viewed,
               (SELECT count(1) FROM fc) AS n_clicked_1h,
               (SELECT count(1) FROM fp) AS n_purchased_24h
        """,
    )


@register(
    "events_hypertable_rollup",
    oracle="""
    SELECT
        CASE WHEN grouping(d) = 0 AND grouping(h) = 0 THEN 'hour'
             WHEN grouping(d) = 0 THEN 'day' ELSE 'all' END AS grain,
        coalesce(CAST(d AS VARCHAR), '-') AS day,
        coalesce(CAST(h AS VARCHAR), '-') AS hour,
        event_type,
        count(*) AS n_events,
        round(sum(value), 2) AS sum_value
    FROM (
        SELECT event_type, value,
               CAST(date_trunc('day', ts) AS DATE) AS d,
               extract(hour FROM ts) AS h
        FROM events
    )
    GROUP BY GROUPING SETS ((event_type, d, h), (event_type, d), (event_type))
    ORDER BY grain, day, hour, event_type
    """,
)
def events_hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: the same event stream rolled to
    hour, day, and all-time grains in ONE pass via GROUPING SETS over
    time_bucket columns — the batch twin of a TimescaleDB continuous
    aggregate / the streaming matview. grouping() flags name the grain;
    coarser grains print '-' for the finer bucket columns (string-typed so
    one schema serves all grains).

    Scale shape: a single Expand + partial/final aggregate — the fact rows
    are read once and fan out 3× inside the stage (no re-scan per grain);
    the shuffle carries partially-aggregated (grain, bucket, type) rows,
    whose cardinality is bounded by hours×types, not event count. At 100 TB
    the rollup output is what the serving tier stores; finer-grain spines
    derive coarser ones incrementally (see streaming/matview.py for the
    incremental path).

    Single-parse SQL body (Spark dialect matches the oracle up to
    date_trunc/hour syntax).
    """
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        SELECT
            CASE WHEN grouping(d) = 0 AND grouping(h) = 0 THEN 'hour'
                 WHEN grouping(d) = 0 THEN 'day' ELSE 'all' END AS grain,
            coalesce(CAST(d AS STRING), '-') AS day,
            coalesce(CAST(h AS STRING), '-') AS hour,
            event_type,
            count(1) AS n_events,
            round(sum(value), 2) AS sum_value
        FROM (
            SELECT event_type, value,
                   CAST(date_trunc('DAY', ts) AS DATE) AS d,
                   hour(ts) AS h
            FROM events
        )
        GROUP BY GROUPING SETS ((event_type, d, h), (event_type, d), (event_type))
        ORDER BY grain, day, hour, event_type
        """,
    )


@register(
    "events_sequence_pattern",
    oracle="""
    WITH seqs AS (
        SELECT user_id,
               count(*) AS n_events,
               string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id)
                 AS seq
        FROM events WHERE event_type IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, n_events,
           CAST(len(regexp_extract_all(seq, 'vcp')) AS BIGINT)
             AS vcp_conversions,
           seq LIKE '%pe%' AS err_after_purchase
    FROM seqs
    ORDER BY user_id
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTIGUOUS event-sequence pattern matching per user — the
    MATCH_RECOGNIZE shape (view→click→purchase with NO events in between,
    and the error-immediately-after-purchase incident signature). The
    funnel operators count subsequences (steps in order, gaps allowed);
    this is the strict-adjacency complement dashboards use for flow
    integrity and incident forensics.

    Plan: one groupBy(user) folds each user's history into an
    initial-letter string in deterministic (ts, event_id) total order
    (event types here have distinct initials: c/e/p/s/v), then pattern
    counts are row-local regexes inside codegen. ONE light HOF layer
    (field-extraction transform over the sorted per-user array) — the
    collect_list + array_sort is the same per-key fold every sessionization
    query uses; per-user history length is bounded by retention policy at
    100 TB, and the single shuffle is user-keyed. Non-overlapping counts:
    regexp_extract_all consumes matches identically on both engines.
    NULL event_type rows are filtered identically on both sides —
    without the filter Spark's concat_ws('') yields '' where DuckDB's
    string_agg yields NULL for an all-NULL user (r8 code review)."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH seqs AS (
            SELECT user_id,
                   count(1) AS n_events,
                   concat_ws('',
                       transform(
                           array_sort(collect_list(struct(
                               ts AS t, event_id AS i,
                               substring(event_type, 1, 1) AS c))),
                           x -> x.c)) AS seq
            FROM events WHERE event_type IS NOT NULL GROUP BY user_id
        )
        SELECT user_id, n_events,
               CAST(size(regexp_extract_all(seq, 'vcp', 0)) AS BIGINT)
                 AS vcp_conversions,
               seq LIKE '%pe%' AS err_after_purchase
        FROM seqs
        ORDER BY user_id
        """,
    )


@register(
    "events_sessionization",
    oracle="""
    WITH e AS (
        SELECT user_id, epoch_us(ts) AS t_us, event_id, event_type
        FROM events WHERE user_id < 100),
    lagged AS (
        SELECT user_id, t_us, event_id, event_type,
               CASE WHEN lag(t_us) OVER (
                        PARTITION BY user_id ORDER BY t_us, event_id)
                        IS NULL
                    OR t_us - lag(t_us) OVER (
                        PARTITION BY user_id ORDER BY t_us, event_id)
                       > 1800000000
                    THEN 1 ELSE 0 END AS is_new
        FROM e),
    sess AS (
        SELECT user_id, t_us, event_type,
               CAST(sum(is_new) OVER (
                   PARTITION BY user_id ORDER BY t_us, event_id)
                 AS BIGINT) AS session_seq
        FROM lagged)
    SELECT user_id, session_seq,
           min(t_us)             AS session_start_us,
           max(t_us) - min(t_us) AS duration_us,
           count(*)              AS n_events,
           count(DISTINCT event_type) AS n_types
    FROM sess GROUP BY user_id, session_seq
    ORDER BY user_id, session_seq
    """,
)
def events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch gap-based sessionization: a new session starts when a user is
    idle > 30 minutes (the classic web-analytics cut; the batch complement
    of streaming/events.py's session windows). lag() marks boundaries, a
    running sum of the boundary flags numbers the sessions, one aggregate
    per session emits start/duration/size — the textbook two-window shape.

    Scale shape: ONE shuffle on user_id serves both windows AND the final
    per-session aggregate (same partitioning key prefix — Catalyst reuses
    the exchange), so the whole query is a single user-keyed pass no matter
    the corpus size; per-user state is a sort of that user's events only.
    Timestamps are carried as epoch MICROSECONDS (unix_micros/epoch_us) —
    exact BIGINTs on both engines, immune to the sub-second rounding skew
    between Spark's unix_timestamp (floor) and DuckDB's extract(epoch)
    (round). user_id < 100 bounds the audited slice, as the interarrival
    and gaps-islands siblings do.

    Reference parity: session-window semantics per the reference's event
    test corpus (gap-based grouping); cf. SURVEY.md §2.C event analytics.
    """
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH e AS (
            SELECT user_id, unix_micros(ts) AS t_us, event_id, event_type
            FROM events WHERE user_id < 100),
        lagged AS (
            SELECT user_id, t_us, event_id, event_type,
                   CASE WHEN lag(t_us) OVER (
                            PARTITION BY user_id ORDER BY t_us, event_id)
                            IS NULL
                        OR t_us - lag(t_us) OVER (
                            PARTITION BY user_id ORDER BY t_us, event_id)
                           > 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM e),
        sess AS (
            SELECT user_id, t_us, event_type,
                   sum(is_new) OVER (
                       PARTITION BY user_id ORDER BY t_us, event_id)
                     AS session_seq
            FROM lagged)
        SELECT user_id, session_seq,
               min(t_us)             AS session_start_us,
               max(t_us) - min(t_us) AS duration_us,
               count(1)              AS n_events,
               count(DISTINCT event_type) AS n_types
        FROM sess GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
        """,
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events WHERE event_type IS NOT NULL),
    paths AS (
        SELECT user_id,
               string_agg(event_type, '>' ORDER BY rn) AS path
        FROM seq WHERE rn <= 5 GROUP BY user_id)
    SELECT path, count(*) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user journeys: each user's first five event types in time order,
    joined into a path string, ranked by how many users share the journey.
    The funnel-discovery complement of events_markov_transitions (which
    models one step) and events_funnel (which checks ONE prescribed path) —
    this surfaces which paths exist at all.

    Determinism: the per-user order is the (ts, event_id) total order;
    Spark's collect_list is order-free because the struct array is
    array_sort-ed by the row number before joining (the ordered-string_agg
    twin); the final ranking ties break on the path string.

    Scale shape: one shuffle on user_id builds the prefix (row_number
    window + per-user aggregate share the partitioning); the path census
    is a second aggregate whose key space is bounded by #event_types^5,
    and the leaderboard is a top-20 TakeOrdered, never a global sort."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH seq AS (
            SELECT user_id, event_type,
                   row_number() OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events WHERE event_type IS NOT NULL),
        paths AS (
            SELECT user_id,
                   array_join(transform(
                       array_sort(collect_list(struct(rn AS r,
                                                      event_type AS t))),
                       x -> x.t), '>') AS path
            FROM seq WHERE rn <= 5 GROUP BY user_id)
        SELECT path, count(1) AS n_users
        FROM paths
        GROUP BY path
        ORDER BY n_users DESC, path
        LIMIT 20
        """,
    )


@register(
    "events_hazard_curve",
    oracle="""
    WITH bounds AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
    users AS (
        SELECT user_id,
               datediff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
                 AS life_d,
               datediff('day', CAST(max(ts) AS DATE),
                        (SELECT dmax FROM bounds)) >= 14 AS churned
        FROM events GROUP BY user_id),
    per_week AS (
        SELECT life_d // 7 AS week,
               count(*) AS n_ending,
               CAST(sum(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_churned
        FROM users GROUP BY life_d // 7),
    curve AS (
        SELECT week, n_churned,
               CAST(sum(n_ending) OVER (
                   ORDER BY week DESC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                 AS n_at_risk
        FROM per_week)
    SELECT CAST(week AS BIGINT) AS week, n_at_risk, n_churned,
           round(n_churned / CAST(n_at_risk AS DOUBLE), 4) AS hazard
    FROM curve
    ORDER BY week
    """,
)
def events_hazard_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete churn-hazard curve (the Kaplan-Meier life-table primitive):
    per lifetime-week, how many users were still observable at that age
    (at-risk) and how many churned in it — churn = last activity ≥ 14 days
    before the corpus end; later last-touches are right-censored (they
    leave the at-risk pool without counting as churn, exactly the KM
    censoring rule). The retention complement of events_retention_cohort:
    cohorts count WHO came back, the hazard curve says WHEN users die.

    Determinism & exactness: lifetimes are calendar-day integers (both
    engines CAST to DATE first, so Spark's datediff and DuckDB's
    datediff('day') count identical day boundaries); the at-risk pool is
    a reverse cumulative sum of exact per-week counts; hazard is the one
    float division, round(4).

    Scale shape: one user-keyed aggregate (map-side combine) collapses
    the corpus to one row per user, a second collapses users to one row
    per lifetime-week, and the reverse-cumulative window runs over that
    bounded week histogram — never over users or events."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH bounds AS (SELECT CAST(max(ts) AS DATE) AS dmax FROM events),
        users AS (
            SELECT user_id,
                   datediff(CAST(max(ts) AS DATE), CAST(min(ts) AS DATE))
                     AS life_d,
                   datediff((SELECT dmax FROM bounds), CAST(max(ts) AS DATE))
                     >= 14 AS churned
            FROM events GROUP BY user_id),
        per_week AS (
            SELECT life_d DIV 7 AS week,
                   count(1) AS n_ending,
                   sum(CASE WHEN churned THEN 1 ELSE 0 END) AS n_churned
            FROM users GROUP BY life_d DIV 7),
        curve AS (
            SELECT week, n_churned,
                   sum(n_ending) OVER (
                       ORDER BY week DESC ROWS UNBOUNDED PRECEDING)
                     AS n_at_risk
            FROM per_week)
        SELECT week, n_at_risk, n_churned,
               round(n_churned / CAST(n_at_risk AS DOUBLE), 4) AS hazard
        FROM curve
        ORDER BY week
        """,
    )
