"""Round-10 analytics extensions: funnel conversion, cohort retention,
ranking-quality (nDCG) evaluation, and a data-quality expectations gate.

Beyond-reference LLM-data-pipeline / warehouse shapes (SURVEY.md §7 — the
reference's SQL surface is vendored DuckDB; these compose the same public
SQL primitives Spark-first). Every operator ships with a full DuckDB hash
oracle and is empty-catalog-clean on arrival (the standing r9/r10 gate).

Exactness discipline (the round-8/9 playbook): counts and sums stay in
exact integers; every rate quantizes through the identical IEEE sequence
(1000.0 * a / b, round, cast) on both engines; irrational per-rank nDCG
weights are PRECOMPUTED ONCE in Python and inlined as integer literals in
BOTH dialects, so no cross-engine libm ulp can leak into the hash."""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from duckdb_fastlanes_spark.registry import register, register_ansi

#: nDCG evaluation geometry: queries = vec_id < NDCG_QUERIES, candidate pool
#: = the next NDCG_POOL vectors (bounded cross join — the documented audit
#: slice; the IVF cell restriction is the 100 TB path, ranking unchanged)
NDCG_QUERIES = 8
NDCG_POOL = 512
NDCG_K = 10

#: per-rank DCG weight in micro-units: round(1e6 / log2(r + 1)), inlined as
#: integer literals in both dialects (see module docstring)
_NDCG_W = [round(1_000_000 / math.log2(r + 1)) for r in range(1, NDCG_K + 1)]
#: cumulative ideal-DCG table: _NDCG_CUM[n] = Σ weights of the top n ranks
_NDCG_CUM = [sum(_NDCG_W[:n]) for n in range(1, NDCG_K + 1)]


def _funnel_sql(epoch: str) -> str:
    """view → click → purchase ordered funnel; ``epoch`` is the dialect's
    µs-epoch expression over column ``e.ts`` / ``ts``."""
    return f"""
    WITH s1 AS (
        SELECT user_id, min({epoch.format(c='ts')}) AS t1
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    s2 AS (
        SELECT e.user_id, min({epoch.format(c='e.ts')}) AS t2
        FROM events e JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND {epoch.format(c='e.ts')} >= s1.t1
        GROUP BY e.user_id
    ),
    s3 AS (
        SELECT e.user_id, min({epoch.format(c='e.ts')}) AS t3
        FROM events e JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND {epoch.format(c='e.ts')} >= s2.t2
        GROUP BY e.user_id
    ),
    counts AS (
        SELECT (SELECT count(DISTINCT user_id) FROM events) AS nu,
               (SELECT count(*) FROM s1) AS n1,
               (SELECT count(*) FROM s2) AS n2,
               (SELECT count(*) FROM s3) AS n3
    )
    SELECT nu AS n_users, n1 AS n_view, n2 AS n_view_click, n3 AS n_full_funnel,
           CASE WHEN n1 = 0 THEN NULL
                ELSE CAST(round(1000.0 * n2 / n1, 0) AS BIGINT) END AS conv_click_milli,
           CASE WHEN n2 = 0 THEN NULL
                ELSE CAST(round(1000.0 * n3 / n2, 0) AS BIGINT) END AS conv_purchase_milli
    FROM counts
    """


@register("events_funnel_conversion", oracle=_funnel_sql("epoch_us({c})"))
def events_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel conversion over the events stream — the canonical
    product-analytics rollup: a user converts step k only by an event AT OR
    AFTER their step-(k-1) time (first view → first subsequent click →
    first subsequent purchase). One summary row: audience, per-step counts,
    and step conversion rates in milli-units.

    Scale shape: each step is one key-local aggregate on user_id; the two
    step joins probe the previous step's (user, t) frame on the same key
    (co-partitioned after one shuffle); the summary is four 1-row
    aggregates cross-joined. Timestamps compare as exact epoch-µs BIGINTs
    (unix_micros / epoch_us — no sub-second truncation band, the
    events_did_uplift lesson). Empty feed: one (0, 0, 0, 0, NULL, NULL)
    row in both engines."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(spark, sf_dir, _funnel_sql("unix_micros({c})"))


_WEEK_US = 7 * 24 * 3600 * 1_000_000


def _retention_sql(weekdiv: str) -> str:
    """Weekly cohort retention; ``weekdiv`` is the dialect's floor-division
    week-index expression over epoch µs."""
    return f"""
    WITH base AS (
        SELECT user_id, {weekdiv} AS w
        FROM events GROUP BY user_id, {weekdiv}
    ),
    firstw AS (SELECT user_id, min(w) AS cw FROM base GROUP BY user_id),
    cohort AS (SELECT cw, count(*) AS n_cohort FROM firstw GROUP BY cw),
    act AS (
        SELECT f.cw, b.w - f.cw AS age_weeks, count(*) AS n_active
        FROM base b JOIN firstw f ON b.user_id = f.user_id
        GROUP BY f.cw, b.w - f.cw
    )
    SELECT a.cw AS cohort_week, a.age_weeks, c.n_cohort, a.n_active,
           CAST(round(1000.0 * a.n_active / c.n_cohort, 0) AS BIGINT)
             AS retention_milli
    FROM act a JOIN cohort c ON a.cw = c.cw
    ORDER BY cohort_week, age_weeks
    """


@register(
    "events_retention_matrix",
    oracle=_retention_sql(f"epoch_us(ts) // {_WEEK_US}"),
)
def events_retention_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by first-active epoch
    week, counted in every later week they appear, reported as retention
    per cohort-week × age — the growth-analytics twin of orders_cohort_ltv
    on the event stream.

    Scale shape: the user-week activity set is one map-side-combinable
    group-by (events collapse to ≤ users × weeks rows before the shuffle);
    the cohort join runs key-local on user_id; week indexing is exact
    integer floor division of epoch µs, so cohort boundaries cannot drift
    between engines or partition layouts. Empty feed: zero rows, both
    engines."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(spark, sf_dir, _retention_sql(f"unix_micros(ts) DIV {_WEEK_US}"))


def _ndcg_oracle() -> str:
    w_list = ", ".join(str(x) for x in _NDCG_W)
    cum_list = ", ".join(str(x) for x in _NDCG_CUM)
    return f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e
               FROM embeddings WHERE vec_id < {NDCG_QUERIES + NDCG_POOL}),
    q AS (SELECT * FROM v WHERE vec_id < {NDCG_QUERIES}),
    pool AS (SELECT * FROM v WHERE vec_id >= {NDCG_QUERIES}),
    ranked AS (
        SELECT q.vec_id AS query_id, q.label AS qlabel, p.label AS plabel,
               row_number() OVER (
                   PARTITION BY q.vec_id
                   ORDER BY CAST(round(list_cosine_similarity(q.e, p.e)
                                       * 1000000, 0) AS BIGINT) DESC, p.vec_id
               ) AS rk
        FROM q CROSS JOIN pool p
    ),
    top AS (SELECT * FROM ranked WHERE rk <= {NDCG_K}),
    scored AS (
        SELECT query_id,
               SUM(CASE WHEN plabel = qlabel
                        THEN [{w_list}][rk] ELSE 0 END) AS dcg_micro,
               CAST(count(*) FILTER (WHERE plabel = qlabel) AS BIGINT) AS n_rel
        FROM top GROUP BY query_id
    )
    SELECT query_id, n_rel, CAST(dcg_micro AS BIGINT) AS dcg_micro,
           CASE WHEN n_rel = 0 THEN NULL
                ELSE CAST([{cum_list}][CAST(n_rel AS INTEGER)] AS BIGINT) END
             AS idcg_micro,
           CASE WHEN n_rel = 0 THEN NULL
                ELSE CAST(round(1000.0 * dcg_micro
                                / [{cum_list}][CAST(n_rel AS INTEGER)], 0) AS BIGINT)
           END AS ndcg_milli
    FROM scored
    ORDER BY query_id
    """


@register("sim_ndcg_eval", oracle=_ndcg_oracle())
def sim_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{NDCG_K} of cosine retrieval against label relevance: for each
    of the {NDCG_QUERIES} query vectors, rank a {NDCG_POOL}-vector pool by
    cosine, score binary relevance (label match) with the standard
    1/log2(rank+1) discount, and normalize by the ideal DCG — the ranking-
    quality metric a retrieval pipeline gates embedding models on,
    completing the eval family (recall: sim_ivf_recall, margin:
    sim_label_margin, AUC: sim_auc_same_label, kNN accuracy:
    sim_knn_label_eval).

    Exactness: the ranking key is the cosine QUANTIZED to integer
    micro-units before the row_number ORDER BY in both dialects (vec_id
    tiebreak) — DuckDB's list_cosine_similarity and the Spark zip_with
    fold accumulate in different orders, and a raw-double sort would let
    a ulp divergence on near-tied pool vectors flip rk (r10 ADVICE
    item); the irrational rank discounts are precomputed integer
    micro-weights inlined into BOTH dialects (no cross-engine libm ulp);
    DCG/IDCG are exact integer sums (reduction-order-invariant = safe on
    any partition layout); only the final ratio divides — identical IEEE
    operands both engines. Scale shape: the bounded audit slice broadcasts
    {NDCG_QUERIES} queries against the pool scan; per-query ranking is a
    window partitioned by query id. The 100 TB path swaps the bounded pool
    for the IVF cell restriction (sim_ivf_topk) — scoring unchanged."""
    from duckdb_fastlanes_spark.catalog import sql_q

    w_arr = ", ".join(str(x) for x in _NDCG_W)
    cum_arr = ", ".join(str(x) for x in _NDCG_CUM)
    cos = (
        "aggregate(zip_with(qe, pe, (x, y) -> x * y), 0D, (a, x) -> a + x)"
        " / (sqrt(aggregate(qe, 0D, (a, x) -> a + x * x))"
        " * sqrt(aggregate(pe, 0D, (a, x) -> a + x * x)))"
    )
    return sql_q(
        spark,
        sf_dir,
        f"""
        WITH v AS (SELECT vec_id, label, CAST(embedding AS array<double>) AS e
                   FROM embeddings WHERE vec_id < {NDCG_QUERIES + NDCG_POOL}),
        ranked AS (
            SELECT query_id, qlabel, plabel,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY CAST(round(({cos}) * 1000000, 0) AS BIGINT)
                                DESC, p_id
                   ) AS rk
            FROM (SELECT /*+ BROADCAST(q) */
                         q.vec_id AS query_id, q.label AS qlabel, q.e AS qe,
                         p.vec_id AS p_id, p.label AS plabel, p.e AS pe
                  FROM (SELECT * FROM v WHERE vec_id < {NDCG_QUERIES}) q
                  CROSS JOIN (SELECT * FROM v WHERE vec_id >= {NDCG_QUERIES}) p) c
        ),
        scored AS (
            SELECT query_id,
                   SUM(CASE WHEN plabel = qlabel
                            THEN element_at(array({w_arr}), rk) ELSE 0 END) AS dcg_micro,
                   CAST(count(CASE WHEN plabel = qlabel THEN 1 END) AS BIGINT) AS n_rel
            FROM ranked WHERE rk <= {NDCG_K}
            GROUP BY query_id
        )
        SELECT query_id, n_rel, CAST(dcg_micro AS BIGINT) AS dcg_micro,
               CASE WHEN n_rel = 0 THEN NULL
                    ELSE CAST(element_at(array({cum_arr}), CAST(n_rel AS INT)) AS BIGINT)
               END AS idcg_micro,
               CASE WHEN n_rel = 0 THEN NULL
                    ELSE CAST(round(1000.0 * dcg_micro
                              / element_at(array({cum_arr}), CAST(n_rel AS INT)), 0) AS BIGINT)
               END AS ndcg_milli
        FROM scored
        ORDER BY query_id
        """,
    )


_DQ_SQL = """
WITH li AS (
    SELECT count(*) AS n,
           count(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS v_qty,
           count(*) FILTER (WHERE l_shipdate IS NULL) AS v_ship,
           count(*) FILTER (WHERE l_discount < 0 OR l_discount > 0.1) AS v_disc
    FROM lineitem
),
o AS (
    SELECT count(*) AS n,
           count(*) FILTER (WHERE o_totalprice <= 0) AS v_price
    FROM orders
),
fk AS (
    -- the left side is already DISTINCT and o_orderkey is unique, so plain
    -- counts suffice (a count(DISTINCT ...) pair would re-expand the join
    -- output). MERGE pin: the column-pruned orders SIZE ESTIMATE slips
    -- under the broadcast threshold while the actual 15 M-row build does
    -- not (measured 8.8 s at the 1000x cell — the tpch_q9 lesson); both
    -- facts are bucket-sorted on orderkey above the input gauge, so the
    -- merge consumes the write-time shuffle with zero Exchange. DuckDB
    -- parses /*+ */ as a comment — same text, both engines.
    SELECT /*+ MERGE(orders) */ count(*) AS n,
           count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS v
    FROM (SELECT DISTINCT l_orderkey FROM lineitem) l
    LEFT JOIN orders ON l_orderkey = o_orderkey
)
SELECT expectation, n_rows, n_violations, n_violations = 0 AS passed FROM (
    SELECT 'lineitem.quantity_in_1_50' AS expectation, n AS n_rows, v_qty AS n_violations FROM li
    UNION ALL SELECT 'lineitem.shipdate_not_null', n, v_ship FROM li
    UNION ALL SELECT 'lineitem.discount_in_0_0.1', n, v_disc FROM li
    UNION ALL SELECT 'orders.totalprice_positive', n, v_price FROM o
    UNION ALL SELECT 'lineitem.orderkey_fk_resolves', n, v FROM fk
) t
ORDER BY expectation
"""


# Data-quality expectations gate (the Great-Expectations shape a
# training-data pipeline runs before every ingest): range, null, and
# referential-integrity checks rolled up to one row per expectation with
# violation counts and a pass flag.
#
# Scale shape: ONE scan of lineitem computes all three of its conditional
# counts (FILTER aggregates — map-side combinable), one scan of orders,
# and the FK check is a distinct-key left join (keys only, both sides
# pre-shrunk by DISTINCT before the join). Empty catalog: all counts 0,
# every expectation passes — five rows, both engines.
register_ansi("dq_expectations_gate", _DQ_SQL)


def _hll_group_sql(dialect: str) -> str:
    """Per-GROUP HyperLogLog: distinct users per event_type, one 64-register
    sketch per group — the groupwise form of sketch_hll_cardinality_audit
    (same deterministic md5 registers, same small-range correction), which
    is the shape that matters at 100 TB: per-key distinct counting with NO
    per-key distinct shuffle — every partition sketches its groups locally
    and registers merge by (group, cell) max."""
    from duckdb_fastlanes_spark.operators.analytics_ext2 import HLL_ALPHA, HLL_M

    if dialect == "duckdb":
        hv = ("CAST(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) "
              "AS UINTEGER) AS BIGINT)")
        buckets = f"SELECT unnest(range({HLL_M})) AS j"
        idiv = f"v // {HLL_M}"
    else:
        hv = f"CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 8), 16, 10) AS BIGINT)"
        buckets = f"SELECT explode(sequence(0, {HLL_M - 1})) AS j"
        idiv = f"v DIV {HLL_M}"
    return f"""
    WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
    hv AS (SELECT event_type, {hv} AS v FROM u),
    split AS (SELECT event_type, v % {HLL_M} AS j, {idiv} AS w FROM hv),
    ranks AS (
        SELECT event_type, j,
               max(CASE WHEN w = 0 THEN 27
                        ELSE 27 - (CAST(floor(log2(CAST(w AS DOUBLE))) AS INTEGER) + 1)
                   END) AS mreg
        FROM split GROUP BY event_type, j
    ),
    gs AS (SELECT DISTINCT event_type FROM u),
    regs AS (
        SELECT g.event_type, b.j, coalesce(r.mreg, 0) AS mreg
        FROM gs g CROSS JOIN ({buckets}) b
        LEFT JOIN ranks r ON r.event_type = g.event_type AND r.j = b.j
    ),
    est AS (
        SELECT event_type,
               {HLL_ALPHA} * {HLL_M} * {HLL_M} / sum(power(2.0, -mreg)) AS e_raw,
               sum(CASE WHEN mreg = 0 THEN 1 ELSE 0 END) AS zeros
        FROM regs GROUP BY event_type
    ),
    ex AS (SELECT event_type, count(*) AS n_exact FROM u GROUP BY event_type),
    fin AS (
        SELECT event_type,
               CASE WHEN e_raw <= 2.5 * {HLL_M} AND zeros > 0
                    THEN {HLL_M} * ln({HLL_M} / CAST(zeros AS DOUBLE))
                    ELSE e_raw END AS e
        FROM est
    )
    SELECT f.event_type, x.n_exact,
           CAST(round(e, 0) AS BIGINT) AS hll_estimate,
           round((e - x.n_exact) / x.n_exact * 100, 2) AS rel_err_pct
    FROM fin f JOIN ex x ON f.event_type = x.event_type
    ORDER BY f.event_type
    """


@register("sketch_hll_by_group", oracle=_hll_group_sql("duckdb"))
def sketch_hll_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users PER EVENT TYPE via one HyperLogLog sketch per group,
    audited against the exact per-group distinct — the groupwise mergeable
    summary that replaces per-key count(DISTINCT) at 100 TB (the global
    form is sketch_hll_cardinality_audit; the Count-Min sibling covers
    frequencies). Each partition sketches its groups locally; merging is
    (group, register) max — no distinct shuffle, combiner-sized exchange.

    Deterministic md5 registers make the per-group estimates engine- and
    layout-invariant, so the full result (estimate AND signed relative
    error per group) hash-checks. Empty feed: zero groups, zero rows,
    both engines."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(spark, sf_dir, _hll_group_sql("spark"))


#: time-to-convert histogram bucket width (6 h in µs) and cap (7 days)
_TTC_BUCKET_US = 6 * 3600 * 1_000_000
_TTC_MAX_BUCKET = 28


def _ttc_sql(epoch: str, intdiv: str) -> str:
    return f"""
    WITH first_view AS (
        SELECT user_id, min({epoch}) AS t_view
        FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    conv AS (
        SELECT e.user_id, min({epoch.replace('ts', 'e.ts')}) - f.t_view AS dt_us
        FROM events e JOIN first_view f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase'
          AND {epoch.replace('ts', 'e.ts')} >= f.t_view
        GROUP BY e.user_id, f.t_view
    ),
    b AS (
        SELECT CASE WHEN {intdiv.format(x='dt_us', d=_TTC_BUCKET_US)} > {_TTC_MAX_BUCKET}
                    THEN {_TTC_MAX_BUCKET}
                    ELSE CAST({intdiv.format(x='dt_us', d=_TTC_BUCKET_US)} AS BIGINT)
               END AS bucket
        FROM conv
    ),
    hist AS (SELECT bucket, count(*) AS n_users FROM b GROUP BY bucket),
    tot AS (SELECT sum(n_users) AS n FROM hist)
    SELECT bucket, CAST(bucket * 6 AS BIGINT) AS from_hours, n_users,
           CAST(round(1000.0 * n_users / n, 0) AS BIGINT) AS share_milli
    FROM hist CROSS JOIN tot
    ORDER BY bucket
    """


@register(
    "events_time_to_convert",
    oracle=_ttc_sql("epoch_us(ts)", "{x} // {d}"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert histogram: per user, first view → first subsequent
    purchase latency, bucketed into 6-hour bins capped at 7 days — the
    conversion-latency curve a growth team reads next to the funnel
    (events_funnel_conversion gives WHO converts; this gives WHEN).

    Scale shape: two key-local aggregates on user_id + a combiner-sized
    histogram; latency arithmetic in exact epoch-µs integers, bucket index
    by integer floor division (both engines bit-identical). Empty feed:
    zero rows."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(spark, sf_dir, _ttc_sql("unix_micros(ts)", "{x} DIV {d}"))
