"""Subquery operators (SURVEY.md §2.C Subqueries row): scalar, IN, EXISTS,
correlated — Catalyst decorrelates like DuckDB's flattening does.

Expressed via spark.sql so the subquery forms are literal; the optimized plans
are joins/semijoins (verified in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from duckdb_fastlanes_spark.catalog import register_views
from duckdb_fastlanes_spark.registry import register, register_ansi

_SCALAR_SQL = """
SELECT o_orderkey, round(o_totalprice, 2) AS price
FROM orders
WHERE o_totalprice > 2 * (SELECT avg(o_totalprice) FROM orders)
"""

_IN_SQL = """
SELECT c_custkey, c_name
FROM customer
WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
"""

_EXISTS_CORR_SQL = """
SELECT c.c_custkey, round(c.c_acctbal, 2) AS acctbal
FROM customer c
WHERE EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > c.c_acctbal * 1000
)
"""

_NOT_IN_SQL = """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))
"""

_CORR_SCALAR_SQL = """
SELECT o.o_orderkey,
       round(o.o_totalprice, 2) AS price,
       (SELECT count(*) FROM lineitem l WHERE l.l_orderkey = o.o_orderkey) AS n_lines
FROM orders o
WHERE o.o_orderkey % 20 = 0
"""


@register("subquery_scalar", oracle=_SCALAR_SQL)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (global avg) — broadcast single-row join."""
    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SQL)


@register("subquery_in", oracle=_IN_SQL)
def subquery_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN subquery → left-semi join."""
    register_views(spark, sf_dir)
    return spark.sql(_IN_SQL)


@register("subquery_exists_correlated", oracle=_EXISTS_CORR_SQL)
def subquery_exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS with a cross-table predicate — decorrelated to a
    semi join with a non-equi conjunct."""
    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_CORR_SQL)


# NOT IN (null-aware anti join; subquery side is NOT NULL here so 2VL).
register_ansi("subquery_not_in", _NOT_IN_SQL)


@register("subquery_correlated_scalar", oracle=_CORR_SCALAR_SQL)
def subquery_correlated_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (per-order line count) — decorrelated to an
    outer join over a pre-aggregated subquery."""
    register_views(spark, sf_dir)
    return spark.sql(_CORR_SCALAR_SQL)


@register(
    "subquery_quantified",
    oracle="""
    WITH ref AS (SELECT p_retailprice FROM part WHERE p_brand = 'Brand#4'),
    nref AS (SELECT count(*) AS n_ref FROM ref)
    SELECT leg, n, n_ref FROM (
        SELECT 'gt_all' AS leg, count(*) AS n
        FROM part WHERE p_retailprice > ALL (SELECT p_retailprice FROM ref)
        UNION ALL
        SELECT 'lt_any' AS leg, count(*) AS n
        FROM part WHERE p_retailprice < ANY (SELECT p_retailprice FROM ref)
        UNION ALL
        SELECT 'le_all' AS leg, count(*) AS n
        FROM part WHERE p_retailprice <= ALL (SELECT p_retailprice FROM ref)
        UNION ALL
        SELECT 'ge_any' AS leg, count(*) AS n
        FROM part WHERE p_retailprice >= ANY (SELECT p_retailprice FROM ref)
    ) CROSS JOIN nref
    ORDER BY leg
    """,
)
def subquery_quantified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantified comparisons — ``> ALL``, ``< ANY``, ``<= ALL``, ``>= ANY``
    — a SQL surface Spark does not parse natively. Each quantifier
    rewrites to a scalar-aggregate subquery (x > ALL S ≡ x > max(S);
    x < ANY S ≡ x < max(S); x <= ALL S ≡ x <= min(S); x >= ANY S ≡
    x >= min(S)), exact when the reference set is non-empty and null-free
    (TPC-H retail prices) — and the output carries n_ref so that
    precondition is CHECKED per run, not assumed: an empty reference set
    would flip > ALL to vacuous truth under the native forms while the
    max-rewrite compares against NULL, and the n_ref column (plus the
    engines disagreeing loudly in the sweep) surfaces it instead of
    silently diverging. DuckDB runs the native quantified forms as the
    oracle, proving the rewrite.

    Scale shape: the reference set reduces map-side to ONE (max, min)
    bounds row, broadcast-cross-joined into a SINGLE pass over the outer
    table that evaluates all four quantifiers as conditional counts (a
    naive per-leg UNION would re-scan the outer table four times); the
    leg pivot is a 1-row stack. Two scans total regardless of leg count."""
    from duckdb_fastlanes_spark.catalog import sql_q

    return sql_q(
        spark,
        sf_dir,
        """
        WITH bounds AS (
            SELECT max(p_retailprice) AS hi, min(p_retailprice) AS lo,
                   count(*) AS n_ref
            FROM part WHERE p_brand = 'Brand#4'),
        counts AS (
            SELECT (SELECT n_ref FROM bounds) AS n_ref,
                   coalesce(sum(CASE WHEN p_retailprice > hi
                                     THEN 1 ELSE 0 END), 0)  AS gt_all,
                   coalesce(sum(CASE WHEN p_retailprice < hi
                                     THEN 1 ELSE 0 END), 0)  AS lt_any,
                   coalesce(sum(CASE WHEN p_retailprice <= lo
                                     THEN 1 ELSE 0 END), 0)  AS le_all,
                   coalesce(sum(CASE WHEN p_retailprice >= lo
                                     THEN 1 ELSE 0 END), 0)  AS ge_any
            FROM part CROSS JOIN bounds)
        SELECT leg, n, n_ref FROM counts
        LATERAL VIEW stack(4, 'gt_all', gt_all, 'lt_any', lt_any,
                              'le_all', le_all, 'ge_any', ge_any) AS leg, n
        ORDER BY leg
        """,
    )
