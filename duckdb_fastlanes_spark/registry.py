"""Query registry — the single source of truth behind ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers here as a named query:
a callable ``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the
equivalent ANSI SQL the DuckDB oracle runs on the same parquet tables.

Contract notes (driver compare, see __spark_entry__.py docstring):
- columns are sorted by name before value-hashing → alias every computed column
  identically in the Spark code and the oracle SQL;
- floating aggregates are order-dependent in the last ulps → both sides round
  aggregated doubles to a fixed scale (ROUND_SCALE) so hashes are stable.
"""

from __future__ import annotations

import importlib
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}

#: fixed rounding scale for floating-point aggregates on both engines
ROUND_SCALE = 2

# modules that register queries on import
_MODULES = (
    "duckdb_fastlanes_spark.operators.tpch",
    "duckdb_fastlanes_spark.operators.tpch_suite",
    "duckdb_fastlanes_spark.operators.relational_ext",
    "duckdb_fastlanes_spark.operators.event_analytics",
    "duckdb_fastlanes_spark.operators.relational_ext2",
    "duckdb_fastlanes_spark.operators.analytics_ext",
    "duckdb_fastlanes_spark.operators.analytics_ext2",
    "duckdb_fastlanes_spark.operators.analytics_ext3",
    "duckdb_fastlanes_spark.operators.scan",
    "duckdb_fastlanes_spark.operators.sampling",
    "duckdb_fastlanes_spark.operators.joins",
    "duckdb_fastlanes_spark.operators.aggregates",
    "duckdb_fastlanes_spark.operators.windows",
    "duckdb_fastlanes_spark.operators.setops",
    "duckdb_fastlanes_spark.operators.subqueries",
    "duckdb_fastlanes_spark.operators.scalars",
    "duckdb_fastlanes_spark.operators.roundtrip",
    "duckdb_fastlanes_spark.operators.graph",
    "duckdb_fastlanes_spark.operators.advisor",
    "duckdb_fastlanes_spark.operators.types_bridge",
    "duckdb_fastlanes_spark.operators.warehouse",
    "duckdb_fastlanes_spark.pipeline.text",
    "duckdb_fastlanes_spark.pipeline.curation",
    "duckdb_fastlanes_spark.pipeline.dedup",
    "duckdb_fastlanes_spark.pipeline.similarity",
    "duckdb_fastlanes_spark.pipeline.retrieval",
    "duckdb_fastlanes_spark.pipeline.multimodal",
    "duckdb_fastlanes_spark.streaming.events",
    "duckdb_fastlanes_spark.streaming.stateful",
    "duckdb_fastlanes_spark.functions.skew",
    "duckdb_fastlanes_spark.io.cow_table",
)

_loaded = False


def _load() -> None:
    global _loaded
    if not _loaded:
        for mod in _MODULES:
            importlib.import_module(mod)
        _loaded = True


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register a named query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def register_ansi(name: str, sql: str) -> None:
    """Register a query whose Spark body IS its oracle text.

    Catalyst parses and plans the same ANSI SQL that DuckDB runs as the
    oracle: one JVM parse instead of a Column tree built call by call, and
    both engines answer from the identical text. Used only where that text
    plans with the same join/exchange features as a hand-built DataFrame
    would; queries whose DataFrame form encodes a better plan (extra
    broadcasts, merge pins) keep it."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        from duckdb_fastlanes_spark.catalog import sql_q

        return sql_q(spark, sf_dir, sql)

    register(name, sql)(run)


def queries() -> dict[str, QueryFn]:
    _load()
    return dict(_QUERIES)


def oracles() -> dict[str, str]:
    _load()
    return dict(_ORACLES)
