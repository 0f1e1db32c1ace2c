"""Skew-handling primitives: salted aggregation and salted broadcast-side join.

Beyond-reference extension (SURVEY.md §7 step 6 scale hardening): the
reference's intra-process analogue is its atomic row-group work-stealing
counter (fls_reader.cpp:503-512); across a cluster, key skew needs data-level
spreading instead.

AQE's skew-join splitting (on in session defaults) handles skewed *sort-merge
joins* automatically; these helpers cover the two cases AQE does not:

- **salted two-phase aggregation** — a groupBy whose key distribution is so
  hot that single reducers overflow (the classic "one key owns 30% of 100 TB"
  problem). Phase 1 aggregates on (key, salt) spreading each hot key over
  ``n_salts`` reducers; phase 2 merges the partials on the true key. Works for
  any algebraic aggregate (sum/count/min/max — avg via sum+count).
- **salted replicate join** — an equi-join where one side's hot keys would
  overwhelm single tasks and the small side is too big to broadcast whole:
  explode the small side ``n_salts``× with every salt value, salt the big side
  randomly, join on (key, salt). Replication factor is the knob: cost is
  |small| × n_salts rows shuffled vs. the hot key spread n_salts ways.

Salting trades a second (tiny) shuffle/merge for even reducer load; at small
scale it is pure overhead — that's a caller decision, typically gated on
observed key-frequency stats.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_SALTS = 16


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = DEFAULT_SALTS,
) -> DataFrame:
    """Two-phase salted aggregation.

    ``aggs`` maps output column → (input column, fn) with fn in
    {sum, count, min, max}. count merges by sum in phase 2; the rest are
    idempotent under re-application. Results are identical to a plain
    ``df.groupBy(keys).agg(...)`` — the salt never escapes.
    """
    mergers = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for name, (_, fn) in aggs.items():
        if fn not in mergers:
            raise ValueError(f"{name}: non-algebraic fn {fn!r}; use sum/count/min/max")

    salted = df.withColumn("_salt", (F.rand(seed=0) * n_salts).cast("int"))
    phase1 = salted.groupBy(*keys, "_salt").agg(
        *[getattr(F, fn)(col).alias(name) for name, (col, fn) in aggs.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[
            getattr(F, mergers[fn])(name).alias(name)
            for name, (_, fn) in aggs.items()
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    big_key: str,
    small_key: str,
    n_salts: int = DEFAULT_SALTS,
    how: str = "inner",
) -> DataFrame:
    """Skew-resistant equi-join: replicate ``small`` n_salts×, salt ``big``
    randomly, join on (key, salt). Output equals ``big.join(small, big[big_key]
    == small[small_key], how)`` for how in {inner, left}. The salt columns are
    dropped from the result."""
    if how not in ("inner", "left"):
        raise ValueError("salted_join supports inner/left (replication breaks right/full)")
    salts = F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("_salt")
    small_rep = small.select("*", salts)
    big_salted = big.withColumn("_salt", (F.rand(seed=0) * n_salts).cast("int"))
    joined = big_salted.join(
        small_rep,
        (big_salted[big_key] == small_rep[small_key])
        & (big_salted["_salt"] == small_rep["_salt"]),
        how,
    )
    return joined.drop("_salt")


def top_key_frequencies(
    df: DataFrame, keys: Sequence[str], top_n: int = 20
) -> DataFrame:
    """Key-frequency probe used to decide whether salting pays: the driver-side
    caller inspects the top-N key counts (tiny result) and compares the hottest
    against rows/shuffle-partitions."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), *keys)
        .limit(top_n)
    )


def _register_query() -> None:
    """Declare salted aggregation as an oracle-checked query: the salt is an
    internal spreading device, so the result must hash-match the plain
    GROUP BY the oracle runs."""
    from pyspark.sql import SparkSession

    from duckdb_fastlanes_spark.catalog import table
    from duckdb_fastlanes_spark.registry import ROUND_SCALE, register

    @register(
        "agg_salted_twophase",
        oracle=f"""
        SELECT l_returnflag,
               round(sum(l_quantity), {ROUND_SCALE}) AS sum_qty,
               count(l_quantity)                     AS n_rows,
               min(l_quantity)                       AS min_qty,
               max(l_quantity)                       AS max_qty
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
        """,
    )
    def agg_salted_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
        li = table(spark, sf_dir, "lineitem")
        out = salted_agg(
            li,
            ["l_returnflag"],
            {
                "sum_qty": ("l_quantity", "sum"),
                "n_rows": ("l_quantity", "count"),
                "min_qty": ("l_quantity", "min"),
                "max_qty": ("l_quantity", "max"),
            },
            n_salts=16,
        )
        return out.select(
            "l_returnflag",
            F.round("sum_qty", 2).alias("sum_qty"),
            "n_rows",
            "min_qty",
            "max_qty",
        ).orderBy("l_returnflag")

    @register(
        "join_salted_skew",
        oracle=f"""
        WITH dim AS (
            SELECT l_returnflag AS rf, count(*) AS rf_total
            FROM lineitem GROUP BY 1
        )
        SELECT l.l_returnflag,
               count(*) AS n_rows,
               round(sum(l.l_quantity), {ROUND_SCALE}) AS sum_qty,
               min(d.rf_total) AS rf_total
        FROM lineitem l JOIN dim d ON d.rf = l.l_returnflag
        GROUP BY l.l_returnflag
        ORDER BY l.l_returnflag
        """,
    )
    def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Skew-resistant join, oracle-proven: lineitem ⋈ a 3-row derived dim
        on l_returnflag — the worst-case skew shape (every fact row hits one
        of 3 keys, so an unsalted shuffle join lands the whole table on 3
        reducers). ``salted_join`` replicates the dim 16× and salts the fact
        side; the salt must be result-invisible, which the plain-join oracle
        verifies. (At this dim size Spark would broadcast anyway; the query
        pins the fact-fact fallback semantics AQE's skew-split also covers —
        two independent layers of skew defense, both engine-checked.)"""
        li = table(spark, sf_dir, "lineitem")
        dim = (
            li.groupBy(F.col("l_returnflag").alias("rf"))
            .agg(F.count(F.lit(1)).alias("rf_total"))
        )
        joined = salted_join(
            li.select("l_returnflag", "l_quantity"), dim, "l_returnflag", "rf",
            n_salts=16,
        )
        return (
            joined.groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.round(F.sum("l_quantity"), ROUND_SCALE).alias("sum_qty"),
                F.min("rf_total").alias("rf_total"),
            )
            .orderBy("l_returnflag")
        )


_register_query()
