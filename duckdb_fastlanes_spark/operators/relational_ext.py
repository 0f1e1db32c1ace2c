"""Relational surface extensions: JSON, explode/unnest, pivot/unpivot,
exact percentiles, null-safe comparison, remaining set ops.

These close the gaps between the declared inventory and the embedded-engine
surface (SURVEY.md §2.B B5/B6 null-safe compare + coalesce from
/root/reference/test/all_types_single_threaded.test:25,32-34; §2.C scalar-
function and set-op families, public DuckDB v1.3.2 knowledge). Everything is
built-in `pyspark.sql.functions` — JVM-side, codegen-friendly; no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import ROUND_SCALE, register, register_ansi


@register(
    "scalar_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(cast(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           min(cast(json_extract(props, '$.k') AS INT)) AS min_k,
           max(cast(json_extract(props, '$.k') AS INT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def scalar_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from a string column (events.props), aggregated.
    get_json_object stays JVM-side; at scale the JSON parse is the per-row
    cost — one extraction feeding multiple aggregates parses once."""
    ev = table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


@register(
    "explode_words",
    oracle="""
    SELECT word, count(*) AS freq
    FROM (
        SELECT unnest(string_split(text, ' ')) AS word
        FROM documents
    ) words
    WHERE word <> ''
    GROUP BY word
    ORDER BY freq DESC, word
    LIMIT 20
    """,
)
def explode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (UNNEST): split → explode → count → top-20.
    The explode multiplies rows ~60× before the aggregate; the partial
    aggregation keeps the shuffle at distinct-word cardinality, so the
    blow-up never crosses the network."""
    docs = table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), F.col("word"))
        .limit(20)
    )


@register(
    "pivot_returnflag",
    oracle="""
    SELECT l_linestatus,
           round(sum(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS qty_A,
           round(sum(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS qty_N,
           round(sum(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS qty_R
    FROM lineitem
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
)
def pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT with an explicit value list. Explicit values matter at scale:
    without them Spark runs an extra distinct pass over the data to discover
    the pivot columns."""
    li = table(spark, sf_dir, "lineitem")
    piv = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), ROUND_SCALE))
    )
    return piv.select(
        "l_linestatus",
        F.col("A").alias("qty_A"),
        F.col("N").alias("qty_N"),
        F.col("R").alias("qty_R"),
    ).orderBy("l_linestatus")


@register(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, metric, round(val, 2) AS val
    FROM (
        SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS val FROM customer
        UNION ALL
        SELECT c_custkey, 'nationkey' AS metric, cast(c_nationkey AS DOUBLE) AS val
        FROM customer
    ) u
    WHERE c_custkey < 50
    ORDER BY c_custkey, metric
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): DataFrame.unpivot / melt. One pass, no shuffle —
    the row expansion is local to each partition."""
    c = table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 50)
    long = c.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("double").alias("nationkey"),
    ).unpivot("c_custkey", ["acctbal", "nationkey"], "metric", "val")
    return long.select(
        "c_custkey", "metric", F.round("val", 2).alias("val")
    ).orderBy("c_custkey", "metric")


@register(
    "agg_percentiles",
    oracle="""
    SELECT event_type,
           round(median(value), 2)              AS p50,
           round(quantile_cont(value, 0.90), 2) AS p90,
           round(quantile_cont(value, 0.99), 2) AS p99
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (linear interpolation — Spark `percentile` ≡ DuckDB
    `quantile_cont`). Exact percentile needs per-group sorted values; at
    100 TB prefer approx_percentile (t-digest sketch, mergeable map-side) —
    kept exact here because the oracle must hash-match."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.percentile("value", 0.5), ROUND_SCALE).alias("p50"),
            F.round(F.percentile("value", 0.9), ROUND_SCALE).alias("p90"),
            F.round(F.percentile("value", 0.99), ROUND_SCALE).alias("p99"),
        )
        .orderBy("event_type")
    )


# Null-safe comparison IS [NOT] DISTINCT FROM (reference B5,
# all_types_single_threaded.test:32-34) + COALESCE (B6, :25). NULLs are
# synthesized with nullif since the catalog tables are NOT NULL-clean
# (the fls format cannot store NULLs, fls_reader.cpp:200).
register_ansi(
    "scalar_distinct_from",
    """
    SELECT
        CAST(sum(CASE WHEN nullif(l_returnflag, 'N') IS DISTINCT FROM
                      nullif(l_linestatus, 'O') THEN 1 ELSE 0 END) AS BIGINT)
            AS n_distinct_from,
        CAST(sum(CASE WHEN nullif(l_returnflag, 'N') IS NOT DISTINCT FROM
                      nullif(l_linestatus, 'O') THEN 1 ELSE 0 END) AS BIGINT)
            AS n_not_distinct,
        count(coalesce(nullif(l_returnflag, 'N'), nullif(l_linestatus, 'O')))
            AS n_coalesced
    FROM lineitem
    """,
)


# EXCEPT ALL — bag difference (keeps multiplicity), completing the
# set-op family (SURVEY.md §2.C).
register_ansi(
    "setop_except_all",
    """
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 10
    EXCEPT ALL
    SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity > 40
    """,
)


@register(
    "array_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           len(range(1, l_linenumber + 1))      AS arr_len,
           CAST(list_sum(range(1, l_linenumber + 1)) AS BIGINT) AS arr_sum,
           list_contains(range(1, l_linenumber + 1), 3) AS has_three,
           array_to_string(list_reverse(range(1, l_linenumber + 1)), ',') AS rev_csv
    FROM lineitem
    WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construction + higher-order functions (sequence/size/aggregate/
    contains/reverse) — the LIST surface (reference declares LIST but cannot
    materialize it, translation_utils.cpp:36-37; Spark arrays are first-class)."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    seq = F.sequence(F.lit(1), F.col("l_linenumber"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.size(seq).cast("bigint").alias("arr_len"),
        F.aggregate(seq, F.lit(0).cast("bigint"), lambda acc, x: acc + x).alias(
            "arr_sum"
        ),
        F.array_contains(seq, 3).alias("has_three"),
        F.array_join(F.reverse(seq), ",").alias("rev_csv"),
    ).orderBy("l_orderkey", "l_linenumber")


@register(
    "map_struct_funcs",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           map(['qty', 'disc'], [l_quantity, l_discount])['qty'][1] AS qty_from_map,
           cardinality(map(['qty', 'disc'], [l_quantity, l_discount]))  AS map_size,
           array_to_string(map_keys(map(['qty', 'disc'], [l_quantity, l_discount])), ',')
               AS keys_csv,
           struct_pack(ok := l_orderkey, ln := l_linenumber).ln AS ln_from_struct
    FROM lineitem
    WHERE l_orderkey < 100
    ORDER BY l_orderkey, l_linenumber
    """,
)
def map_struct_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAP/STRUCT construction + access — the reference *declares* MAP/STRUCT
    types but can neither materialize nor write them (translation_utils.cpp:
    38-41, fls_view_writer.cpp:91-92); Spark's are first-class. Scalars are
    extracted before the compare so both engines hash plain columns."""
    li = table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    m = F.create_map(
        F.lit("qty"), F.col("l_quantity"), F.lit("disc"), F.col("l_discount")
    )
    s = F.struct(F.col("l_orderkey").alias("ok"), F.col("l_linenumber").alias("ln"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.element_at(m, "qty").alias("qty_from_map"),
        F.size(m).alias("map_size"),
        F.array_join(F.map_keys(m), ",").alias("keys_csv"),
        s.getField("ln").alias("ln_from_struct"),
    ).orderBy("l_orderkey", "l_linenumber")
