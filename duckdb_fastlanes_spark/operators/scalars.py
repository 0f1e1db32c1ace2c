"""Scalar function matrix + cast matrix (SURVEY.md §2.B B5-B14, §2.C Scalar fns).

Reference evidence: the 18-type cast corpus and scalar expressions in
/root/reference/test/all_types_single_threaded.test:36-160 (generate_series →
typed columns via deterministic formulas, string concat :117, md5→BLOB :159,
date + to_days :124, timestamp + to_seconds :131, modulo :40), COALESCE :25,
IS DISTINCT FROM :32-34.

The cast matrix reproduces the reference's table formulas exactly (FIXTURES.md §1)
as one wide projection over spark.range(1, 1025) — the Spark analogue of
``generate_series(1,1024)`` (B9).
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duckdb_fastlanes_spark.catalog import table
from duckdb_fastlanes_spark.registry import register, register_ansi

HUGE = 469231731687303715884105728  # reference's HUGEINT multiplier (test :79-90)


@register(
    "cast_matrix",
    oracle=f"""
    SELECT
        val AS id,
        val % 2 = 0                                          AS c_bool,
        CAST((val % 256) - 128 AS TINYINT)                   AS c_tinyint,
        CAST((val % 65536) - 32768 AS SMALLINT)              AS c_smallint,
        CAST(val AS INTEGER)                                 AS c_int,
        CAST(val * 10 AS BIGINT)                             AS c_bigint,
        CAST(val * 10 AS BIGINT)                             AS c_ubigint,
        CAST(CAST(val * -{HUGE} AS DECIMAL(38,0)) AS VARCHAR) AS c_hugeint,
        CAST(CAST(val * {HUGE} AS DECIMAL(38,0)) AS VARCHAR)  AS c_uhugeint,
        CAST(val / 100.0 AS FLOAT)                           AS c_float,
        CAST(val / 1000.0 AS DOUBLE)                         AS c_double,
        CAST(CAST(CAST(val AS DECIMAL(10,2)) / 10.0 AS DECIMAL(12,3)) AS VARCHAR)
                                                             AS c_decimal,
        'Value ' || CAST(val AS VARCHAR)                     AS c_varchar,
        CAST(DATE '1992-03-22' + CAST(val AS INTEGER) AS TIMESTAMP) AS c_date,
        TIMESTAMP '2025-01-01 00:00:00' + to_seconds(CAST(val AS BIGINT)) AS c_timestamp,
        CAST(CAST(TIMESTAMP '2025-01-01 00:00:00' + to_seconds(CAST(val AS BIGINT)) AS TIMESTAMP_S) AS TIMESTAMP) AS c_timestamp_s,
        TIMESTAMP '2025-01-01 00:00:00' + to_seconds(CAST(val AS BIGINT)) + to_milliseconds(val % 1000) AS c_timestamp_ms,
        epoch_ns(TIMESTAMP '2025-01-01 00:00:00' + to_seconds(CAST(val AS BIGINT))) AS c_timestamp_ns,
        hex(CAST(md5(CAST(val AS VARCHAR)) AS BLOB))         AS c_blob
    FROM range(1, 1025) t(val)
    """,
)
def cast_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's 18-type matrix as one wide typed projection.

    Type-mapping notes (SURVEY.md §1.2): unsigned → LongType (documented),
    HUGEINT/UHUGEINT → DecimalType(38,0), TIMESTAMP_S → second-truncated
    timestamp, TIMESTAMP_NS → BIGINT nanoseconds (Spark timestamps are µs).
    128-bit and DECIMAL columns are rendered as digit strings on BOTH
    engines (pandas lowers DuckDB HUGEINT/DECIMAL to float64, which loses
    exactness past 2⁵³ and flips the value hash); DATE is compared in its
    timestamp view for the same repr-stability reason.
    """
    r = spark.range(1, 1025).select(F.col("id"))
    val = F.col("id")
    base_ts = F.lit("2025-01-01 00:00:00").cast("timestamp")
    ts = F.timestamp_add("SECOND", val, base_ts)
    return r.select(
        val.alias("id"),
        (val % 2 == 0).alias("c_bool"),
        ((val % 256) - 128).cast("tinyint").alias("c_tinyint"),
        ((val % 65536) - 32768).cast("smallint").alias("c_smallint"),
        val.cast("int").alias("c_int"),
        (val * 10).cast("bigint").alias("c_bigint"),
        (val * 10).cast("bigint").alias("c_ubigint"),
        (val.cast("decimal(38,0)") * F.lit(Decimal(-HUGE)))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("c_hugeint"),
        (val.cast("decimal(38,0)") * F.lit(Decimal(HUGE)))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("c_uhugeint"),
        (val / 100.0).cast("float").alias("c_float"),
        (val / 1000.0).cast("double").alias("c_double"),
        (val.cast("decimal(10,2)") / 10.0)
        .cast("decimal(12,3)")
        .cast("string")
        .alias("c_decimal"),
        F.concat(F.lit("Value "), val.cast("string")).alias("c_varchar"),
        F.date_add(F.lit("1992-03-22").cast("date"), val.cast("int"))
        .cast("timestamp")
        .alias("c_date"),
        ts.alias("c_timestamp"),
        F.date_trunc("second", ts).alias("c_timestamp_s"),
        F.timestamp_add("MILLISECOND", val % 1000, ts).alias("c_timestamp_ms"),
        (F.unix_micros(ts) * 1000).alias("c_timestamp_ns"),
        F.hex(F.md5(val.cast("string")).cast("binary")).alias("c_blob"),
    )


@register(
    "scalar_string_funcs",
    oracle="""
    SELECT
        p_partkey,
        upper(p_name)                                   AS name_upper,
        lower(p_brand)                                  AS brand_lower,
        substr(p_name, 1, 8)                            AS name_prefix,
        length(p_name)                                  AS name_len,
        trim('  ' || p_type || ' ')                     AS type_trim,
        replace(p_type, ' ', '_')                       AS type_snake,
        p_name LIKE '%steel%'                           AS has_steel,
        regexp_extract(p_type, '^([A-Za-z]+)', 1)       AS type_head,
        reverse(p_brand)                                AS brand_rev,
        lpad(CAST(p_size AS VARCHAR), 4, '0')           AS size_pad,
        split_part(p_type, ' ', 1)                      AS type_word1,
        left(p_name, 3)                                 AS name_l3,
        right(p_name, 3)                                AS name_r3,
        position('a' IN p_name)                         AS first_a
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar matrix: case, substr, trim, replace, LIKE, regexp,
    reverse, pad, split, left/right, position — all JVM-side built-ins."""
    p = table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("type_trim"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.col("p_name").like("%steel%").alias("has_steel"),
        F.regexp_extract("p_type", r"^([A-Za-z]+)", 1).alias("type_head"),
        F.reverse("p_brand").alias("brand_rev"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_pad"),
        F.split_part(F.col("p_type"), F.lit(" "), F.lit(1)).alias("type_word1"),
        F.substring("p_name", 1, 3).alias("name_l3"),
        F.col("p_name").substr(F.length("p_name") - 2, F.lit(3)).alias("name_r3"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
    )


@register(
    "scalar_date_funcs",
    oracle="""
    SELECT
        o_orderkey,
        CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        CAST(year(o_orderdate) AS INTEGER)     AS yr,
        CAST(month(o_orderdate) AS INTEGER)    AS mo,
        CAST(day(o_orderdate) AS INTEGER)      AS dy,
        CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
        CAST(quarter(o_orderdate) AS INTEGER)  AS qtr,
        strftime(o_orderdate, '%Y-%m-%d')      AS iso_day,
        CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date,
        datediff('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS days_since_epoch_start
    FROM orders
    WHERE o_orderkey % 10 = 0
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar matrix: trunc, extract fields, format, interval
    arithmetic, datediff. DuckDB dayofweek is 0=Sunday; Spark dayofweek is
    1=Sunday → subtract 1 on the Spark side."""
    o = table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 10 == 0)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", d).alias("month_start"),
        F.year(d).cast("int").alias("yr"),
        F.month(d).cast("int").alias("mo"),
        F.dayofmonth(d).cast("int").alias("dy"),
        (F.dayofweek(d) - 1).cast("int").alias("dow"),
        F.quarter(d).cast("int").alias("qtr"),
        F.date_format(d, "yyyy-MM-dd").alias("iso_day"),
        F.timestamp_add("DAY", F.lit(90), d).alias("due_date"),
        F.datediff(F.to_date(d), F.lit("1995-01-01").cast("date")).cast("bigint").alias("days_since_epoch_start"),
    )


# Math scalar matrix: abs/ceil/floor/sqrt/ln/power/mod/sign/greatest/least.
register_ansi(
    "scalar_math_funcs",
    """
    SELECT
        l_orderkey, l_linenumber,
        abs(l_quantity - 25)                    AS dev_from_25,
        CAST(ceil(l_extendedprice / 1000) AS BIGINT)  AS price_k_ceil,
        CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_k_floor,
        round(sqrt(l_quantity), 6)              AS qty_sqrt,
        round(ln(l_extendedprice), 6)           AS price_ln,
        round(power(l_discount + 1, 2), 6)      AS disc_sq,
        CAST(l_orderkey % 7 AS BIGINT)          AS key_mod7,
        CAST(sign(l_quantity - 25) AS INTEGER)  AS qty_sign,
        greatest(l_quantity, 10.0)              AS qty_floor10,
        least(l_quantity, 40.0)                 AS qty_cap40,
        round(l_tax * 100, 2)                   AS tax_pct
    FROM lineitem
    WHERE l_orderkey % 25 = 0
    """,
)


# CASE / COALESCE / NULLIF / IS DISTINCT FROM (reference B5, B6) / IF.
register_ansi(
    "scalar_conditional",
    """
    SELECT
        o_orderkey,
        CASE WHEN o_totalprice > 300000 THEN 'big'
             WHEN o_totalprice > 100000 THEN 'mid'
             ELSE 'small' END                                        AS size_class,
        coalesce(nullif(o_orderstatus, 'O'), 'open')                 AS status_or_open,
        o_orderstatus IS DISTINCT FROM 'F'                           AS not_finished,
        nullif(o_orderpriority, '1-URGENT') IS NULL                  AS is_urgent,
        if(o_totalprice > 200000, 1, 0)                              AS big_flag
    FROM orders
    """,
)


@register(
    "scalar_hash_funcs",
    oracle="""
    SELECT
        c_custkey,
        md5(c_name)                    AS name_md5,
        sha256(c_name)                 AS name_sha256,
        'cust:' || CAST(c_custkey AS VARCHAR) || ':' || c_mktsegment AS compound_key
    FROM customer
    """,
)
def scalar_hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash functions (reference B12 md5) + string-concat key building (B11)."""
    c = table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.md5("c_name").alias("name_md5"),
        F.sha2(F.col("c_name"), 256).alias("name_sha256"),
        F.concat(
            F.lit("cust:"), F.col("c_custkey").cast("string"), F.lit(":"), F.col("c_mktsegment")
        ).alias("compound_key"),
    )


@register(
    "scalar_timezone_convert",
    oracle="""
    SELECT event_id,
           CAST(epoch_us(timezone('America/New_York', ts)) AS BIGINT)
               AS utc_from_ny_us,
           timezone('America/New_York',
                    to_timestamp(epoch_us(ts) / 1000000.0)) AS ny_wall
    FROM events
    WHERE event_id % 97 = 0
      AND NOT (EXTRACT(month FROM ts) = 11 AND EXTRACT(day FROM ts) <= 7
               AND EXTRACT(dow FROM ts) = 0 AND EXTRACT(hour FROM ts) = 1)
      AND NOT (EXTRACT(month FROM ts) = 3 AND EXTRACT(day FROM ts) BETWEEN 8 AND 14
               AND EXTRACT(dow FROM ts) = 0 AND EXTRACT(hour FROM ts) = 2)
    """,
)
def scalar_timezone_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AT TIME ZONE surface: interpret a naive timestamp as America/New_York
    wall time and emit the UTC instant (to_utc_timestamp = DuckDB
    timezone(tz, naive)), and render a UTC instant as New_York wall clock
    (from_utc_timestamp = DuckDB timezone(tz, timestamptz)). The oracle goes
    through epoch_us so its value is independent of the DuckDB session
    TimeZone; the Spark side is likewise pinned to UTC by the catalog.

    DST-transition wall times have no engine-portable meaning — the
    fall-back hour (01:xx on the first Sunday of November) is ambiguous and
    Spark/DuckDB resolve it to different offsets (verified: 2024-11-03 01:30
    differs by 1h), and the spring-forward hour (02:xx on the second Sunday
    of March) does not exist. Both engines' filters share the guard below,
    so the query stays hash-equal even if the corpus grows past a
    transition (the current events corpus is Jan 2024, EST-only — the
    transitions themselves are exercised by
    tests/test_sql_parity.py::test_timezone_dst_boundary_parity)."""
    ev = table(spark, sf_dir, "events").filter(F.col("event_id") % 97 == 0)
    # Spark dayofweek: Sunday=1; DuckDB dow: Sunday=0 — same rows guarded.
    ambiguous_fall = (
        (F.month("ts") == 11)
        & (F.dayofmonth("ts") <= 7)
        & (F.dayofweek("ts") == 1)
        & (F.hour("ts") == 1)
    )
    nonexistent_spring = (
        (F.month("ts") == 3)
        & (F.dayofmonth("ts").between(8, 14))
        & (F.dayofweek("ts") == 1)
        & (F.hour("ts") == 2)
    )
    ev = ev.filter(~ambiguous_fall & ~nonexistent_spring)
    return ev.select(
        "event_id",
        F.unix_micros(F.to_utc_timestamp("ts", "America/New_York")).alias(
            "utc_from_ny_us"
        ),
        F.from_utc_timestamp("ts", "America/New_York").alias("ny_wall"),
    )
