"""Set operations (SURVEY.md §2.C Set ops row): UNION [ALL] / INTERSECT / EXCEPT.

Every shape is plain SQL that both engines run verbatim (``register_ansi``);
Catalyst rewrites INTERSECT/EXCEPT into semi/anti joins. All shapes run on
key projections so the shuffled payload is narrow.
"""

from __future__ import annotations

from duckdb_fastlanes_spark.registry import register_ansi

_ORACLE_A = "SELECT o_orderkey AS key FROM orders WHERE o_totalprice > 250000"
_ORACLE_B = "SELECT l_orderkey AS key FROM lineitem WHERE l_quantity >= 48"


# UNION (distinct) of two key sets; re-aggregated so the result is a set.
register_ansi(
    "setop_union",
    f"SELECT key, count(*) AS n FROM (({_ORACLE_A}) UNION ({_ORACLE_B})) GROUP BY key",
)


# UNION ALL keeps duplicates — counts reflect multiplicity from both sides.
register_ansi(
    "setop_union_all",
    f"SELECT key, count(*) AS n FROM (({_ORACLE_A}) UNION ALL ({_ORACLE_B})) GROUP BY key",
)


# INTERSECT (distinct) — big orders that also have a heavy line.
register_ansi(
    "setop_intersect",
    f"({_ORACLE_A}) INTERSECT ({_ORACLE_B})",
)


# EXCEPT (distinct) — big orders with no heavy line (DataFrame.subtract).
register_ansi(
    "setop_except",
    f"({_ORACLE_A}) EXCEPT ({_ORACLE_B})",
)


# INTERSECT ALL — multiplicity = min(left count, right count) per key.
register_ansi(
    "setop_intersect_all",
    f"""
    SELECT key, count(*) AS n
    FROM (({_ORACLE_B}) INTERSECT ALL (SELECT l_orderkey AS key FROM lineitem WHERE l_discount > 0.08))
    GROUP BY key
    """,
)
