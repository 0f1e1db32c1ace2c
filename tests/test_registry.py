"""Registry contract for ``register_ansi``, checked without a Spark session."""

from __future__ import annotations

import pytest

from duckdb_fastlanes_spark import catalog, registry


def test_register_ansi_rejects_duplicate_name_without_side_effects():
    queries, oracles = registry.queries(), registry.oracles()
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.register_ansi("tpch_q3", "SELECT 1")
    assert registry.oracles()["tpch_q3"] == oracles["tpch_q3"]
    assert registry.queries()["tpch_q3"] is queries["tpch_q3"]
    assert registry.queries().keys() == queries.keys()


def test_register_ansi_body_runs_the_oracle_text(monkeypatch):
    calls = []
    monkeypatch.setattr(catalog, "sql_q", lambda *args: calls.append(args))
    registry.queries()["tpch_q3"]("spark", "sf_dir")
    assert calls == [("spark", "sf_dir", registry.oracles()["tpch_q3"])]
