"""Registry contract guards.

Every registered query must keep a DuckDB oracle (or be listed as
knowingly rows-only), and no oracle may name an unregistered query:
``tools/check_all_oracles.py`` and the driver contract in
``__spark_entry__.py`` diff each query against its oracle.
"""

from __future__ import annotations

from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE, QUERIES


def test_every_query_has_an_oracle():
    """No silent rows-only checks: every registered query currently
    ships an oracle. If a genuinely non-SQL-expressible op is added,
    list it here explicitly instead of letting it regress silently."""
    known_rows_only: set[str] = set()
    missing = set(QUERIES) - set(ORACLE) - known_rows_only
    assert not missing, f"queries without oracle SQL: {missing}"


def test_oracle_keys_subset_of_queries():
    assert set(ORACLE) <= set(QUERIES)
