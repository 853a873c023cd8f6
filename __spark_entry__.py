"""Driver contract for the spark-graft builder (PySpark target).

Thin shim over :mod:`climate_anomaly_bigdata_pipeline_spark.queries` — the engine's named
query registry. The driver's verify runs ``entry(spark)`` as a smoke
check, runs each ``queries()[name]`` at sf=0.01 and compares it against
the matching ``oracle_sql()[name]`` via DuckDB (row count, schema and an
order-insensitive value hash).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE, QUERIES

SMOKE_SF_DIR = "/root/testdata/sf0.001"
FLAGSHIP = "zscore_anomaly"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (per-group z-score anomaly detection) on sf0.001."""
    return QUERIES[FLAGSHIP](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL oracle per query (omitted ⇒ rows-only check)."""
    return dict(ORACLE)
