"""Named query registry — the driver-facing surface of the engine.

Every operator from SURVEY.md §2 (and each north-star extension) is
exposed as a named query ``(spark, sf_dir) -> DataFrame`` plus, when
SQL-expressible, an equivalent ANSI-SQL oracle string for DuckDB.
``__spark_entry__.py`` re-exports these dicts to the driver.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name
before hashing values).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


# Import side effects populate the registry.
from climate_anomaly_bigdata_pipeline_spark.queries import anomaly  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import relational  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import timeseries  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import gold  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import parsing  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import textops  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import dedupq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import similarityq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import multimodalq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import coverage  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import curation  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import analyticsq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import advancedq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import statsq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import tpchq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import storageq  # noqa: E402,F401
from climate_anomaly_bigdata_pipeline_spark.queries import streamingq  # noqa: E402,F401
