"""Named query registry — the driver-facing surface of the engine.

Every operator from SURVEY.md §2 (and each north-star extension) is
exposed as a named query ``(spark, sf_dir) -> DataFrame`` plus, when
SQL-expressible, an equivalent ANSI-SQL oracle string for DuckDB.
``__spark_entry__.py`` re-exports these dicts to the driver.

A query registered with ``sql_query`` is one SQL text that both engines
run; it has no DataFrame-API translation.

Column-name contract: every computed column is aliased identically in
the Spark plan and the oracle SQL (the driver sorts columns by name
before hashing values).
"""

from __future__ import annotations

import string
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from climate_anomaly_bigdata_pipeline_spark.catalog import TABLES, Catalog

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


def sql_query(name: str, text: str) -> None:
    """Register a query whose one SQL text runs on both engines.

    The text names each table as a ``{lineitem}`` placeholder. The
    DuckDB oracle reads the plain view names, so an unknown placeholder
    raises ``KeyError`` here, at registration. Spark binds each
    placeholder to the ``Catalog`` table through ``spark.sql``'s
    DataFrame arguments: a uuid-named view that is dropped once the text
    is analysed, so the session keeps no named temp view.
    """
    ORACLE[name] = text.format(**{t: t for t in TABLES})
    tables = {f for _, f, _, _ in string.Formatter().parse(text) if f}

    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        catalog = Catalog(spark, sf_dir)  # pins the session confs before parsing
        return spark.sql(text, **{t: catalog.table(t) for t in tables})

    QUERIES[name] = build


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
