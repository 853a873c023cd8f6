"""SparkSession construction, generalizing the reference's session helper.

The reference builds one session per job with a UTC-pinned timezone
(``jobs/common.py:21-32``). This module keeps that contract and adds the
scale-oriented defaults the reference lacks: AQE (runtime re-planning,
partition coalescing, skew-join handling), Arrow for any Python
exchange, and a shuffle-partition count sized to the machine rather than
Spark's default 200.

On a real cluster these configs are what make the same logical plans
survive a 100 TB input: AQE re-plans skewed joins, partial aggregation
still combines map-side, and nothing here assumes single-JVM locality.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "climate_anomaly_bigdata_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Mirrors ``/root/reference/jobs/common.py:21-32`` (app name, master,
    ``spark.sql.session.timeZone=UTC``) and layers on AQE + Arrow +
    right-sized shuffle parallelism.
    """
    cpus = DEFAULT_CPUS
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        # The reference runs Spark 3.5 (ANSI off): a failed cast yields
        # null, which its parsers rely on (SURVEY §2.2 P3). Spark 4
        # defaults ANSI on; pin it off to preserve those semantics
        # (equivalently: try_cast everywhere).
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Testdata events.parquet stores TIMESTAMP(NANOS); Spark has no
        # nanosecond timestamp, so read as long and convert in the catalog.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet TIMESTAMP(MICROS) must read as TIMESTAMP (UTC
        # session zone), not TIMESTAMP_NTZ: epoch math (unix_micros) and
        # the DuckDB oracle both assume it.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Python workers import this package to run its UDFs; they do not
        # inherit the driver's sys.path, so name the package's parent
        # directory (Spark merges it into the workers' PYTHONPATH).
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
