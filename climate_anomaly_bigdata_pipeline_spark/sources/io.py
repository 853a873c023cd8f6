"""Dataset I/O: layer reads/writes and edge exports (SURVEY §2.1 S3-S7).

Mirrors the reference's storage contract — Parquet between layers,
single-file CSV at the BI edge — with the scale fixes SURVEY §4 calls
for: partitioned gold writes (partition pruning at 100 TB) and lineage
stamping in one projection.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Line-text scan (S3): whole lines as ``value: string``."""
    return spark.read.text(path)


def with_lineage(df: DataFrame, source: str) -> DataFrame:
    """Stamp ingest lineage (S7): ``ingestion_date`` + ``source``
    (``jobs/01_ingest_to_bronze.py:19-20``)."""
    return df.withColumn("ingestion_date", F.current_timestamp()).withColumn(
        "source", F.lit(source)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: Sequence[str] = (),
) -> None:
    """Parquet sink (S5). Pass ``partition_by`` for gold-layer facts —
    the reference writes unpartitioned (SURVEY §4), which forfeits
    partition pruning; at 100 TB always partition on the prune key
    (e.g. year)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def write_single_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Single-file CSV export (S6, ``jobs/03_silver_to_gold.py:5-17``).

    ``coalesce(1)`` is a deliberate anti-parallelism choice for BI
    hand-off — edge-only; never use upstream of further computation.
    """
    (
        df.coalesce(1)
        .write.mode(mode)
        .option("header", "true")
        .option("delimiter", ",")
        .option("encoding", "UTF-8")
        .csv(path)
    )
