"""Streaming time-window aggregation (SURVEY §2.8).

The reference is batch-only; the engine's batch tumbling/sliding
windows (operators/timeseries.py) have these Structured Streaming
twins: same ``F.window`` expressions, plus watermarking for late data
and state cleanup. For local verification, a parquet-backed stream is
driven to completion synchronously and compared against the batch
operator (tests/test_streaming.py) — on a cluster, swap the source for
Kafka and the sink for a real table; the query graph is unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet-backed events stream with the same timestamp repairs as
    the batch Catalog (:meth:`Catalog._normalize`).

    The file source needs an explicit schema, and the testdata's
    physical ``ts`` type has varied across generator versions
    (TIMESTAMP(NANOS) → long under nanosAsLong; TIMESTAMP(MICROS) →
    timestamp). Take the schema from a batch metadata read of the same
    file so the stream always matches, then apply the same repair the
    Catalog applies.
    """
    path = f"{sf_dir}/events.parquet"
    schema = spark.read.parquet(path).schema
    # The streaming file source wants a directory; select just the
    # events file from the scale-factor dir via pathGlobFilter.
    return Catalog._normalize(
        "events",
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir),
    )


def windowed_counts_stream(
    events: DataFrame,
    duration: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    aggs: Sequence[Column] = (),
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation over a stream.

    The watermark bounds state: windows older than max(event time) −
    watermark are finalized and evicted — the knob that keeps state
    size constant on an unbounded stream.
    """
    win = (
        F.window("ts", duration) if slide is None else F.window("ts", duration, slide)
    )
    aggs = list(aggs) or [F.count(F.lit(1)).alias("n_events")]
    out = events.withWatermark("ts", watermark).groupBy(win.alias("w")).agg(*aggs)
    return out.select(
        F.col("w.start").alias("window_start"),
        *[F.col(c) for c in out.columns if c != "w"],
    )


def run_stream_to_memory(
    stream_df: DataFrame, name: str, output_mode: str = "complete"
) -> DataFrame:
    """Drive a (bounded) stream to completion into an in-memory table
    and return it as a batch DataFrame — the local smoke harness.
    ``output_mode='complete'`` for aggregated streams, ``'append'``
    for stateless per-row transforms (stream-static joins, scrubs)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")
