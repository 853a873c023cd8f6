"""Structured Streaming parity tests (SURVEY §2.8): the streaming
window aggregation must match the batch operator on the same data."""

from __future__ import annotations

from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import timeseries as TS
from climate_anomaly_bigdata_pipeline_spark.streaming import windows as SW


def test_stream_tumbling_matches_batch(spark, sf_dir):
    stream = SW.read_events_stream(spark, sf_dir)
    agg = SW.windowed_counts_stream(stream, duration="1 hour")
    streamed = SW.run_stream_to_memory(agg, "stream_hourly")
    s = {r["window_start"]: r["n_events"] for r in streamed.collect()}

    ev = Catalog(spark, sf_dir).events
    batch = TS.tumbling_window_agg(ev, "ts", "1 hour", [F.count(F.lit(1)).alias("n_events")])
    b = {r["window_start"]: r["n_events"] for r in batch.collect()}
    assert s == b


def test_stream_sliding_matches_batch(spark, sf_dir):
    stream = SW.read_events_stream(spark, sf_dir)
    agg = SW.windowed_counts_stream(stream, duration="2 hours", slide="1 hour")
    streamed = SW.run_stream_to_memory(agg, "stream_sliding")
    s = {r["window_start"]: r["n_events"] for r in streamed.collect()}

    ev = Catalog(spark, sf_dir).events
    batch = TS.sliding_window_agg(
        ev, "ts", "2 hours", "1 hour", [F.count(F.lit(1)).alias("n_events")]
    )
    b = {r["window_start"]: r["n_events"] for r in batch.collect()}
    assert s == b


def test_stream_session_window_matches_batch(spark, sf_dir):
    """Native session_window under readStream must merge gap-windows to
    the same sessions the batch groupBy produces (the query graph is
    identical; streaming adds watermark-driven state merge)."""
    stream = SW.read_events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "10 days")
        .groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    streamed = SW.run_stream_to_memory(agg, "stream_sessions")
    s = {tuple(r) for r in streamed.collect()}

    ev = Catalog(spark, sf_dir).events
    batch = (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    b = {tuple(r) for r in batch.collect()}
    assert s == b


def test_rocksdb_state_store_matches_default_provider(spark, sf_dir, tmp_path):
    """The RocksDB state store — the provider that keeps streaming
    state off-heap and spillable, i.e. the ONLY viable provider when
    keyed state outgrows executor memory at 100 TB — must produce
    byte-identical aggregates to the default HDFS-backed provider."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "in")
    rows = [(i, i % 7) for i in range(500)]
    spark.createDataFrame(rows, "id long, k long").write.parquet(src)

    def run(provider: str, name: str):
        old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", "")
        try:
            if provider:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", provider
                )
            stream = spark.readStream.schema("id long, k long").parquet(src)
            agg = stream.groupBy("k").agg(
                F.count(F.lit(1)).alias("n"), F.sum("id").alias("s")
            )
            q = (
                agg.writeStream.format("memory").queryName(name)
                .outputMode("complete")
                .option("checkpointLocation", str(tmp_path / f"ck_{name}"))
                .start()
            )
            q.processAllAvailable()
            q.stop()
            return {
                (r.k, r.n, r.s)
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            }
        finally:
            if old:
                spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
            else:
                spark.conf.unset("spark.sql.streaming.stateStore.providerClass")

    default = run("", "ss_default")
    rocks = run(
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
        "ss_rocks",
    )
    assert default == rocks and len(default) == 7
