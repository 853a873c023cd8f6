"""Custom Python DataSource (sources/synthgen.py): parallel planning,
determinism, schema contract, and the stream's restart and replay."""

from __future__ import annotations

import os

from climate_anomaly_bigdata_pipeline_spark.sources import synthgen
from climate_anomaly_bigdata_pipeline_spark.streaming import incremental as INC
from tests.oracle_utils import compare


def _read(spark, **opts):
    synthgen.register(spark)
    r = spark.read.format("synthgen")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_synthgen_rows_schema_partitions(spark):
    df = _read(spark, n_rows=10_000, num_partitions=4)
    assert df.schema.simpleString() == (
        "struct<event_id:bigint,ts:timestamp,user_id:bigint,"
        "event_type:string,value:double>"
    )
    assert df.count() == 10_000
    assert df.rdd.getNumPartitions() == 4
    assert df.select("event_id").distinct().count() == 10_000


def test_synthgen_deterministic_across_partitioning(spark):
    """Row i is a pure function of (seed, i): re-planning with a
    different partition count must not change a single value."""
    a = _read(spark, n_rows=5_000, num_partitions=3).orderBy("event_id").collect()
    b = _read(spark, n_rows=5_000, num_partitions=11).orderBy("event_id").collect()
    assert a == b


def test_synthgen_seed_changes_data(spark):
    a = _read(spark, n_rows=100, seed=1).orderBy("event_id").collect()
    b = _read(spark, n_rows=100, seed=2).orderBy("event_id").collect()
    assert a != b


def test_synthgen_uneven_tail_partition(spark):
    df = _read(spark, n_rows=1001, num_partitions=4)
    assert df.count() == 1001


def _stream(spark, **opts):
    synthgen.register(spark)
    r = spark.readStream.format("synthgen")
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def _run(stream, sink, ckpt):
    """Drive ``stream`` to completion through the ``foreachBatch`` sink."""
    q = stream.writeStream.foreachBatch(sink).option("checkpointLocation", ckpt).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def test_synthgen_stream_batch_is_one_partition(spark, tmp_path):
    """A micro-batch is generated where the stream is planned and reaches
    the trigger as one partition, whatever ``num_partitions`` says (that
    option sizes the batch reader only)."""
    parts = []
    _run(
        _stream(spark, n_rows=2_000, rows_per_batch=1_000, num_partitions=4),
        lambda df, _: parts.append(df.rdd.getNumPartitions()),
        str(tmp_path / "ckpt"),
    )
    assert parts == [1, 1]


def test_synthgen_stream_restart_continues_from_checkpoint(spark, tmp_path):
    """Restarting a finished stream's checkpoint over a longer keyspace
    emits only the new rows: the two runs together are exactly the
    batch read of the longer keyspace, with no event_id twice."""
    rows = []
    ckpt = str(tmp_path / "ckpt")
    for n_rows in (3_000, 5_000):
        _run(
            _stream(spark, n_rows=n_rows, rows_per_batch=1_000),
            lambda df, _: rows.extend(tuple(r) for r in df.collect()),
            ckpt,
        )
    want = [tuple(r) for r in _read(spark, n_rows=5_000).collect()]
    assert len({r[0] for r in rows}) == len(rows)
    assert sorted(rows) == sorted(want)


def test_synthgen_stream_replays_uncommitted_batch(spark, tmp_path):
    """A batch planned but not committed (its ``commits/<n>`` file lost)
    is replayed under the same batch id with the same rows; the upsert
    sink skips it, so the gold state still equals a batch groupBy."""
    opts = dict(n_rows=3_000, rows_per_batch=1_000, seed=7)
    root, ckpt = str(tmp_path / "gold"), str(tmp_path / "ckpt")
    sink = INC.make_upsert_sink(spark, root)
    seen = []

    def recording_sink(df, batch_id):
        seen.append((batch_id, sorted(r[0] for r in df.select("event_id").collect())))
        sink(df, batch_id)

    _run(_stream(spark, **opts), recording_sink, ckpt)
    assert [b for b, _ in seen] == [0, 1, 2]
    for f in ("2", ".2.crc"):  # the commit and its checksum file
        os.remove(os.path.join(ckpt, "commits", f))
    _run(_stream(spark, **opts), recording_sink, ckpt)
    assert seen[3:] == [(2, list(range(2_000, 3_000)))]
    got = INC.read_gold_state(spark, root).toPandas()
    want = INC.batch_partial(_read(spark, **opts)).toPandas()
    ok, msg = compare(got, want)
    assert ok, msg


def test_synthgen_stream_matches_batch(spark, tmp_path):
    """Streaming read over the same keyspace must produce exactly the
    batch dataset (same pure (seed, i) row function), arriving across
    multiple offset-bounded micro-batches."""
    stream = _stream(spark, n_rows=5_000, rows_per_batch=1_000, num_partitions=4)
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("synth_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql("SELECT * FROM synth_stream")
    want = _read(spark, n_rows=5_000, num_partitions=4)
    assert got.count() == 5_000
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
