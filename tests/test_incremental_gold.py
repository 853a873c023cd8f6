"""foreachBatch incremental gold maintenance (streaming/incremental.py):
multi-micro-batch upsert must equal the one-shot batch aggregate."""

from __future__ import annotations

from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.streaming import incremental as INC


def _write_split_events(spark, sf_dir, path, n_files=3):
    ev = Catalog(spark, sf_dir).events.select("event_id", "ts", "user_id", "value")
    ev.repartition(n_files).write.mode("overwrite").parquet(path)
    return ev


def test_incremental_upsert_matches_batch_aggregate(spark, sf_dir, tmp_path):
    src = str(tmp_path / "events_src")
    ev = _write_split_events(spark, sf_dir, src, n_files=3)

    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)  # force >1 micro-batch
        .parquet(src)
    )
    root = str(tmp_path / "gold_state")
    INC.run_incremental_agg(stream, root, key_col="user_id")

    got = INC.read_gold_state(spark, root)
    want = INC.batch_partial(ev, "user_id")
    assert got.count() == want.count()
    diff = got.exceptAll(want).unionByName(want.exceptAll(got))
    # sum_value is a float accumulated in different orders; compare it
    # with a tolerance and everything else exactly.
    exact_cols = ["user_id", "n_events", "min_value", "max_value"]
    g = {tuple(r) for r in got.select(*exact_cols).collect()}
    w = {tuple(r) for r in want.select(*exact_cols).collect()}
    assert g == w
    joined = got.alias("g").join(want.alias("w"), "user_id")
    bad = joined.filter(
        F.abs(F.col("g.sum_value") - F.col("w.sum_value"))
        > 1e-6 * F.greatest(F.abs(F.col("w.sum_value")), F.lit(1.0))
    )
    assert bad.count() == 0


def test_replayed_batch_is_idempotent(spark, sf_dir, tmp_path):
    """Spark replays a failed micro-batch under the same batch_id; the
    versioned-pointer commit must make the replay a no-op overwrite."""
    src = str(tmp_path / "events_src")
    ev = _write_split_events(spark, sf_dir, src, n_files=1)
    root = str(tmp_path / "gold_state")
    sink = INC.make_upsert_sink(spark, root, "user_id")
    sink(ev, 0)
    first = {tuple(r) for r in INC.read_gold_state(spark, root).collect()}
    sink(ev, 0)  # replay same batch_id: overwrites v0, re-points — same state
    second = {tuple(r) for r in INC.read_gold_state(spark, root).collect()}
    assert first == second


def test_fold_is_one_aggregate_over_state_and_rows(spark, tmp_path):
    """A non-first-batch fold is one ``groupBy`` over state ∪ the
    batch's rows: exactly one hash exchange and no join in its plan."""
    schema = "user_id long, value double"
    root = str(tmp_path / "v0")
    INC.batch_partial(
        spark.createDataFrame([(1, 1.0), (2, None)], schema)
    ).write.parquet(root)
    batch = spark.createDataFrame([(1, 2.0), (3, 4.0)], schema)
    folded = INC.fold_batch(spark.read.parquet(root), batch, "user_id")
    plan = folded._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan and "Cartesian" not in plan, plan
    got = {tuple(r) for r in folded.collect()}
    assert got == {(1, 2, 3.0, 1.0, 2.0), (2, 1, None, None, None), (3, 1, 4.0, 4.0, 4.0)}
