"""Scale-technique verification: salted joins (skew), bucketed tables
(co-located shuffle-free joins), and the as-of join operator."""

from __future__ import annotations

import datetime as dt
import re

import pytest
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
from climate_anomaly_bigdata_pipeline_spark.operators import timeseries as TS


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_salted_join_equals_plain_join(spark):
    """Salting redistributes work but must not change the result."""
    big = spark.createDataFrame(
        [(i % 3, i) for i in range(1000)], "k int, v int"
    )  # key 0/1/2, deliberately skewed shape
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k int, tag string")
    plain = {(r["k"], r["v"], r["tag"]) for r in big.join(small, "k").collect()}
    salted = {
        (r["k"], r["v"], r["tag"])
        for r in R.salted_join(big, small, "k", salt=4).collect()
    }
    assert salted == plain and len(salted) == 1000


def test_salted_join_fans_out_hot_key(spark):
    """The salted plan joins on (key, salt): the hot key's rows spread
    over `salt` distinct join keys."""
    big = spark.createDataFrame([(0, i) for i in range(100)], "k int, v int")
    small = spark.createDataFrame([(0, "hot")], "k int, tag string")
    salted = R.salted_join(big, small, "k", salt=4)
    n_salts = (
        big.withColumn("__salt", F.pmod(F.xxhash64(*big.columns), F.lit(4)))
        .select("__salt")
        .distinct()
        .count()
    )
    assert n_salts > 1  # skew actually fans out
    assert salted.count() == 100


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Two tables bucketed on the join key co-locate: the sort-merge
    join needs no Exchange on either side — the bucketing layout IS the
    shuffle, paid once at write time (the 100 TB recipe for repeated
    joins on the same key)."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    c = Catalog(spark, sf_dir)
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS od_bucketed")
    (
        c.lineitem.select("l_orderkey", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable("li_bucketed")
    )
    (
        c.orders.select("o_orderkey", "o_totalprice")
        .write.bucketBy(8, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable("od_bucketed")
    )
    li = spark.table("li_bucketed")
    od = spark.table("od_bucketed")
    joined = li.join(od, li.l_orderkey == od.o_orderkey)
    plan = plan_of(joined)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
    assert joined.count() > 0
    spark.sql("DROP TABLE li_bucketed")
    spark.sql("DROP TABLE od_bucketed")


def test_asof_join_semantics(spark):
    t = lambda m: dt.datetime(2024, 1, 1, 0, m)
    quotes = spark.createDataFrame(
        [(1, t(0), 10.0), (1, t(5), 11.0), (2, t(3), 99.0)],
        "sym int, qts timestamp, px double",
    )
    trades = spark.createDataFrame(
        [(1, t(4), "A"), (1, t(5), "B"), (1, t(6), "C"), (2, t(0), "D")],
        "sym int, tts timestamp, tid string",
    )
    out = TS.asof_join(trades, quotes, ["sym"], "tts", "qts")
    got = {r["tid"]: r["px"] for r in out.collect()}
    # A(0:04)->10.0; B(0:05)->11.0 (tie is inclusive); C(0:06)->11.0;
    # D(0:00, sym 2) has no quote at-or-before -> dropped (inner).
    assert got == {"A": 10.0, "B": 11.0, "C": 11.0}


def test_range_join_hot_key_stays_banded(spark):
    """One hot key with 1e5 events on both sides: the naive equi-join
    on the key alone would evaluate 1e10 pairs (minutes-to-hours); the
    banded join's fan-in is governed by time density (~10 rows/band
    here), so it must finish promptly AND the physical join key must
    include the band column — key skew never reaches the join."""
    import time

    n = 100_000
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    hot = (
        spark.range(n)
        .select(
            F.lit(0).alias("user_id"),
            F.timestamp_add("SECOND", F.col("id").cast("int"), base).alias("ts"),
            F.col("id").alias("seq"),
        )
    )
    left = hot.select("user_id", F.col("ts").alias("l_ts"), F.col("seq").alias("l_seq"))
    right = hot.select("user_id", F.col("ts").alias("r_ts"), F.col("seq").alias("r_seq"))
    out = TS.range_join(
        left, right, ["user_id"], "l_ts", "r_ts",
        lower_seconds=0, upper_seconds=10, strict_lower=True,
    )
    plan = plan_of(out)
    assert "__band" in plan, plan  # the join key carries the band
    t0 = time.monotonic()
    # each row pairs with the next 10 seconds -> 10 matches (except tail)
    assert out.count() == 10 * n - 55
    assert time.monotonic() - t0 < 120  # quadratic would be >>hours


def test_asof_join_hot_key_linear(spark):
    """As-of join on a single hot key with 1e5 rows per side: the
    union+window composition sorts 2e5 rows once instead of probing
    1e10 inequality pairs, and matches exactly (odd second -> the even
    second just before it)."""
    import time

    n = 100_000
    base = F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    mk = lambda off, name, payload: (
        spark.range(n).select(
            F.lit(0).alias("user_id"),
            F.timestamp_add(
                "SECOND", (F.col("id") * 2 + off).cast("int"), base
            ).alias(name),
            F.col("id").alias(payload),
        )
    )
    left = mk(1, "l_ts", "l_seq")   # odd seconds
    right = mk(0, "r_ts", "r_seq")  # even seconds
    t0 = time.monotonic()
    out = TS.asof_join(left, right, ["user_id"], "l_ts", "r_ts")
    rows = out.count()
    assert rows == n
    mismatches = out.filter(F.col("l_seq") != F.col("r_seq")).count()
    assert mismatches == 0  # each odd second matches its own even second
    assert time.monotonic() - t0 < 120


def test_asof_oracle(spark, sf_dir):
    from tests.oracle_utils import run_check

    ok, msg = run_check(spark, "asof_click_before_purchase", sf_dir)
    assert ok, msg


def test_intersect_oracle(spark, sf_dir):
    from tests.oracle_utils import run_check

    ok, msg = run_check(spark, "intersect_customers", sf_dir)
    assert ok, msg


def test_runtime_bloom_filter_prunes_probe_side(spark, sf_dir):
    """With a selective filter on one side of a shuffle join, Spark can
    inject a runtime bloom filter (`might_contain`) on the probe side so
    most probe rows die at the scan instead of crossing the shuffle —
    the 100 TB lever for selective star joins too big to broadcast. The
    local thresholds are lowered to make tiny test inputs eligible; on a
    real cluster the defaults (10M creation rows / 10G probe scan)
    gate it to where it pays."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        lineitem = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        joined = lineitem.join(
            orders, lineitem["l_orderkey"] == orders["o_orderkey"]
        ).groupBy("o_orderpriority").agg(F.sum("l_quantity").alias("qty"))
        plan = plan_of(joined)
        assert "might_contain" in plan.lower(), plan[:2000]
        assert joined.count() >= 1  # still computes
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_on_partitioned_fact(spark, sf_dir, tmp_path):
    """Writing the fact partitioned by a join key and joining it
    against a selectively-filtered dim must plan a dynamicpruning
    partition filter on the fact scan — at 100 TB this is what turns
    "scan every partition then join" into "scan only the partitions
    the dim filter survives", without any literal in the query.

    Gotcha (cost a debugging session): the dim-side predicate must be
    a COMPARISON (=, IN, LIKE, ...) — Spark's isLikelySelective check
    rejects a bare boolean column, so `filter("flag")` silently
    disables DPP while `filter(grp = 'hot')` enables it."""
    from pyspark.sql import functions as F

    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    li = Catalog(spark, sf_dir).lineitem.withColumn(
        "ship_yr", F.year("l_shipdate")
    )
    fact_path = str(tmp_path / "li_by_year")
    li.write.partitionBy("ship_yr").parquet(fact_path)
    fact = spark.read.parquet(fact_path)

    years = sorted(r.ship_yr for r in fact.select("ship_yr").distinct().collect())
    dim_path = str(tmp_path / "yr_dim")
    spark.createDataFrame(
        [(y, "recent" if y >= 2000 else "old") for y in years],
        "ship_yr int, era string",
    ).write.parquet(dim_path)
    dim = spark.read.parquet(dim_path).filter(F.col("era") == "recent")

    joined = fact.join(dim, "ship_yr").groupBy("ship_yr").agg(
        F.sum("l_extendedprice").alias("rev")
    )
    rows = joined.collect()  # executed plan carries the DPP filter
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan
    assert {r.ship_yr for r in rows} == {y for y in years if y >= 2000}


def test_join_strategy_hints_control_physical_join(spark, sf_dir):
    """Hints must actually steer the planner: merge → SortMergeJoin,
    shuffle_hash → ShuffledHashJoin, broadcast → BroadcastHashJoin —
    the manual override when AQE's choice is wrong for a known
    workload (e.g. forcing SMJ when both sides are huge and sorted on
    disk)."""
    from pyspark.sql import functions as F

    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    c = Catalog(spark, sf_dir)
    li = c.lineitem.select("l_orderkey", "l_extendedprice")
    od = c.orders.select("o_orderkey", "o_custkey")

    def plan(hinted):
        return hinted.join(li, hinted.o_orderkey == li.l_orderkey)._jdf \
            .queryExecution().executedPlan().toString()

    assert "SortMergeJoin" in plan(od.hint("merge"))
    assert "ShuffledHashJoin" in plan(od.hint("shuffle_hash"))
    assert "BroadcastHashJoin" in plan(od.hint("broadcast"))
