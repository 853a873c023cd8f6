"""Round-6 guards: the no-silent-caps contract on
``cooccurrence_edges`` (VERDICT r5 item 5) and the k-core oracle
round-margin assertion (item 6)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import graph as G


def _mega_basket(spark):
    """One 12-item mega-group plus two small 3-item groups."""
    rows = [("big", i) for i in range(12)]
    rows += [("a", 100), ("a", 101), ("a", 102)]
    rows += [("b", 101), ("b", 102), ("b", 103)]
    return spark.createDataFrame(rows, "g string, it long")


def test_cooccurrence_oversize_error_detonates(spark):
    df = _mega_basket(spark)
    edges = G.cooccurrence_edges(
        df, "g", "it", min_support=1, max_group_size=10
    )
    with pytest.raises(Exception, match="max_group_size"):
        edges.collect()


def test_cooccurrence_error_mode_silent_when_under_cap(spark):
    df = _mega_basket(spark)
    rows = G.cooccurrence_edges(
        df, "g", "it", min_support=1, max_group_size=100
    ).collect()
    # 12 items in "big" → C(12,2)=66; "a"/"b" add C(3,2)=3 each.
    assert len(rows) == 66 + 3 + 3 - 1  # (101,102) shared by a and b

    weights = {(r.u, r.v): r.w for r in rows}
    assert weights[(101, 102)] == 2


def test_kcore_fixpoint_margin_vs_unrolled_oracle(spark, sf_scale_dir):
    """The kcore_copurchase oracle unrolls a FIXED number of peeling
    rounds (``_KCORE_ROUNDS``) while the engine iterates to fixpoint.
    Assert the engine's measured depth at sf0.1 (10× the driver's
    oracle SF) stays ≥2 rounds under the unroll so a window rotation
    or SF bump cannot silently diverge the two."""
    from climate_anomaly_bigdata_pipeline_spark.queries.advancedq import (
        _KCORE_K,
        _KCORE_ROUNDS,
    )

    li = Catalog(spark, sf_scale_dir).lineitem
    edges = G.cooccurrence_edges(
        li.select("l_orderkey", "l_partkey").distinct(),
        "l_orderkey",
        "l_partkey",
        min_support=2,
    ).select(F.col("u"), F.col("v"))
    core = G.k_core(edges, k=_KCORE_K)
    core.collect()
    assert core.kcore_rounds <= _KCORE_ROUNDS - 2, (
        f"engine peeled {core.kcore_rounds} rounds; oracle unrolls "
        f"{_KCORE_ROUNDS} — margin too thin"
    )


# ---- EWMA bucketed-pandas parity + wide-stage guard -------------------------


def test_ewma_bucketed_matches_per_key_reference(spark):
    """ewma_by_key groups Arrow batches by coarse hash bucket and runs
    pandas' grouped ewm across all keys of a bucket in one C call.
    Parity gate: identical (key, ewma, n_obs) to the straightforward
    per-key pandas fold, over many keys with out-of-order rows, ties
    broken by the secondary order column, and a null value in the mix."""
    import random

    import pandas as pd

    rng = random.Random(606)
    rows = []
    for k in range(97):  # enough keys to spread across buckets
        n = rng.randint(1, 12)
        ts = list(range(n))
        rng.shuffle(ts)
        for t in ts:
            v = None if (k == 13 and t == 0) else round(rng.uniform(-50, 50), 3)
            rows.append((k, t, t, v))
    df = spark.createDataFrame(rows, "k long, t long, tie long, v double")

    from climate_anomaly_bigdata_pipeline_spark.operators import timeseries as TS

    got = {
        r.k: (r.ewma, r.n_obs)
        for r in TS.ewma_by_key(
            df, ["k"], ["t", "tie"], "v", alpha=0.3, num_buckets=16
        ).collect()
    }

    pdf = pd.DataFrame(rows, columns=["k", "t", "tie", "v"])
    pdf = pdf.sort_values(["k", "t", "tie"], kind="mergesort")
    want = {}
    for k, g in pdf.groupby("k"):
        y = g["v"].ewm(alpha=0.3, adjust=False).mean().iloc[-1]
        want[k] = (round(float(y), 4), len(g))
    assert got == want


def test_ewma_pandas_stage_stays_wide_under_aqe(spark):
    """Regression gate for the AQE starvation bug: byte-based partition
    coalescing folded the small-bytes exchange before the CPU-bound
    applyInPandas down to 1-2 partitions. The explicit-count hash
    repartition must keep the pandas stage at the session's default
    parallelism regardless of input size."""
    from climate_anomaly_bigdata_pipeline_spark.operators import timeseries as TS

    df = spark.createDataFrame(
        [(i % 50, i, float(i)) for i in range(2000)], "k long, t long, v double"
    )
    out = TS.ewma_by_key(df, ["k"], ["t"], "v")
    # mapInPandas/applyInPandas is narrow: the result's partitioning IS
    # the pandas stage's partitioning.
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )
    # exactly one exchange (in the FINAL adaptive plan — the dump
    # repeats the initial plan below it): the explicit repartition
    # doubles as the clustering applyInPandas needs.
    plan = out._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0].lower()
    assert final.count("exchange hashpartitioning") == 1, plan
    assert "repartition_by_num" in final, plan
