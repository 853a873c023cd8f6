"""Physical-plan quality gates: the properties that make these queries
survive a 100× scale-up must be visible in the executed plan —
broadcast joins for dims, pushed filters, TakeOrdered for top-k, a
single exchange for window analytics. A regression here is a perf bug
even while results stay correct."""

from __future__ import annotations

import pytest

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_join_revenue_broadcasts_dims(spark, sf_dir):
    plan = plan_of(QUERIES["join_revenue_by_nation_year"](spark, sf_dir))
    # customer + nation arrive via broadcast: no shuffle of the fact side
    # for those joins.
    assert plan.count("BroadcastHashJoin") >= 2, plan
    # partial (map-side) aggregation before the final exchange
    assert "partial_sum" in plan or "Partial" in plan, plan


def test_semi_join_filter_pushdown(spark, sf_dir):
    plan = plan_of(QUERIES["semi_join_big_spenders"](spark, sf_dir))
    assert "PushedFilters" in plan and "GreaterThan(o_totalprice,450000" in plan, plan


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(QUERIES["topk_orders"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan


def test_zscore_moments_join_no_window_no_sort(spark, sf_dir):
    """The z-score moments must plan as a map-side-combined grouped
    aggregate joined back onto the fact — NOT a Window over the fact
    (which exchanges AND sorts every fact row on the group key;
    measured 31.8 s vs 4-6 s at sf10). Gates: no Window node, no Sort
    anywhere, partial aggregation present, exactly one shuffle
    exchange (the groupBy), and a broadcast join back."""
    import re

    plan = plan_of(QUERIES["zscore_events"](spark, sf_dir))
    assert not re.findall(r"\(\d+\) Window", plan), plan
    assert not re.findall(r"\(\d+\) Sort", plan), plan
    assert "partial_sum" in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "BroadcastExchange" in plan, plan


def test_scan_prunes_columns(spark, sf_dir):
    """The flagship reads 4 of events' 6 columns — ReadSchema must show
    the pruned projection, not the full row."""
    plan = plan_of(QUERIES["zscore_anomaly"](spark, sf_dir))
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read and "props" not in read[0] and "ts" not in read[0], plan


def test_cross_join_broadcasts_small_side(spark, sf_dir):
    plan = plan_of(QUERIES["cross_join_limited"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan, plan


@pytest.mark.parametrize(
    "name",
    [
        "deterministic_sample",
        "cube_lineitem",
        "grouping_sets_lineitem",
        "union_multi_source",
        "knn_join_brute",
        "knn_join_ivf",
        "winnow_fingerprints",
        "tfidf_top_terms",
        "rolling_7d_customer_revenue",
        "levenshtein_neardup",
        "stratified_sample_events",
    ],
)
def test_oracle_coverage(spark, sf_dir, name):
    from tests.oracle_utils import run_check

    ok, msg = run_check(spark, name, sf_dir)
    assert ok, msg


def test_knn_join_broadcasts_query_batch(spark, sf_dir):
    """The corpus side must never shuffle for scoring: the query batch
    arrives via broadcast; the only hash exchange is the per-query
    window for top-k ranking."""
    import re

    plan = plan_of(QUERIES["knn_join_brute"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan


def test_ivf_knn_join_joins_on_cell(spark, sf_dir):
    """The celled self-KNN must be an equi-join keyed on the cell id —
    the co-partitionable 100 TB shape — not a cross join."""
    plan = plan_of(QUERIES["knn_join_ivf"](spark, sf_dir))
    assert "cell" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_salted_join_spreads_key(spark, sf_dir):
    """The salted path must actually join on (key, salt)."""
    plan = plan_of(QUERIES["salted_join_revenue"](spark, sf_dir))
    assert "__salt" in plan, plan


def test_quality_profile_single_scan(spark, sf_dir):
    """All five checks must come from ONE scan of orders (the operator's
    contract: no per-metric re-run of the DAG)."""
    import re

    plan = plan_of(QUERIES["data_quality_orders"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_approx_distinct_close_to_exact(spark, sf_dir):
    """The query folds the approx-vs-exact comparison into its own
    within_tol column (so the oracle can check it); every group must
    report the HLL estimate inside tolerance."""
    rows = QUERIES["approx_distinct_users"](spark, sf_dir).collect()
    assert rows
    assert all(r["within_tol"] for r in rows)


def test_range_join_keys_include_band(spark, sf_dir):
    """The range join must equi-join on (user_id, band) — a key-only
    join would be quadratic per hot user at scale."""
    plan = plan_of(QUERIES["range_join_next_hour"](spark, sf_dir))
    assert "__band" in plan, plan
    # exact predicate retained as the join residual/filter
    assert "3600000000" in plan, plan


def test_ivf_corpus_never_shuffles(spark, sf_dir):
    """IVF cell assignment is row-local (codebook literals): the only
    plan shape allowed is scan -> project/filter -> TakeOrdered. Any
    Exchange besides the final single-partition one is a regression."""
    import re

    plan = plan_of(QUERIES["ivf_ann_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert not re.search(r"Exchange hashpartitioning", plan), plan


def test_repetition_and_pii_plan_shapes(spark, sf_dir):
    """PII scrub is row-local — zero Exchange, scales with the scan.
    Repetition stats DELIBERATELY shuffle (doc, token) counts: the
    zero-shuffle in-row higher-order fold was O(distinct×n) per doc in
    the interpreted evaluator (60 s at sf1 vs 2 s — see
    repetition_stats); the plan gate now pins the codegen'd two-level
    aggregate shape: doc-keyed hash exchanges only, and no more than
    two of them."""
    import re

    plan = plan_of(QUERIES["pii_scrub_docs"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan

    plan = plan_of(QUERIES["repetition_quality_docs"](spark, sf_dir))
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert 1 <= len(exchanges) <= 2, plan
    assert plan.count("hashpartitioning(doc_id") == len(exchanges), plan


def test_funnel_single_shuffle_for_stage_fold(spark, sf_dir):
    """The funnel's per-user fold must cost ONE hash exchange by
    user_id (plus the tiny stage-table join, which must broadcast) —
    not the k chained join shuffles of the naive formulation."""
    plan = plan_of(QUERIES["funnel_view_click_purchase"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_quota_single_exchange_by_group(spark, sf_dir):
    """Per-source quota: one shuffle by the group key, then rank+filter."""
    import re

    plan = plan_of(QUERIES["quota_sample_per_source"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(source" in plan, plan


def test_merge_intervals_single_exchange(spark, sf_dir):
    """Interval merge: the two stacked windows (running max, island sum)
    and the final per-(key, island) aggregate must all ride ONE hash
    exchange by user_id — hashpartitioning(user_id) already clusters the
    (user_id, island) grouping, so no second shuffle is allowed."""
    import re

    plan = plan_of(QUERIES["merge_intervals_activity"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "hashpartitioning(user_id" in plan, plan


def test_winsorize_broadcasts_fences(spark, sf_dir):
    """The groups-sized fence table must come back via broadcast — a
    sort-merge join here would shuffle the full fact side twice."""
    plan = plan_of(QUERIES["winsorize_event_values"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_linreg_partial_aggregation_and_pruned_scan(spark, sf_dir):
    """regr_* moments must combine map-side (partial before the single
    exchange) and the scan must read only the 3 referenced columns."""
    import re

    plan = plan_of(QUERIES["linreg_price_by_qty"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    read = [line for line in plan.splitlines() if "ReadSchema" in line]
    assert read and "l_orderkey" not in read[0] and "l_shipdate" not in read[0], plan


def test_session_window_single_exchange(spark, sf_dir):
    """Native session windows: one shuffle by the grouping key; the
    gap-merge is exchange-local (that's the whole scale model)."""
    import re

    plan = plan_of(QUERIES["session_window_stats"](spark, sf_dir))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1, plan


def test_prefix_jaccard_no_cartesian(spark, sf_dir):
    """Prefix filtering exists to avoid the quadratic join: the plan
    must contain only keyed joins — no cartesian/broadcast-nested-loop
    stage anywhere."""
    plan = plan_of(QUERIES["prefix_jaccard_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_grid_blocked_neardup_no_cartesian(spark, sf_dir):
    """block_dims=2 replaces the cross join with a cell equi-join."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import dedup as DD

    emb = Catalog(spark, sf_dir).embeddings.select("vec_id", "embedding")
    plan = plan_of(DD.embedding_neardup_pairs(emb, threshold=0.99, block_dims=2))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_segment_candidates_plan_no_cartesian(spark, sf_dir):
    """The PassJoin candidate join must plan as a shuffled hash join on
    the composite segment key — never a cartesian/BNL join, and never a
    broadcast of the (size-misestimated) exploded probe side."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import dedup as D

    cust = Catalog(spark, sf_dir).customer.select(
        "c_nationkey", "c_mktsegment", "c_custkey", "c_name"
    )
    cand = D.segment_candidates(
        cust, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"],
        max_dist=2, n_segments=4, min_matches=2,
    )
    plan = plan_of(cand)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ShuffledHashJoin" in plan, plan


def test_star_cc_round_plan_no_cartesian(spark):
    """One large-star/small-star round is window aggregates + unions —
    any cartesian or nested-loop join in the round plan would explode
    at scale."""
    from pyspark.sql import functions as F

    from climate_anomaly_bigdata_pipeline_spark.operators import dedup as D

    # max_iter must allow convergence: star CC now REFUSES to emit a
    # truncated (silently wrong) labeling.
    edges = spark.range(1000).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    out = D.connected_components(edges, max_iter=50)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ntile_deciles_no_single_partition_sort(spark, sf_dir):
    """The NTILE query must NOT contain a global one-task window sort:
    the global rank comes from the distributed zipWithIndex (range
    exchange), so no Window over SinglePartition may appear."""
    plan = plan_of(QUERIES["ntile_deciles_orders"](spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_ann_serve_external_broadcasts_queries_on_cell_join(spark, sf_dir):
    """The serving plan (streaming server's per-micro-batch shape) must
    broadcast the probe/query side into a cell EQUI-join — the corpus
    never shuffles for candidate generation; the only hash exchange is
    the per-query ranking window over (id, id, score) triples."""
    import re

    plan = plan_of(QUERIES["ann_serve_external"](spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 1, plan
