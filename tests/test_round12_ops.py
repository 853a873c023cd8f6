"""Round-12 operator contracts: each test pins the INVARIANT the
query's report claims (the test_round11b_ops posture), not just
non-emptiness — e.g. the Bloom filter must admit no false negatives,
the truss chain must be monotone under containment, and the TextRank
scores must respect the (1−d) teleport floor.
"""

from __future__ import annotations

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES


def _rows(spark, sf_dir, name):
    return QUERIES[name](spark, sf_dir).collect()


def test_ktruss_containment_and_support_consistency(spark, sf_dir):
    rows = sorted(_rows(spark, sf_dir, "ktruss_decomposition_parts"),
                  key=lambda r: r.k)
    assert [r.k for r in rows] == [3, 4, 5]
    # containment: the (k+1)-truss is a subset of the k-truss
    for a, b in zip(rows, rows[1:]):
        assert b.truss_edges <= a.truss_edges
        assert b.truss_nodes <= a.truss_nodes
    # max_k is consistent with the per-level counts and shared by rows
    mk = rows[0].max_k
    assert all(r.max_k == mk for r in rows)
    nonempty = [r.k for r in rows if r.truss_edges > 0]
    assert mk == (max(nonempty) if nonempty else 2)
    # the 3-truss edge count equals the support>=1 cumulative count of
    # edge_support_profile ONLY after peeling converges, so it is <=
    # the one-shot support histogram's count (peeling removes more)
    sup = {r.support: r.n_edges_at_least
           for r in _rows(spark, sf_dir, "edge_support_profile")}
    at_least_1 = max((v for s, v in sup.items() if s >= 1), default=0)
    assert rows[0].truss_edges <= at_least_1
    # a node in a truss needs >= 2 incident edges, so edges >= nodes/2
    for r in rows:
        assert r.truss_edges * 2 >= r.truss_nodes


def test_scorer_shootout_bounds_and_coverage(spark, sf_dir):
    rows = {r.scorer: r for r in _rows(spark, sf_dir, "retrieval_scorer_shootout")}
    assert set(rows) == {"bm25", "dirichlet_ql", "hybrid_rrf"}
    for r in rows.values():
        assert 0.0 <= r.mean_ndcg10 <= 1.0
        assert 0.0 <= r.mean_mrr <= 1.0
        assert 0.0 <= r.mean_p_at_10 <= 1.0


def test_dsir_rebalance_inventories_and_weights(spark, sf_dir):
    rows = _rows(spark, sf_dir, "dsir_epoch_rebalance")
    assert rows
    for r in rows:
        assert 0 <= r.n_docs_kept <= r.n_docs
        assert 0 <= r.kept_tokens <= r.n_tokens
        assert (r.kept_tokens == 0) == (r.weight == 0.0)
    # temperature weights over the kept inventory sum to ~1 (unless
    # nothing is kept anywhere)
    if any(r.kept_tokens for r in rows):
        assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    # the 2x budget is conserved up to per-row floor truncation
    total_kept = sum(r.kept_tokens for r in rows)
    assert 0 <= 2 * total_kept - sum(r.target_tokens for r in rows) < len(rows) + 1


def test_matrix_profile_discords_shape(spark, sf_dir):
    rows = _rows(spark, sf_dir, "matrix_profile_discords_daily")
    assert rows
    for r in rows:
        assert r.mp_dist >= 0.0
        assert r.day.year == 1996 and r.nn_day.year == 1996
        # the exclusion zone: nearest neighbor is a non-overlapping window
        assert abs((r.day - r.nn_day).days) >= 7
    # discords are reported farthest-first
    dists = [r.mp_dist for r in rows]
    assert dists == sorted(dists, reverse=True)


def test_bloom_no_false_negatives_and_bounds(spark, sf_dir):
    (r,) = _rows(spark, sf_dir, "bloom_semijoin_reduction")
    assert r.bloom_pass_rows >= r.true_match_rows  # no false negatives
    assert r.false_positive_rows == r.bloom_pass_rows - r.true_match_rows
    assert 0.0 <= r.observed_fpr <= 1.0
    assert 0.0 <= r.reduction_frac <= 1.0
    assert r.m_bits == 16 * r.build_keys
    # the filter must actually reduce the shuffle on this corpus (the
    # urgent slice is ~1/5 of orders; 16 bits/key keeps fpr ~0.5%)
    assert r.bloom_pass_rows < r.probe_rows
    assert r.observed_fpr < 0.05


def test_shuffle_skew_report_consistency(spark, sf_dir):
    rows = {r.key_col: r for r in _rows(spark, sf_dir, "shuffle_skew_report")}
    assert set(rows) == {
        "lineitem.l_orderkey",
        "lineitem.l_partkey",
        "lineitem.l_suppkey",
        "events.user_id",
    }
    li_total = rows["lineitem.l_orderkey"].total_rows
    for col in ("lineitem.l_partkey", "lineitem.l_suppkey"):
        assert rows[col].total_rows == li_total  # same table, same rows
    for r in rows.values():
        assert r.imbalance >= 1.0
        assert r.max_rows >= r.mean_rows
        assert r.keys_over_10x_mean <= r.keys_over_2x_mean
        assert r.salt_recommended == (r.imbalance > 8.0)


def test_approx_percentile_certificates_hold(spark, sf_dir):
    rows = _rows(spark, sf_dir, "approx_percentile_accuracy_sweep")
    assert len(rows) == 9
    assert all(r.within_rank_bound for r in rows)
    # exact quantiles are monotone in q for every accuracy row set
    by_acc: dict[int, list] = {}
    for r in rows:
        by_acc.setdefault(r.accuracy, []).append(r)
    for acc_rows in by_acc.values():
        qs = sorted(acc_rows, key=lambda r: r.q)
        vals = [r.exact_value for r in qs]
        assert vals == sorted(vals)


def test_textrank_scores_floor_and_vocab(spark, sf_dir):
    rows = _rows(spark, sf_dir, "textrank_keywords")
    assert rows
    for r in rows:
        # s = (1-d) + d * (nonnegative) >= 1-d
        assert r.score >= (1.0 - 0.85) - 1e-9
        assert len(r.term) >= 4 and r.term.isalpha() and r.term.islower()
    scores = [r.score for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_ivf_drift_psi_bounds(spark, sf_dir):
    (r,) = _rows(spark, sf_dir, "ivf_assignment_drift_psi")
    assert r.n_ref > 0 and r.n_target > 0
    assert r.n_cells > 0
    assert r.psi >= 0.0  # PSI is a (symmetrized-KL-like) nonneg sum
    assert r.drift_alert == (r.psi > 0.2)
    # even/odd split of one population: drift must be small, not huge
    assert r.psi < 2.0


def test_watermark_audit_monotone_in_watermark(spark, sf_dir):
    rows = sorted(
        _rows(spark, sf_dir, "watermark_late_audit"),
        key=lambda r: r.watermark_hours,
    )
    assert [r.watermark_hours for r in rows] == [1, 6, 24]
    n = rows[0].n_events
    assert all(r.n_events == n for r in rows)
    # a larger watermark can only drop fewer rows
    lates = [r.n_late for r in rows]
    assert lates == sorted(lates, reverse=True)
    for r in rows:
        assert 0 <= r.n_late <= r.n_events
        assert abs(r.late_frac - round(r.n_late / n, 6)) < 1e-9
    # the md5 arrival shuffle on a month of events MUST surface lateness
    assert rows[0].n_late > 0


def test_kmv_estimates_within_sketch_error(spark, sf_dir):
    rows = {r.measure: r for r in _rows(spark, sf_dir, "kmv_set_operations")}
    assert set(rows) == {"a_purchasers", "b_clickers", "union", "intersection"}
    for r in rows.values():
        assert r.exact_count >= 0 and r.kmv_estimate >= 0.0
    # union >= max(parts), intersection <= min(parts) — exact sides
    assert rows["union"].exact_count >= max(
        rows["a_purchasers"].exact_count, rows["b_clickers"].exact_count
    )
    assert rows["intersection"].exact_count <= min(
        rows["a_purchasers"].exact_count, rows["b_clickers"].exact_count
    )
    # cardinality estimates: ~1/sqrt(k) rsd -> 10 sigma tolerance when
    # the estimator path engaged; exact (rel_err 0) below k
    for m in ("a_purchasers", "b_clickers", "union"):
        r = rows[m]
        if r.exact_count > 256:
            assert r.rel_err < 10.0 / (256 ** 0.5)
        else:
            assert r.rel_err == 0.0
