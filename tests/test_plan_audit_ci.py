"""Plan-hygiene gate: the ``tools/plan_audit.py`` antipattern scan, run
as a pytest over a fixed set of 19 queries whose plans join, pair or
iterate before they aggregate (graph peels, ANN training and serving,
pairwise similarity, retrieval scoring, sketch sweeps, skew and
late-data reports): the shapes most easily turned into a cartesian
product or a single-partition window by accident. A hard finding
fails the test; soft findings are printed. The full-registry sweep
stays a manual tool (``python tools/plan_audit.py``) because building
all 282 plans takes minutes.
"""

from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import plan_audit  # noqa: E402
from plan_audit import ALLOWED, audit, plan_of  # noqa: E402

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES  # noqa: E402

AUDITED = (
    "ktruss_decomposition_parts",
    "retrieval_scorer_shootout",
    "dsir_epoch_rebalance",
    "matrix_profile_discords_daily",
    "bloom_semijoin_reduction",
    "shuffle_skew_report",
    "approx_percentile_accuracy_sweep",
    "textrank_keywords",
    "ivf_assignment_drift_psi",
    "watermark_late_audit",
    "kmv_set_operations",
    "embedding_whitening_audit",
    "ivf_recall_vs_nprobe",
    "knn_join_ivf",
    "ivf_ann_topk",
    "ann_serve_external",
    "hll_rsd_sweep",
    "cross_split_semantic_leakage",
    "dirichlet_lm_topk_docs",
)


def test_round_additions_have_clean_plans(spark, sf_dir):
    hard: list[str] = []
    soft: list[str] = []
    for name in AUDITED:
        plan = plan_of(QUERIES[name](spark, sf_dir))
        for f in audit(name, plan):
            if name in ALLOWED:
                continue
            (hard if f.startswith("HARD") else soft).append(f"{name}: {f}")
    for s in soft:
        print("soft", s)
    assert not hard, hard


def test_plan_audit_rejects_unknown_name_before_spark(sf_dir, monkeypatch, capsys):
    def no_spark(*args, **kwargs):
        raise AssertionError("plan_audit started Spark for an unknown name")

    monkeypatch.setattr(plan_audit, "get_spark", no_spark)
    with pytest.raises(SystemExit) as exc:
        plan_audit.main([sf_dir, "zscore_anomaly", "typo_name"])
    assert exc.value.code == 2
    assert "unknown query names: ['typo_name']" in capsys.readouterr().err
