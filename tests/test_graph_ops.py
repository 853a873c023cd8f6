"""Tests of the graph operators (``operators/graph.py``)."""

from __future__ import annotations

from climate_anomaly_bigdata_pipeline_spark.operators import graph as G


# ---- PageRank: reference parity ---------------------------------------------


def _ref_pagerank(edges, d=0.85, iters=3):
    """Closed-form reference: the same recurrence in plain Python."""
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    n = len(nodes)
    out: dict = {}
    for u, _ in edges:
        out[u] = out.get(u, 0) + 1
    r = {x: 1.0 / n for x in nodes}
    for _ in range(iters):
        contrib = {x: 0.0 for x in nodes}
        for u, v in edges:
            contrib[v] += r[u] / out[u]
        r = {x: (1 - d) / n + d * contrib[x] for x in nodes}
    return r


# 1→2→3→4 (4 dangling), plus 1→3, 2→4, and an isolated-ish 5→1.
_EDGES = [(1, 2), (2, 3), (3, 4), (1, 3), (2, 4), (5, 1)]


def _spark_ranks(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {
        r["node"]: r["rank"] for r in G.pagerank(df, **kw).collect()
    }


def test_pagerank_matches_python_reference(spark):
    got = _spark_ranks(spark, _EDGES, n_iter=4)
    want = _ref_pagerank(_EDGES, iters=4)
    assert set(got) == set(want)
    for x in want:
        assert abs(got[x] - want[x]) < 1e-12, (x, got[x], want[x])
    # the dangling node 4 absorbs rank: mass leaks below 1
    assert sum(got.values()) < 1.0 - 1e-3
