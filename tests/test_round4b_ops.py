"""Unit tests for the round-4 advanced-analytics batch: degree-ordered
triangle counting (vs a driver-side brute-force oracle on random
graphs) and the triangle plan's shape."""

from __future__ import annotations

import itertools
import random

from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators import graph as G


def _brute_triangles_per_node(edges):
    """Driver-side oracle: count triangles at each vertex."""
    adj: dict = {}
    canon = {(min(a, b), max(a, b)) for a, b in edges if a != b}
    for a, b in canon:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict = {}
    for a, b, c in itertools.combinations(sorted(adj), 3):
        if b in adj[a] and c in adj[a] and c in adj[b]:
            for x in (a, b, c):
                counts[x] = counts.get(x, 0) + 1
    return counts


def test_triangles_match_brute_force_on_random_graphs(spark):
    rng = random.Random(7)
    for trial in range(4):
        n = 20 + trial * 10
        m = 3 * n
        # Self-loops stay IN the input: the operator must ignore them
        # (the brute-force oracle drops them in its canonicalization).
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(m)
        ]
        df = spark.createDataFrame(edges, "u long, v long")
        got = {
            r.node: r.n_triangles
            for r in G.triangles_per_node(df).collect()
        }
        assert got == _brute_triangles_per_node(edges), f"trial {trial}"


def test_triangles_ignore_self_loops_on_tree(spark):
    # A tree plus a self-loop has no triangles; an oriented self-loop
    # 1->1 would fabricate wedge (1,1,2) closing through real edge 1->2.
    edges = [(1, 1), (1, 2), (2, 3), (2, 4), (2, 5)]
    df = spark.createDataFrame(edges, "u long, v long")
    assert G.triangles_per_node(df).count() == 0


def test_triangles_count_each_triangle_once_regardless_of_duplicates(spark):
    # K4 given with duplicate + reversed edges: 4 triangles, each node in 3.
    base = [(a, b) for a in range(4) for b in range(4) if a != b]
    df = spark.createDataFrame(base + base[:5], "u long, v long")
    got = {r.node: r.n_triangles for r in G.triangles_per_node(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_triangle_free_graph_returns_empty(spark):
    # A 6-cycle has no triangles.
    cyc = [(i, (i + 1) % 6) for i in range(6)]
    df = spark.createDataFrame(cyc, "u long, v long")
    assert G.triangles_per_node(df).count() == 0


def _brute_bfs(edges, source, max_hops):
    adj: dict = {}
    for a, b in edges:
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    dist = {source: 0}
    frontier = [source]
    for hop in range(1, max_hops + 1):
        nxt = []
        for x in frontier:
            for y in adj.get(x, ()):
                if y not in dist:
                    dist[y] = hop
                    nxt.append(y)
        frontier = nxt
    return dist


def test_bfs_matches_brute_force_on_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = 40 + trial * 20
        edges = [
            (rng.randrange(n), rng.randrange(n)) for _ in range(2 * n)
        ]
        df = spark.createDataFrame(edges, "u long, v long")
        got = {r.node: r.dist for r in G.bfs_distances(df, 0).collect()}
        assert got == _brute_bfs(edges, 0, 6), f"trial {trial}"


def test_bfs_early_exits_and_respects_hop_cap(spark):
    # Path 0-1-2-...-9: with max_hops=4 only nodes 0..4 are reachable.
    path = [(i, i + 1) for i in range(9)]
    df = spark.createDataFrame(path, "u long, v long")
    got = {
        r.node: r.dist
        for r in G.bfs_distances(df, 0, max_hops=4).collect()
    }
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 4}


def test_cooccurrence_edges_match_self_join(spark):
    """The in-row C(n,2) expansion must emit exactly the pairs the
    naive distinct+self-join would."""
    rng = random.Random(5)
    rows = [
        (rng.randrange(30), rng.randrange(15)) for _ in range(300)
    ]
    df = spark.createDataFrame(rows, "g long, it long")
    got = {
        (r.u, r.v, r.w)
        for r in G.cooccurrence_edges(df, "g", "it", min_support=2).collect()
    }
    po = df.distinct()
    joined = (
        po.alias("a")
        .join(po.alias("b"), "g")
        .where(F.col("a.it") < F.col("b.it"))
        .groupBy(F.col("a.it").alias("u"), F.col("b.it").alias("v"))
        .agg(F.count(F.lit(1)).alias("w"))
        .where(F.col("w") >= 2)
    )
    want = {(r.u, r.v, r.w) for r in joined.collect()}
    assert got == want


def test_cooccurrence_edges_plan_has_no_join(spark):
    df = spark.createDataFrame([(1, 2), (1, 3), (2, 2)], "g long, it long")
    from tests.test_plans import plan_of

    text = plan_of(G.cooccurrence_edges(df, "g", "it"))
    for marker in ("Join", "CartesianProduct"):
        assert marker not in text, text


# ---- plan gate for the triangle counter -------------------------------------


def test_triangle_plan_has_no_cartesian_product(spark, sf_dir):
    from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES
    from tests.test_plans import plan_of

    text = plan_of(QUERIES["triangle_parts_copurchase"](spark, sf_dir))
    assert "CartesianProduct" not in text, text
    assert "BroadcastNestedLoopJoin" not in text, text


# ---- distributional statistics invariants -----------------------------------


def test_gini_matches_numpy_and_stays_in_unit_interval(spark, sf_dir):
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

    rows = QUERIES["gini_order_value_by_nation"](spark, sf_dir).collect()
    assert rows, "expected one row per nation"
    got = {r.n_name: (r.n_orders, r.gini) for r in rows}

    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{sf_dir}/orders.parquet'"
    )
    con.execute(
        f"CREATE VIEW customer AS SELECT * FROM '{sf_dir}/customer.parquet'"
    )
    con.execute(
        f"CREATE VIEW nation AS SELECT * FROM '{sf_dir}/nation.parquet'"
    )
    ref = con.execute(
        """SELECT n_name, list(o_totalprice ORDER BY o_totalprice, o_orderkey)
           FROM orders o JOIN customer c ON c.c_custkey=o.o_custkey
           JOIN nation n ON n.n_nationkey=c.c_nationkey GROUP BY n_name"""
    ).fetchall()
    for name, xs in ref:
        x = np.sort(np.asarray(xs, dtype=float))
        n = len(x)
        want = 2 * np.sum(np.arange(1, n + 1) * x) / (n * x.sum()) - (n + 1) / n
        n_got, g_got = got[name]
        assert n_got == n
        # the query rounds gini to 6 decimals (round-10 exact-integer
        # rework), so the numpy reference matches to the rounding
        # quantum, not machine epsilon
        assert abs(g_got - round(want, 6)) < 1e-9
        assert 0.0 <= g_got < 1.0


def test_assortativity_within_bounds(spark, sf_dir):
    from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

    row = QUERIES["copurchase_degree_assortativity"](spark, sf_dir).collect()
    assert len(row) == 1
    assert -1.0 <= row[0].assortativity <= 1.0
    assert row[0].n_edge_ends > 0
