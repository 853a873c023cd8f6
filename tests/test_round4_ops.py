"""Unit tests for round-4 operators: large-star/small-star connected
components, trained IVF codebook, PNG decode, mergeable quantile
rollup, CMS fallback."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators import dedup as D


# ---- large-star / small-star connected components ---------------------------


def _labels(df):
    return {r.node: r.cluster_id for r in df.collect()}


def _cc_oracle(edges):
    """Driver-side union-find ground truth for small graphs."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = component min; path-compress fully
    return {x: find(x) for x in parent}


def test_star_cc_matches_propagation_and_oracle_on_random_graphs(spark):
    """Both the driver-local fastpath (default, graphs this small) and
    the forced-distributed loop (local_max_edges=0) must agree with
    union-find ground truth — also with self-loops, isolated
    self-pairs, duplicate pairs in both orientations and string ids
    (which never take the numpy fastpath)."""
    rng = random.Random(42)
    for trial in range(4):
        n = 60 + trial * 40
        m = n + rng.randrange(n)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges += [(x, x) for x in rng.sample(range(n), 5)]  # self-loops
        edges += [(n + i, n + i) for i in range(3)]  # isolated self-pairs
        edges += [(b, a) for a, b in rng.sample(edges, 10)]  # duplicates
        if trial == 3:
            edges = [(f"n{a:04d}", f"n{b:04d}") for a, b in edges]
            df = spark.createDataFrame(edges, "id1 string, id2 string")
        else:
            df = spark.createDataFrame(edges, "id1 long, id2 long")
        want = _cc_oracle(edges)
        got = _labels(D.connected_components(df))
        assert got == want, f"trial {trial}: local != union-find"
        got_d = _labels(D.connected_components(df, local_max_edges=0))
        assert got_d == want, f"trial {trial}: distributed != union-find"


def test_star_cc_converges_on_10k_chain_where_propagation_truncates(spark):
    """A 10k-node path graph has diameter 9999: min-label propagation
    would need one round per hop, while the star algorithm needs only
    O(log^2 n) rounds. local_max_edges=0 forces the DISTRIBUTED loop —
    the property under test is the round behavior, which the
    driver-local fastpath would short-circuit."""
    n = 10_000
    chain = spark.range(n - 1).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    out = D.connected_components(chain, max_iter=50, local_max_edges=0)
    agg = out.agg(
        F.count("*").alias("n"),
        F.countDistinct("cluster_id").alias("k"),
        F.max("cluster_id").alias("mx"),
    ).collect()[0]
    assert (agg.n, agg.k, agg.mx) == (n, 1, 0)


def test_local_cc_fastpath_matches_distributed_on_chain_and_types(spark):
    """Round-14 optimization: the driver-local numpy CC endgame must be
    label-identical to the distributed star loop on the adversarial
    chain shape, preserve the node column's dtype, and stay OFF for
    non-integral ids."""
    n = 10_000
    chain = spark.range(n - 1).select(
        F.col("id").alias("id1"), (F.col("id") + 1).alias("id2")
    )
    local = D.connected_components(chain, max_iter=50)
    dist = D.connected_components(chain, max_iter=50, local_max_edges=0)
    assert _labels(local) == _labels(dist)
    assert local.schema == dist.schema

    # int ids keep their narrower type through the fastpath
    df_int = spark.createDataFrame([(1, 2), (2, 3)], "id1 int, id2 int")
    out_int = D.connected_components(df_int)
    assert [f.dataType.simpleString() for f in out_int.schema.fields] == [
        "int",
        "int",
    ]
    assert _labels(out_int) == {1: 1, 2: 1, 3: 1}

    # string ids are ineligible for the numpy path; the distributed
    # loop must still produce correct labels
    df_str = spark.createDataFrame(
        [("b", "c"), ("a", "b")], "id1 string, id2 string"
    )
    assert _labels(D.connected_components(df_str)) == {
        "a": "a",
        "b": "a",
        "c": "a",
    }


def test_star_cc_handles_self_pairs_and_isolated_nodes(spark):
    df = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 3)], "id1 long, id2 long"
    )
    got = _labels(D.connected_components(df))
    assert got == {5: 5, 1: 1, 2: 1, 3: 1}
    got_d = _labels(D.connected_components(df, local_max_edges=0))
    assert got_d == got


# ---- trained IVF codebook ---------------------------------------------------


def test_trained_ivf_codebook_beats_seed_recall(spark, sf_oracle_dir):
    """2 Lloyd iterations move centroids onto the label clusters the
    generator builds into `embeddings`, so the same nprobe recalls more
    of the brute-force top-k than the raw first-k seed codebook."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import similarity as SIM

    emb = Catalog(spark, sf_oracle_dir).embeddings
    truth = {
        (r.query_id, r.neighbor_id)
        for r in SIM.knn_join(emb, query_pred=F.lit(True), k=5).collect()
    }

    def recall(iters: int) -> float:
        got = SIM.ivf_knn_join(
            emb, k=5, n_centroids=16, nprobe=2, train_iters=iters
        )
        hits = {(r.query_id, r.neighbor_id) for r in got.collect()}
        return len(hits & truth) / len(truth)

    r_seed, r_trained = recall(0), recall(2)
    assert r_trained >= r_seed, (r_seed, r_trained)


def _random_edits(rng, s: str, n: int) -> str:
    for _ in range(n):
        op = rng.choice("sid")
        i = rng.randrange(max(len(s), 1))
        ch = rng.choice("0123456789")
        if op == "s" and s:
            s = s[:i] + ch + s[i + 1 :]
        elif op == "i":
            s = s[:i] + ch + s[i:]
        elif op == "d" and s:
            s = s[:i] + s[i + 1 :]
    return s


def test_segmented_edit_pairs_equal_brute_pairs(spark):
    """PassJoin segment blocking is lossless: same pair set as the
    unblocked within-block quadratic join, on strings with random
    substitutions, insertions AND deletions (shifts exercise the +-k
    position windows), with and without a shared constant prefix."""
    rng = random.Random(7)
    rows = []
    rid = 0
    for prefix in ("", "Customer#"):
        for base_n in range(25):
            base = prefix + "".join(rng.choice("0123456789") for _ in range(9))
            for _ in range(rng.randrange(1, 4)):
                rows.append((rid, _random_edits(rng, base, rng.randrange(0, 3))))
                rid += 1
    df = spark.createDataFrame(rows, "cid long, name string").withColumn(
        "blk", F.lit(1)
    )
    brute = D.edit_distance_pairs(df, "cid", "name", ["blk"], max_dist=2)
    b = {(r.id1, r.id2, r.dist) for r in brute.collect()}
    for nseg, m in [(None, 1), (4, 2), (5, 3)]:
        seg = D.edit_distance_pairs_segmented(
            df, "cid", "name", ["blk"], max_dist=2, n_segments=nseg, min_matches=m
        )
        s = {(r.id1, r.id2, r.dist) for r in seg.collect()}
        assert s == b, (nseg, m, sorted(b - s)[:5], sorted(s - b)[:5])


def test_segmented_candidates_prune_vs_quadratic(spark, sf_scale_dir):
    """On the sf0.1 customer table the (4 segments, 2 matches) block
    cuts candidates ~5x below the (nation, mktsegment)-block quadratic
    — and >=5x counting only pairs the verifier then rejects, which is
    the work the second blocking key exists to remove."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    cust = Catalog(spark, sf_scale_dir).customer.select(
        "c_nationkey", "c_mktsegment", "c_custkey", "c_name"
    )
    quad = (
        cust.groupBy("c_nationkey", "c_mktsegment")
        .count()
        .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2))
        .first()[0]
    )
    n_cand = D.segment_candidates(
        cust, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"],
        max_dist=2, n_segments=4, min_matches=2,
    ).count()
    n_true = D.edit_distance_pairs_segmented(
        cust, "c_custkey", "c_name", ["c_nationkey", "c_mktsegment"],
        max_dist=2, n_segments=4, min_matches=2,
    ).count()
    assert n_cand * 4.5 <= quad, (n_cand, quad)
    assert (n_cand - n_true) * 5 <= (quad - n_true), (n_cand, n_true, quad)


# ---- mergeable quantile digest ----------------------------------------------


def test_quantile_digest_rollup_bound_and_merge(spark, sf_oracle_dir):
    """Digest estimates stay within the deterministic one-bin value
    bound of the exact quantiles, and the __total__ row (merged from
    per-group digests, no raw re-scan) equals a digest built over the
    ungrouped data."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import sketches as SK

    ev = Catalog(spark, sf_oracle_dir).events
    est = SK.quantile_digest_rollup(
        ev, "event_type", "value", quantiles=[0.5, 0.95], n_bins=512
    )
    row = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx")).first()
    binw = (float(row["mx"]) - float(row["mn"])) / 512

    exact = {
        r["g"]: (r["p50"], r["p95"])
        for r in ev.groupBy(F.col("event_type").alias("g"))
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
        )
        .collect()
    }
    exact["__total__"] = tuple(
        ev.agg(
            F.expr("percentile(value, 0.5)"), F.expr("percentile(value, 0.95)")
        ).first()
    )
    got = {r["g"]: r for r in est.collect()}
    assert set(got) == set(exact)
    for g, (p50, p95) in exact.items():
        assert abs(got[g]["q_50"] - p50) <= 2 * binw, (g, got[g]["q_50"], p50)
        assert abs(got[g]["q_95"] - p95) <= 2 * binw, (g, got[g]["q_95"], p95)

    # merged __total__ digest == digest of the ungrouped data
    single = SK.quantile_digest_rollup(
        ev.withColumn("one", F.lit("x")), "one", "value",
        quantiles=[0.5, 0.95], n_bins=512,
    )
    srow = single.filter(F.col("g") == "x").first()
    trow = got["__total__"]
    assert srow["q_50"] == trow["q_50"] and srow["q_95"] == trow["q_95"]


# ---- Count-Min fallback estimator -------------------------------------------


def test_cms_dataframe_fallback_respects_sketch_contract(spark, sf_oracle_dir):
    """The portable DataFrame CMS never under-counts and stays within
    eps*N of the exact counts for the heavy hitters — the same
    certificate the JVM sketch path asserts."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import sketches as SK

    ev = Catalog(spark, sf_oracle_dir).events.select("user_id")
    n_total = ev.count()
    exact = {
        r["user_id"]: r["cnt"]
        for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "user_id").limit(10).collect()
    }
    est = SK.cms_estimates_df(
        ev, "user_id", list(exact), eps=0.001, confidence=0.99, seed=42
    )
    slack = int(0.001 * n_total) + 1
    for uid, cnt in exact.items():
        assert cnt <= est[uid] <= cnt + slack, (uid, cnt, est[uid])
    # and a never-seen item estimates (close to) zero, never negative
    ghost = SK.cms_estimates_df(ev, "user_id", [10**12], eps=0.001,
                                confidence=0.99, seed=42)
    assert 0 <= ghost[10**12] <= slack


def test_cms_estimates_uses_fallback_when_jvm_unreachable(spark, sf_oracle_dir):
    """cms_estimates must survive the private `_jvm` surface breaking:
    garbage sketch bytes force the JVM reader to throw, and the
    fallback (DataFrame CMS) must still produce contract-valid
    estimates."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import sketches as SK

    ev = Catalog(spark, sf_oracle_dir).events.select("user_id")
    top = [r["user_id"] for r in ev.groupBy("user_id").count()
           .orderBy(F.col("count").desc(), "user_id").limit(3).collect()]
    est = SK.cms_estimates(
        spark, b"not-a-sketch", top, fallback=(ev, "user_id"),
        eps=0.001, confidence=0.99, seed=42,
    )
    exact = {r["user_id"]: r["count"] for r in ev.groupBy("user_id").count()
             .filter(F.col("user_id").isin(top)).collect()}
    for uid in top:
        assert est[uid] >= exact[uid]


def test_train_ivf_codebook_zero_iters_is_seed(spark, sf_oracle_dir):
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
    from climate_anomaly_bigdata_pipeline_spark.operators import similarity as SIM

    emb = Catalog(spark, sf_oracle_dir).embeddings
    seeds = SIM.train_ivf_codebook(emb, n_centroids=4, n_iters=0)
    assert [cid for cid, _ in seeds] == sorted(cid for cid, _ in seeds)
    trained = SIM.train_ivf_codebook(emb, n_centroids=4, n_iters=1)
    # ids stable across iterations; vectors move
    assert [cid for cid, _ in trained] == [cid for cid, _ in seeds]
    assert any(a != b for (_, a), (_, b) in zip(seeds, trained))
