"""Round-7 additions: exact-substring duplication profiling (the
distributed Lee-et-al. dedup mode), the multi-column distributed prefix
sum, the two-sample Kolmogorov-Smirnov test, and the Zipf's-law fit.

Each operator is checked against a closed-form plain-Python reference
on data small enough to enumerate — the oracle sweep covers the
DuckDB-parity side at sf0.01."""

from __future__ import annotations

import contextlib
import io
import math

from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import dedup as DD
from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---- substring windows / duplication stats -----------------------------------


def _brute_windows(text: str, window: int, stride: int) -> list[str]:
    if len(text) < window:
        return []
    return [text[p : p + window] for p in range(0, len(text) - window + 1, stride)]


CORPUS = {
    # "x" * 60: every window within the doc is identical -> all dup.
    1: "x" * 60,
    # two docs sharing an exact 45-char run at aligned positions
    2: "the quick brown fox jumps over the lazy dog padding tail",
    3: "the quick brown fox jumps over the lazy dog ENTIRELY other end",
    # unique content, long enough for windows
    4: "abcdefghijklmnopqrstuvwxyz0123456789ABCDEFGHIJKLMNOP",
    # too short for any window
    5: "tiny",
}


def test_substring_windows_match_brute(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in CORPUS.items()], "doc_id long, text string"
    )
    got = {
        (r["doc_id"], r["pos"], r["win"])
        for r in DD.substring_windows(docs, window=40, stride=10).collect()
    }
    want = {
        (i, p * 10, w)
        for i, t in CORPUS.items()
        for p, w in enumerate(_brute_windows(t, 40, 10))
    }
    assert got == want
    assert not any(i == 5 for i, _, _ in got)  # short doc excluded


def test_substring_dup_stats_match_brute(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in CORPUS.items()], "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["dup_frac"])
        for r in DD.substring_dup_stats(docs, window=40, stride=10).collect()
    }
    # brute force: global window occurrence counts, then per-doc stats
    from collections import Counter

    occ: Counter = Counter()
    per_doc: dict[int, list[str]] = {}
    for i, t in CORPUS.items():
        ws = _brute_windows(t, 40, 10)
        if ws:
            per_doc[i] = ws
            occ.update(ws)
    want = {
        i: (
            len(ws),
            sum(1 for w in ws if occ[w] >= 2),
            sum(1 for w in ws if occ[w] >= 2) / len(ws),
        )
        for i, ws in per_doc.items()
    }
    assert got == want
    # doc 1's repeated-character windows are all duplicated WITHIN the doc
    assert got[1][2] == 1.0
    # docs 2/3 share their aligned 40-char prefix window, nothing else is
    assert got[4][1] == 0


def test_top_duplicated_windows(spark):
    docs = spark.createDataFrame(
        [(i, t) for i, t in CORPUS.items()], "doc_id long, text string"
    )
    rows = DD.top_duplicated_windows(docs, window=40, stride=10, top_k=5).collect()
    assert rows, "the repeated-character doc guarantees duplicated windows"
    # ordered by n_occ desc then window text
    occs = [r["n_occ"] for r in rows]
    assert occs == sorted(occs, reverse=True)
    assert rows[0]["win"] == "x" * 40 and rows[0]["n_docs"] == 1
    assert all(r["n_occ"] >= 2 for r in rows)


def test_substring_query_plan_is_linear(spark, sf_dir):
    """The registered query must not plan a cartesian/nested-loop join:
    window counting is hash-keyed end to end."""
    plan = plan_of(QUERIES["exact_substring_dup_stats"](spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


# ---- multi-column distributed prefix sum --------------------------------------


def test_running_totals_multi_column(spark):
    import random

    rng = random.Random(7)
    rows = [(rng.randrange(10**6), rng.randrange(100), rng.randrange(100))
            for _ in range(2000)]
    df = spark.createDataFrame(rows, "k long, a long, b long").repartition(13)
    got = (
        R.running_totals(df, ["k", "a", "b"], [("a", "a_cum"), ("b", "b_cum")])
        .orderBy("k", "a", "b")
        .collect()
    )
    want_a = want_b = 0
    for r, (k, a, b) in zip(got, sorted(rows)):
        assert (r["k"], r["a"], r["b"]) == (k, a, b)
        want_a += a
        want_b += b
        assert r["a_cum"] == want_a and r["b_cum"] == want_b


def test_running_totals_no_single_partition_sort(spark):
    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    plan = plan_of(R.running_totals(df, ["k"], [("v", "v_cum")]))
    # the local window runs per range-partition, never over SinglePartition
    assert "SinglePartition" not in plan


# ---- Kolmogorov-Smirnov --------------------------------------------------------


def test_ks_statistic_matches_brute(spark, sf_dir):
    ev = Catalog(spark, sf_dir).events
    vals = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_type", "value"
    ).collect()
    a = sorted(r["value"] for r in vals if r["event_type"] == "purchase")
    b = sorted(r["value"] for r in vals if r["event_type"] == "click")
    import bisect

    points = sorted(set(a) | set(b))
    d_want = max(
        abs(
            bisect.bisect_right(a, v) / len(a)
            - bisect.bisect_right(b, v) / len(b)
        )
        for v in points
    )
    row = QUERIES["ks_test_purchase_click"](spark, sf_dir).collect()[0]
    assert row["n_purchase"] == len(a) and row["n_click"] == len(b)
    assert math.isclose(row["ks_stat"], d_want, rel_tol=1e-12)
    m = len(a) * len(b) / (len(a) + len(b))
    assert math.isclose(
        row["p_one_term"], 2.0 * math.exp(-2.0 * m * d_want * d_want), rel_tol=1e-12
    )
    assert 0.0 <= row["ks_stat"] <= 1.0 and 0.0 < row["p_one_term"] <= 2.0


def test_ks_identical_samples_is_zero(spark):
    rows = [("purchase", float(i % 13)) for i in range(200)] + [
        ("click", float(i % 13)) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "event_type string, value double")
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    g = df.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("a_cnt"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("b_cnt"),
    )
    c = running_totals(g, ["value"], [("a_cnt", "a_cum"), ("b_cnt", "b_cum")])
    d = c.agg(
        F.max(
            F.abs(F.col("a_cum") / F.lit(200.0) - F.col("b_cum") / F.lit(200.0))
        ).alias("d")
    ).collect()[0]["d"]
    assert d == 0.0


# ---- Zipf fit ------------------------------------------------------------------


def test_zipf_fit_matches_numpy(spark, sf_dir):
    import numpy as np

    docs = Catalog(spark, sf_dir).documents.select("text").collect()
    from collections import Counter

    cnt: Counter = Counter()
    for r in docs:
        cnt.update(r["text"].strip().lower().split())
    freqs = sorted(cnt.values(), reverse=True)
    y = np.log(np.array(freqs, dtype=float))
    x = np.log(np.arange(1, len(freqs) + 1, dtype=float))
    slope, intercept = np.polyfit(x, y, 1)
    row = QUERIES["zipf_fit_terms"](spark, sf_dir).collect()[0]
    assert row["n_terms"] == len(freqs)
    assert math.isclose(row["slope"], slope, rel_tol=0, abs_tol=5e-6)
    assert math.isclose(row["intercept"], intercept, rel_tol=0, abs_tol=5e-6)


# ---- perceptual image hashing ---------------------------------------------------


def _phash_local(arr, kind="ahash"):
    import numpy as np

    h, w = arr.shape
    cells = arr.astype(float).reshape(8, h // 8, 8, w // 8).mean(axis=(1, 3))
    bits = (
        (cells > cells.mean()).ravel()
        if kind == "ahash"
        else (cells[:, 1:] > cells[:, :-1]).ravel()
    )
    v = 0
    for b in bits:
        v = (v << 1) | int(b)
    return format(v, "016x")


def test_perceptual_hash_invariances(spark):
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators import multimodal as MM

    rng = np.random.default_rng(7)
    base = rng.integers(20, 120, size=(24, 32), dtype=np.int64)
    variants = [
        (0, base),                    # original
        (1, base + 50),               # brightness shift (no saturation)
        (2, base * 2),                # contrast scale (max 240 < 256)
        (3, 255 - base),              # inverted: must NOT collide
    ]
    rows = [(i, MM.encode_png(a.astype(np.uint8))) for i, a in variants]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")

    got_a = {r["doc_id"]: r["phash"]
             for r in MM.perceptual_hash_images(df, kind="ahash").collect()}
    # engine matches the closed-form local hash
    for i, a in variants:
        assert got_a[i] == _phash_local(a, "ahash")
    # aHash: brightness-invariant; inversion flips it
    assert got_a[0] == got_a[1]
    assert got_a[0] != got_a[3]

    got_d = {r["doc_id"]: r["phash"]
             for r in MM.perceptual_hash_images(df, kind="dhash").collect()}
    for i, a in variants:
        assert got_d[i] == _phash_local(a, "dhash")
    # dHash: brightness AND contrast invariant
    assert got_d[0] == got_d[1] == got_d[2]
    assert got_d[0] != got_d[3]


def test_perceptual_hash_rejects_bad_dims(spark):
    import numpy as np
    import pytest

    from climate_anomaly_bigdata_pipeline_spark.operators import multimodal as MM

    df = spark.createDataFrame(
        [(1, MM.encode_png(np.zeros((10, 32), dtype=np.uint8)))],
        "doc_id long, payload binary",
    )
    with pytest.raises(Exception, match="divisible by 8"):
        MM.perceptual_hash_images(df).collect()


# ---- Holt linear-trend forecast ---------------------------------------------------


def test_holt_forecast_matches_python(spark, sf_dir):
    """The Catalyst fold must reproduce the sequential recursion
    bit-for-bit (same parenthesization, same alpha=beta=1/2)."""
    from climate_anomaly_bigdata_pipeline_spark import functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = (
        li.groupBy(F.date_trunc("day", "l_shipdate").alias("d"))
        .agg(F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("y"))
        .orderBy("d")
        .collect()
    )
    ys = [r["y"] for r in daily]
    l, b = ys[0], ys[1] - ys[0]
    for y in ys[1:]:
        nl = 0.5 * y + 0.5 * (l + b)
        nb = 0.5 * ((0.5 * y + 0.5 * (l + b)) - l) + 0.5 * b
        l, b = nl, nb
    rows = (
        QUERIES["holt_forecast_daily_revenue"](spark, sf_dir)
        .orderBy("horizon")
        .collect()
    )
    assert [r["horizon"] for r in rows] == list(range(1, 8))
    for r in rows:
        assert r["level_end"] == round(l, 4)
        assert r["trend_end"] == round(b, 4)
        assert r["forecast"] == round(l + r["horizon"] * b, 4)


# ---- distributed prefix product / Kaplan-Meier ------------------------------------


def test_km_curve_properties(spark, sf_dir):
    rows = (
        QUERIES["km_survival_session_duration"](spark, sf_dir)
        .orderBy("duration_minutes")
        .collect()
    )
    assert rows, "the events corpus always has completed sessions"
    # survival is a (0,1] step function, non-increasing in duration
    survs = [r["survival"] for r in rows]
    assert all(0.0 <= s <= 1.0 for s in survs)
    assert all(a >= b for a, b in zip(survs, survs[1:]))
    # at-risk counts strictly decrease over event times
    risks = [r["n_at_risk"] for r in rows]
    assert all(a > b for a, b in zip(risks, risks[1:]))
    # every output row is an event time
    assert all(r["n_events"] > 0 for r in rows)
    # KM identity at the first event time: S = 1 - d/n, now EXACT —
    # all earlier (censored-only) factors are exactly 1.0 and the fold
    # multiplies sequentially, so no rounding is involved anymore.
    r0 = rows[0]
    assert r0["survival"] == 1.0 - r0["n_events"] / r0["n_at_risk"]


# ---- spectral audio fingerprint -----------------------------------------------------


def test_audio_fingerprint_invariances(spark):
    import numpy as np

    from climate_anomaly_bigdata_pipeline_spark.operators import multimodal as MM

    t = np.arange(256, dtype=float)

    def tone(k, gain, dc=0.0):
        return np.round(
            32767.0 * np.clip(gain * np.sin(2 * np.pi * k * t / 256.0) + dc, -1, 1)
        ).astype(np.int16)

    rows = [
        (0, MM.encode_wav(np.concatenate([tone(5, 0.3), tone(21, 0.3)]))),
        (1, MM.encode_wav(np.concatenate([tone(5, 0.05), tone(21, 0.9)]))),  # gains differ
        (2, MM.encode_wav(np.concatenate([tone(5, 0.3, dc=0.1), tone(21, 0.3, dc=0.1)]))),  # DC offset
        (3, MM.encode_wav(np.concatenate([tone(6, 0.3), tone(21, 0.3)]))),  # different tone
    ]
    got = {r["doc_id"]: r["afp"]
           for r in MM.audio_fingerprint(spark.createDataFrame(
               rows, "doc_id long, payload binary"), frame=256).collect()}
    assert got[0] == "5-21"
    # loudness- and DC-invariant
    assert got[0] == got[1] == got[2]
    # frequency change breaks the cluster
    assert got[3] == "6-21" and got[3] != got[0]


# ---- Lorenz curve -------------------------------------------------------------------


def test_lorenz_curve_properties(spark, sf_dir):
    rows = (
        QUERIES["lorenz_curve_order_value"](spark, sf_dir)
        .orderBy("decile")
        .collect()
    )
    assert [r["decile"] for r in rows] == list(range(1, 11))
    shares = [r["cum_share"] for r in rows]
    # cumulative, ends at exactly 1 (decimal-exact total / total)
    assert all(a < b for a, b in zip(shares, shares[1:]))
    assert shares[-1] == 1.0
    # Lorenz curve lies below the diagonal (ascending-sorted values)
    assert all(s <= (i + 1) / 10 + 1e-12 for i, s in enumerate(shares))
    # convexity: increments non-decreasing
    incs = [b - a for a, b in zip([0.0] + shares, shares)]
    assert all(b >= a - 1e-12 for a, b in zip(incs, incs[1:]))
    # decile sizes differ by at most 1
    sizes = [r["n_orders"] for r in rows]
    assert max(sizes) - min(sizes) <= 1


# ---- Cramér-von Mises ---------------------------------------------------------------


def test_cvm_statistic_matches_brute(spark, sf_dir):
    ev = Catalog(spark, sf_dir).events
    vals = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        "event_type", "value"
    ).collect()
    a = sorted(r["value"] for r in vals if r["event_type"] == "purchase")
    b = sorted(r["value"] for r in vals if r["event_type"] == "click")
    import bisect
    from collections import Counter

    pooled = Counter([r["value"] for r in vals])
    num = 0
    for v, w in pooled.items():
        da = bisect.bisect_right(a, v) * len(b) - bisect.bisect_right(b, v) * len(a)
        num += w * da * da
    want = num / (len(a) * len(b) * (len(a) + len(b)) ** 2)
    row = QUERIES["cvm_test_purchase_click"](spark, sf_dir).collect()[0]
    assert row["n_purchase"] == len(a) and row["n_click"] == len(b)
    assert row["cvm_stat"] == want  # exact integer numerator -> bit-equal
    assert row["cvm_stat"] >= 0.0


def test_cvm_identical_samples_is_zero(spark):
    import duckdb

    # identical arm distributions -> F_a == F_b everywhere -> T = 0
    con = duckdb.connect()
    con.execute("""
        CREATE VIEW events AS
        SELECT CASE WHEN i % 2 = 0 THEN 'purchase' ELSE 'click' END AS event_type,
               CAST(i // 2 % 13 AS DOUBLE) AS value
        FROM range(400) t(i)
    """)
    from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE

    t = con.execute(ORACLE["cvm_test_purchase_click"]).fetchall()
    assert t[0][2] == 0.0


# ---- bipartite node-id separation (zero-key regression) ----------------------------


def test_purchase_graph_union_is_duplicate_free(spark, sf_dir):
    """Keys start at 0, so supplier ids must be shifted before negation:
    a bare -suppkey maps supplier 0 onto customer 0 and (when customer
    0 buys from supplier 0) mints a self-loop the symmetrizing UNION
    ALL keeps twice. sf0.001 contains exactly that order — the sweep
    caught a 2887-vs-2888 edge mismatch before this fix."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    c = Catalog(spark, sf_dir)
    base = (
        c.orders.join(c.lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(
            F.col("o_custkey").alias("a"),
            (-(F.col("l_suppkey") + 1)).alias("b"),
        )
        .distinct()
    )
    edges = base.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        base.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    assert edges.count() == edges.distinct().count()
    # the raw data really does contain the zero-zero order that made
    # the unshifted mapping wrong
    assert (
        base.filter((F.col("a") == 0) & (F.col("b") == -1)).count() == 1
    )
