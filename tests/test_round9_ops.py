"""Round-9 operator tests: the Adamic-Adar degree cap and its
capped_wedges_dropped accounting."""

from __future__ import annotations

import math

import pytest

from climate_anomaly_bigdata_pipeline_spark.operators import graph as G


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "u long, v long")


# A hub star: node 100 adjacent to 1..6, plus one independent wedge
# 1-2 via center 50 so capped runs still yield output.
HUB = [(i, 100) for i in range(1, 7)] + [(1, 50), (2, 50)]


def test_adamic_adar_uncapped_scores(spark):
    out = G.adamic_adar(_edges(spark, HUB)).collect()
    # hub (deg 6) and 50 (deg 2) are wedge centers. Pair (1,2) shares
    # both: score = 1/ln(6) + 1/ln(2); other hub pairs share only the
    # hub: 1/ln(6). Existing edges (i,100),(1,50),(2,50) are excluded.
    by_pair = {(r["u"], r["v"]): r for r in out}
    assert set(by_pair) == {
        (a, b) for a in range(1, 7) for b in range(1, 7) if a < b
    } | {(50, 100)}
    s12 = by_pair[(1, 2)]
    assert s12["common_neighbors"] == 2
    assert s12["aa_score"] == pytest.approx(
        round(1 / math.log(6) + 1 / math.log(2), 6)
    )
    s34 = by_pair[(3, 4)]
    assert s34["common_neighbors"] == 1
    assert s34["aa_score"] == pytest.approx(round(1 / math.log(6), 6))
    # 50 and 100 share neighbors 1 and 2 (deg 3 each: hub + 50 + ...)
    # — actually deg(1) = deg(2) = 2 (hub + 50).
    s = by_pair[(50, 100)]
    assert s["common_neighbors"] == 2


def test_adamic_adar_cap_observe_drops_hub_wedges(spark):
    out = G.adamic_adar(_edges(spark, HUB), max_neighbor_degree=3)
    rows = out.collect()
    # hub (deg 6) is no longer a wedge center: only center 50 remains,
    # so the sole candidate pair is (1, 2) via 50... plus (50, 100)
    # via shared neighbors 1 and 2 (deg 2 ≤ cap).
    by_pair = {(r["u"], r["v"]): r for r in rows}
    assert set(by_pair) == {(1, 2), (50, 100)}
    assert by_pair[(1, 2)]["common_neighbors"] == 1
    assert by_pair[(1, 2)]["aa_score"] == pytest.approx(
        round(1 / math.log(2), 6)
    )
    # the observation counts the wedges the hub would have generated:
    # C(6, 2) = 15
    got = out.overcap_observation.get
    assert got["capped_wedges_dropped"] == 15


def test_adamic_adar_cap_never_engages_on_copurchase(spark, sf_oracle_dir):
    """The registry query's cap=64 is assert-grade at tested scales
    (measured max co-purchase degree: 13 at sf0.01)."""
    from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog

    li = Catalog(spark, sf_oracle_dir).lineitem
    edges = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).drop("w")
    out = G.adamic_adar(edges, max_neighbor_degree=64)
    out.write.format("noop").mode("overwrite").save()
    assert out.overcap_observation.get["capped_wedges_dropped"] == 0


def test_global_lead_matches_window(spark):
    """global_lead must equal lead() OVER (ORDER BY k) for every row,
    including partition-boundary rows and the global last row (NULL),
    across several partition counts."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        global_lead,
    )

    df = spark.range(0, 97).select(
        (F.col("id") * 37 % 1000).alias("k"),
        (F.col("id") * 11 % 100).alias("v"),
    ).distinct()
    expected = {
        (r["k"], r["v"]): r["lead_ref"]
        for r in df.withColumn(
            "lead_ref", F.lead("v").over(Window.orderBy("k", "v"))
        ).collect()
    }
    for n_parts in (1, 3, 8):
        got = {
            (r["k"], r["v"]): r["nxt"]
            for r in global_lead(
                df, ["k", "v"], "v", out_col="nxt", n_parts=n_parts
            ).collect()
        }
        assert got == expected, f"n_parts={n_parts}"


def test_running_min_matches_window(spark):
    """running_min must equal min() OVER (ORDER BY k ROWS UNBOUNDED
    PRECEDING) for every row across several partition counts."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_min,
    )

    df = spark.range(0, 83).select(
        (F.col("id") * 53 % 997).alias("k"),
        ((F.col("id") * 29 % 41) - 20).alias("v"),
    ).distinct()
    w = Window.orderBy("k", "v").rowsBetween(Window.unboundedPreceding, 0)
    expected = {
        (r["k"], r["v"]): r["ref"]
        for r in df.withColumn("ref", F.min("v").over(w)).collect()
    }
    for n_parts in (1, 4, 9):
        got = {
            (r["k"], r["v"]): r["rm"]
            for r in running_min(
                df, ["k", "v"], "v", out_col="rm", n_parts=n_parts
            ).collect()
        }
        assert got == expected, f"n_parts={n_parts}"
