"""Unit + oracle tests for the z-score anomaly operators (SURVEY §2.5 W1/W2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators import anomaly as A
from tests.oracle_utils import run_check


def test_zscore_zero_std_guard(spark):
    """Constant partition ⇒ std 0 ⇒ z must be 0.0 (jobs/03_silver_to_gold.py:118-121)."""
    df = spark.createDataFrame(
        [("a", 5.0), ("a", 5.0), ("a", 5.0), ("b", 1.0), ("b", 3.0)],
        "k string, v double",
    )
    out = {r["k"]: r for r in A.zscore(df, "v", ["k"]).collect()}
    assert out["a"]["z_score"] == 0.0


def test_zscore_single_row_partition_null_std(spark):
    """Sample stddev of one row is null ⇒ guard ⇒ 0.0, not null."""
    df = spark.createDataFrame([("solo", 42.0)], "k string, v double")
    [row] = A.zscore(df, "v", ["k"]).collect()
    assert row["z_score"] == 0.0


def test_zscore_values(spark):
    df = spark.createDataFrame(
        [("b", 1.0), ("b", 3.0)],
        "k string, v double",
    )
    rows = sorted(A.zscore(df, "v", ["k"]).collect(), key=lambda r: r["v"])
    # mean 2, sample std = sqrt(2); z = ±1/sqrt(2) ≈ ±0.7071
    assert rows[0]["z_score"] == pytest.approx(-0.7071)
    assert rows[1]["z_score"] == pytest.approx(0.7071)


def test_classify_extremes(spark):
    df = spark.createDataFrame(
        [(1, 3.0), (2, -2.6), (3, 1.0)], "id int, z_score double"
    )
    rows = {r["id"]: r["event_type"] for r in A.classify_extremes(df).collect()}
    assert rows == {1: "EXTREME_HIGH", 2: "EXTREME_LOW"}


def test_zscore_exact_quotes_column_names(spark):
    """Caller column names reach SQL text backtick-quoted and labels as
    escaped literals: a value column with a space, a partition column
    that is a reserved word, a z column with a backtick, quoted labels."""
    df = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 5.0), ("b", 5.0), (None, 2.0), (None, 4.0),
         ("c", 7.0)],
        "`select` string, `my value` double",
    )
    scored = A.zscore_exact(df, "my value", ["select"], z_name="z`s")
    assert scored.columns == ["select", "my value", "z`s"]
    got = sorted(
        (r["select"] or "", r["my value"], r["z`s"]) for r in scored.collect()
    )
    assert got == [
        ("", 2.0, -0.7071), ("", 4.0, 0.7071),
        ("a", 1.0, -0.7071), ("a", 3.0, 0.7071),
        ("b", 5.0, 0.0), ("b", 5.0, 0.0),
        ("c", 7.0, 0.0),
    ]
    labelled = A.classify_extremes(
        scored, z_col="z`s", threshold=0.5, high_label="it's high",
        low_label="lo\\w",
    )
    assert sorted((r["my value"], r["event_type"]) for r in labelled.collect()) == [
        (1.0, "lo\\w"), (2.0, "lo\\w"), (3.0, "it's high"), (4.0, "it's high"),
    ]


def test_flagship_nonempty(spark, sf_dir):
    from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

    df = QUERIES["zscore_anomaly"](spark, sf_dir)
    assert df.count() > 0
    assert "z_score" in df.columns and "anomaly_class" in df.columns


@pytest.mark.parametrize("name", ["zscore_anomaly", "zscore_events", "zscore_lineitem"])
def test_oracle_smoke_sf(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, msg
