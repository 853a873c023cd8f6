"""The five distributed ordered scans in ``operators/relational.py`` on
the smallest inputs (empty and one row, with more range partitions than
rows) and on NULL runs that cross range partitions. Each must equal its
single-partition ``Window.orderBy`` form — in particular, no carry-in at
all must still plan and run."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators import relational as R


def _upto(end):
    return Window.orderBy("k").rowsBetween(Window.unboundedPreceding, end)


# operator name -> (distributed scan writing ``out``, reference window)
_SCANS = {
    "stable_global_index": (
        lambda df: R.stable_global_index(df, ["k"], out_col="out", n_parts=4),
        lambda: F.row_number().over(Window.orderBy("k")) - 1,
    ),
    "running_totals": (
        lambda df: R.running_totals(df, ["k"], [("v", "out")], n_parts=4),
        lambda: F.sum("v").over(_upto(Window.currentRow)),
    ),
    "global_lead": (
        lambda df: R.global_lead(df, ["k"], "v", out_col="out", n_parts=4),
        lambda: F.lead("v").over(Window.orderBy("k")),
    ),
    "running_min": (
        lambda df: R.running_min(df, ["k"], "v", out_col="out", n_parts=4),
        lambda: F.min("v").over(_upto(Window.currentRow)),
    ),
    "running_max_strict": (
        lambda df: R.running_max_strict(df, ["k"], "v", out_col="out", n_parts=4),
        lambda: F.max("v").over(_upto(-1)),
    ),
}


# input name -> (k, v) rows; the NULL runs put a range partition's
# first rows before its first non-NULL value
_INPUTS = {
    "0": [],
    "1": [(0, 10)],
    "trailing_nulls": [(k, k % 7 if k < 50 else None) for k in range(100)],
    "leading_nulls": [(k, None if k < 50 else k % 7) for k in range(100)],
}


@pytest.mark.parametrize("rows", sorted(_INPUTS))
@pytest.mark.parametrize("op", sorted(_SCANS))
def test_ordered_scan_matches_window_on_tiny_input(spark, op, rows):
    df = spark.createDataFrame(_INPUTS[rows], "k long, v long")
    scan, ref = _SCANS[op]
    got = scan(df).select("k", "out").orderBy("k").collect()
    want = df.select("k", ref().alias("out")).orderBy("k").collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]


def test_running_min_skips_all_null_partitions(spark):
    """A range partition whose values are all NULL has a NULL minimum;
    the driver-side fold must skip it, as ``min`` over the window does."""
    rows = [(i, None if i >= 50 else i % 7 + 3) for i in range(100)]
    df = spark.createDataFrame(rows, "k long, v long")
    got = R.running_min(df, ["k"], "v", out_col="out", n_parts=4)
    want = df.select("k", F.min("v").over(_upto(Window.currentRow)).alias("out"))
    assert sorted(got.select("k", "out").collect()) == sorted(want.collect())
