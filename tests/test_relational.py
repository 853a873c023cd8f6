"""Unit + oracle tests for the relational core (SURVEY §2.2-2.4, §2.6).

The texts registered with ``sql_query`` are also checked on small
hand-written tables: each case writes its tables as parquet, runs the
query on both engines over those files and asserts the behaviour the
text is there for."""

from __future__ import annotations

import datetime as dt
import inspect
import re

import pytest
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
from climate_anomaly_bigdata_pipeline_spark.queries import relational as relational_queries
from tests.oracle_utils import run_check, run_on

#: Every query the relational module registers.
RELATIONAL_QUERIES = re.findall(
    r'^(?:@query|sql_query)\("(\w+)"', inspect.getsource(relational_queries), re.M
)


def _event(event_id, day, user_id, event_type, value=1.0):
    return (event_id, dt.datetime(2024, 1, day, 12), user_id, event_type, value, "{}")


def test_rename(spark):
    df = spark.createDataFrame([(1, "x")], "a int, name string")
    out = R.rename(df, {"name": "location"})
    assert out.columns == ["a", "location"]


def test_validate_required_drops_nulls(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (None, 3.0)], "k int, v double"
    )
    assert R.validate_required(df, ["k", "v"]).count() == 1


def test_rejected_counts_single_pass(spark):
    df = spark.createDataFrame(
        [(1, 1.0), (2, None), (None, None)], "k int, v double"
    )
    [row] = R.rejected_counts(df, ["k", "v"]).collect()
    assert row["total_rows"] == 3 and row["null_k"] == 1 and row["null_v"] == 2


def test_histogram_clamps_out_of_range(spark, tmp_path):
    values = [-5.0, 0.0, 19.99, 250.0, 499.99, 500.0, 900.0, None]
    events = [_event(i, 1, 1, "view", v) for i, v in enumerate(values)]
    got = run_on(spark, tmp_path, "histogram_event_values", events=events)
    # -5 clamps into bucket 0 and 500/900 into bucket 24; NULL is skipped.
    assert dict(zip(got.bucket, got.n)) == {0: 3, 12: 1, 24: 3}


def test_dedup_exact_deterministic(spark):
    df = spark.createDataFrame(
        [("a", 2, "second"), ("a", 1, "first"), ("b", 9, "only")],
        "k string, ord int, tag string",
    )
    out = {r["k"]: r["tag"] for r in R.dedup_exact(df, ["k"], [F.col("ord")]).collect()}
    assert out == {"a": "first", "b": "only"}


def test_topk_per_group(spark, tmp_path):
    customers = [
        (k, f"c{k}", nation, bal, "X")
        for k, nation, bal in [(5, 1, 100.0), (3, 1, 100.0), (4, 1, 100.0),
                               (9, 1, 50.0), (7, 2, 10.0), (2, 2, 10.0)]
    ]
    got = run_on(spark, tmp_path, "topk_customers_per_nation", customer=customers)
    # Tied balances rank by custkey; nation 1's fourth customer drops.
    assert sorted(zip(got.c_nationkey, got.c_custkey, got.rn)) == [
        (1, 3, 1), (1, 4, 2), (1, 5, 3), (2, 2, 1), (2, 7, 2)
    ]


def test_merge_upsert_statuses(spark, tmp_path):
    # The MERGE cutoff is 2024-01-16: user 1 only before, 3 only after.
    events = [_event(0, 2, 1, "view"), _event(1, 3, 2, "view"),
              _event(2, 20, 2, "click"), _event(3, 21, 2, "view"),
              _event(4, 22, 3, "view")]
    got = run_on(spark, tmp_path, "merge_upsert_users", events=events)
    rows = {r.user_id: r for r in got.itertuples()}
    assert rows[1].merge_status == "unchanged" and rows[1].n_events == 1
    assert rows[2].merge_status == "updated" and rows[2].n_events == 3
    assert rows[2].last_seen == dt.datetime(2024, 1, 21, 12)
    assert rows[3].merge_status == "inserted" and rows[3].n_events == 1


def test_pivot_day_without_a_type_counts_zero(spark, tmp_path):
    events = [_event(0, 1, 1, "click"), _event(1, 1, 2, "click"),
              _event(2, 1, 1, "view"), _event(3, 2, 1, "error")]
    got = run_on(spark, tmp_path, "pivot_events_daily", events=events)
    counts = got.sort_values("event_date")[["click", "error", "purchase", "signup", "view"]]
    assert counts.values.tolist() == [[2, 0, 0, 0, 1], [0, 1, 0, 0, 0]]


@pytest.mark.parametrize(
    "name",
    ["dedup_first_event", "histogram_event_values", "json_extract_props",
     "merge_upsert_users", "pivot_events_daily"],
)
def test_events_query_on_an_empty_table(spark, tmp_path, name):
    assert run_on(spark, tmp_path, name, events=[]).empty


def test_bounded_cross_join_deterministic(spark):
    left = spark.createDataFrame([(i,) for i in range(10)], "a int")
    right = spark.createDataFrame([(j,) for j in range(3)], "b int")
    out = R.bounded_cross_join(left, right, limit=2, order_by="a")
    rows = sorted((r["a"], r["b"]) for r in out.collect())
    assert rows == [(0, 0), (0, 1), (0, 2), (1, 0), (1, 1), (1, 2)]


@pytest.mark.parametrize("name", RELATIONAL_QUERIES)
def test_oracle_relational(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, msg
