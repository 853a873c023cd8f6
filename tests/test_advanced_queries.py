"""The advanced-analytics texts (queries/advancedq.py) registered with
``sql_query``: oracle parity at the smoke scale, the plan shapes their
hints and decorrelations are there for, and small hand-written tables
that each engine runs, for the ties, thresholds and empty inputs the
fixed corpus does not contain."""

from __future__ import annotations

import datetime as dt
import inspect
import re

import pytest

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES
from climate_anomaly_bigdata_pipeline_spark.queries import advancedq
from tests.oracle_utils import run_check, run_on
from tests.test_plans import plan_of

#: Every advancedq query registered as one SQL text.
ADVANCED_SQL = re.findall(r'^sql_query\("(\w+)"', inspect.getsource(advancedq), re.M)


def _ev(event_id, ts, user_id, event_type, value=1.0):
    return (event_id, ts, user_id, event_type, value, "{}")


def _day(day):
    return dt.datetime(2024, 1, day, 12)


@pytest.mark.parametrize("name", ADVANCED_SQL)
def test_oracle_parity(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_sole_supplier_uses_anti_join(spark, sf_dir):
    text = plan_of(QUERIES["sole_supplier_orders"](spark, sf_dir))
    assert "LeftAnti" in text, text
    assert "CartesianProduct" not in text, text


def test_small_qty_broadcasts_part_dim(spark, sf_dir):
    text = plan_of(QUERIES["small_qty_brand_revenue"](spark, sf_dir))
    assert "BroadcastHashJoin" in text, text
    assert "CartesianProduct" not in text, text


@pytest.mark.parametrize("name", ["top_revenue_suppliers", "q15_top_supplier"])
def test_revenue_tie_returns_both_suppliers(spark, tmp_path, name):
    def line(orderkey, suppkey, price, shipdate):
        return (orderkey, 1, suppkey, 1, 1.0, price, 0.0, 0.0, "N", "O", shipdate)

    q1 = dt.datetime(1996, 2, 1)
    lineitem = [line(1, 1, 100.0, q1), line(2, 2, 60.0, q1), line(3, 2, 40.0, q1),
                line(4, 3, 80.0, q1), line(5, 3, 900.0, dt.datetime(1996, 4, 1))]
    supplier = [(k, f"s{k}", 0, 0.0) for k in (1, 2, 3)]
    got = run_on(spark, tmp_path, name, lineitem=lineitem, supplier=supplier)
    # Supplier 3's large line ships the day after the quarter.
    assert sorted(zip(got.s_suppkey, got.total_revenue)) == [(1, 100.0), (2, 100.0)]


def test_welch_needs_two_valued_rows_per_arm(spark, tmp_path):
    events = [_ev(i, _day(1), 1, "purchase", float(i)) for i in range(3)]
    events += [_ev(3, _day(1), 2, "click", 5.0), _ev(4, _day(1), 2, "click", None)]
    # The NULL click has no value, so the click arm has one row.
    assert run_on(spark, tmp_path, "welch_ttest_purchase_click", events=events).empty


def test_modal_event_type_breaks_count_tie_by_type(spark, tmp_path):
    kinds = [(1, "view"), (1, "view"), (1, "click"), (1, "click"), (1, "purchase"),
             (2, "view")]
    events = [_ev(i, _day(1), user, kind) for i, (user, kind) in enumerate(kinds)]
    got = run_on(spark, tmp_path, "modal_event_type_per_user", events=events)
    assert sorted(zip(got.user_id, got.modal_type, got.n_events)) == [
        (1, "click", 2), (2, "view", 1)
    ]


def test_trigrams_break_ts_tie_by_event_id(spark, tmp_path):
    # Written out of id order, all at the same ts.
    events = [_ev(3, _day(1), 1, "purchase"), _ev(1, _day(1), 1, "view"),
              _ev(2, _day(1), 1, "click")]
    got = run_on(spark, tmp_path, "top_event_trigrams", events=events)
    assert list(zip(got.trigram, got.n)) == [("view>click>purchase", 1)]


def test_mean_shift_needs_three_days_each_side(spark, tmp_path):
    # Seven days of views give one scored day; six days of clicks none.
    events = [_ev(d, _day(d), 1, "view", float(d)) for d in range(1, 8)]
    events += [_ev(10 + d, _day(d), 1, "click", float(d)) for d in range(1, 7)]
    got = run_on(spark, tmp_path, "mean_shift_scores", events=events)
    assert list(zip(got.event_type, got.day, got["shift"])) == [
        ("view", dt.datetime(2024, 1, 4), 4.0)
    ]


@pytest.mark.parametrize(
    "name",
    ["cumulative_distinct_users", "mean_shift_scores", "modal_event_type_per_user",
     "top_event_trigrams", "welch_ttest_purchase_click"],
)
def test_events_query_on_an_empty_table(spark, tmp_path, name):
    assert run_on(spark, tmp_path, name, events=[]).empty
