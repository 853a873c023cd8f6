"""Queries registered with ``sql_query``: one SQL text that both engines
run. Building one leaves no view behind in the session, an unknown table
placeholder fails at registration, a warm build stays within its
committed py4j round-trip ceiling, no plan has a hard ``plan_audit``
finding, and the texts that aggregate their fact table and reuse the
result read that table once."""

from __future__ import annotations

import os
import re
import sys

import pytest

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES, sql_query

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from plan_audit import audit, plan_of  # noqa: E402

#: The queries registered by ``sql_query``: one SQL text each.
SQL_QUERIES = sorted(
    n for n, fn in QUERIES.items() if fn.__qualname__.startswith("sql_query.")
)

#: Most py4j round trips one warm build of each SQL-text query may make
#: at the smoke scale. A build costs about ten per table it binds (the
#: cache's file listing, the uuid view and its drop) plus the conf pins
#: and the ``spark.sql`` call. Lower an entry when a change saves round
#: trips; never raise one.
ROUND_TRIP_CEILINGS = {
    "grouping_sets_lineitem": 19,
    "q1_pricing_summary": 19,
    "q2_min_cost_supplier": 59,
    "q3_shipping_priority": 39,
    "q4_order_priority": 29,
    "q5_local_supplier_volume": 69,
    "q6_forecast_revenue": 19,
    "q7_volume_shipping": 59,
    "q8_market_share": 79,
    "q9_product_profit": 59,
    "q10_returned_items": 49,
    "q12_late_priority_lines": 29,
    "q13_customer_distribution": 29,
    "q14_promo_revenue": 29,
    "q15_top_supplier": 29,
    "q16_supplier_part_counts": 39,
    "q17_small_quantity_revenue": 29,
    "q18_large_volume_customers": 39,
    "q19_disjunctive_revenue": 29,
    "q20_promo_part_suppliers": 49,
    "q21_waiting_suppliers": 39,
    "q22_idle_rich_by_nation": 39,
    "anti_join_inactive_customers": 29,
    "dedup_first_event": 19,
    "except_high_balance_no_f": 29,
    "groupby_kpis": 19,
    "histogram_event_values": 19,
    "join_revenue_by_nation_year": 49,
    "left_join_order_counts": 29,
    "merge_upsert_users": 19,
    "ntile_price_deciles": 19,
    "null_profile": 29,
    "pivot_events_daily": 19,
    "rollup_lineitem": 19,
    "semi_join_big_spenders": 29,
    "topk_customers_per_nation": 19,
    "topk_orders": 19,
    "cumulative_distinct_users": 19,
    "idle_rich_customers": 29,
    "k_anonymity_audit": 29,
    "mean_shift_scores": 19,
    "modal_event_type_per_user": 19,
    "referential_integrity_audit": 59,
    "significant_parts_by_value": 19,
    "small_qty_brand_revenue": 29,
    "sole_supplier_orders": 39,
    "top_event_trigrams": 19,
    "top_revenue_suppliers": 29,
    "top_supplier_share_per_part": 19,
    "welch_ttest_purchase_click": 19,
}

#: Texts whose fact table feeds both an aggregate and a use of that
#: aggregate's result (a maximum, a total, a second arm, a HAVING
#: filter), mapped to that table: Spark plans a CTE used twice as two
#: copies, so each text is written to scan the table once.
READ_ONCE = {
    "q15_top_supplier": "lineitem",
    "q18_large_volume_customers": "lineitem",
    "significant_parts_by_value": "lineitem",
    "top_revenue_suppliers": "lineitem",
    "welch_ttest_purchase_click": "events",
}


def test_build_leaves_no_view_in_the_session(spark, sf_dir):
    before = sorted(t.name for t in spark.catalog.listTables())
    for name in SQL_QUERIES:
        QUERIES[name](spark, sf_dir)
    assert sorted(t.name for t in spark.catalog.listTables()) == before


def test_unknown_placeholder_fails_at_registration():
    with pytest.raises(KeyError):
        sql_query("unknown_placeholder_probe", "SELECT * FROM {lineitems}")
    assert "unknown_placeholder_probe" not in QUERIES


def test_warm_build_round_trips_within_ceiling(spark, sf_dir, py4j_calls):
    assert sorted(ROUND_TRIP_CEILINGS) == SQL_QUERIES
    for name in SQL_QUERIES:
        QUERIES[name](spark, sf_dir)  # fill the table cache
    round_trips = {}
    for name in SQL_QUERIES:
        py4j_calls[0] = 0
        QUERIES[name](spark, sf_dir)
        round_trips[name] = py4j_calls[0]
    over = {n: (c, ROUND_TRIP_CEILINGS[n]) for n, c in round_trips.items()
            if c > ROUND_TRIP_CEILINGS[n]}
    assert over == {}, f"round trips (measured, ceiling): {over}"


def test_no_plan_has_a_hard_audit_finding(spark, sf_dir):
    hard = {}
    for name in SQL_QUERIES:
        findings = audit(name, plan_of(QUERIES[name](spark, sf_dir)))
        if any(f.startswith("HARD") for f in findings):
            hard[name] = findings
    assert hard == {}


@pytest.mark.parametrize("name", sorted(READ_ONCE))
def test_reads_its_fact_table_once(spark, sf_dir, name):
    plan = plan_of(QUERIES[name](spark, sf_dir))
    scanned = re.findall(r"^Location: \w+ \[.*/(\w+)\.parquet\]$", plan, re.M)
    assert scanned.count(READ_ONCE[name]) == 1, plan
