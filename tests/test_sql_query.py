"""Queries registered with ``sql_query``: one SQL text that both engines
run. Building one leaves no view behind in the session, an unknown table
placeholder fails at registration, and a warm build stays within its
committed py4j round-trip ceiling."""

from __future__ import annotations

import pytest

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES, sql_query

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
