"""TPC-H query shapes (queries/tpchq.py): oracle parity at the smoke
scale plus plan gates asserting the scale-critical physical shapes —
broadcast dims, TakeOrdered top-k, pre-aggregation below the Q10 and
Q13 customer joins, and pushed-down scan filters for Q3/Q19. The one
lineitem scan of Q15 and Q18 is checked in ``test_sql_query.py``."""

from __future__ import annotations

import contextlib
import io
import itertools
import re

import pytest

from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES
from tests.oracle_utils import run_check

#: Every TPC-H query of the registry: Q1-Q22 without Q11.
TPCH = sorted(n for n in QUERIES if re.match(r"q\d+_", n))


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def node_names(plan: str) -> list[str]:
    """Physical-node names from a formatted plan's detail headers —
    formatted output prints every node twice (tree + ``(n) Name``
    detail), so raw substring counts double-count."""
    return [m.split()[0] for m in re.findall(r"^\(\d+\) (.+)$", plan, re.M)]


def plan_nodes(plan: str) -> list[tuple[int, str, str]]:
    """``(depth, name, details)`` for each operator of a formatted
    plan's main tree, in tree order: a node's subtree is the run of
    deeper nodes that follows it."""
    details = dict(re.findall(r"^\((\d+)\) .*?\n(.*?)(?=^\(\d+\) |\Z)", plan, re.M | re.S))
    tree = plan.split("== Physical Plan ==\n", 1)[1].split("\n\n", 1)[0]
    nodes = []
    for line in tree.splitlines():
        prefix, name, node_id = re.match(r"([ :+|-]*)(\w+).*\((\d+)\)$", line).groups()
        nodes.append((len(prefix), name, details[node_id]))
    return nodes


def subtree(nodes: list[tuple[int, str, str]], i: int) -> list[tuple[int, str, str]]:
    return list(itertools.takewhile(lambda n: n[0] > nodes[i][0], nodes[i + 1:]))


def aggregated_below_join_of(plan: str, table: str, key: str) -> bool:
    """Whether a HashAggregate grouped on ``key`` sits below the join
    nearest above ``table``'s scan."""
    nodes = plan_nodes(plan)
    join = [i for i, (_, name, _) in enumerate(nodes) if name.endswith("Join")
            and any(n == "Scan" and f"/{table}.parquet" in d for _, n, d in subtree(nodes, i))][-1]
    return any(name == "HashAggregate" and re.search(rf"^Keys \[1\]: \[{key}#", d, re.M)
               for _, name, d in subtree(nodes, join))


@pytest.mark.parametrize("name", TPCH)
def test_oracle_parity(spark, sf_dir, name):
    ok, msg = run_check(spark, name, sf_dir)
    assert ok, f"{name}: {msg}"


def test_q3_is_takeordered_with_broadcast_customer(spark, sf_dir):
    plan = plan_of(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan  # top-10 never global-sorts
    assert "BroadcastHashJoin" in plan  # filtered customer side
    # The date filters reach the parquet scans as pushed filters.
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" in plan
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate" in plan


def test_q13_preaggregates_before_join(spark, sf_dir):
    """The orders side must collapse to one row per custkey BEFORE
    joining customer — the shape that keeps the join dim-sized at
    100 TB."""
    plan = plan_of(QUERIES["q13_customer_distribution"](spark, sf_dir))
    assert aggregated_below_join_of(plan, "customer", "o_custkey"), plan


def test_q19_pushes_brand_and_quantity_to_scans(spark, sf_dir):
    plan = plan_of(QUERIES["q19_disjunctive_revenue"](spark, sf_dir))
    assert "In(p_brand" in plan
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan


def test_q7_single_fact_shuffle(spark, sf_dir):
    """All dims broadcast: the only shuffle inputs are the two fact
    tables (lineitem⋈orders) plus the final aggregation."""
    plan = plan_of(QUERIES["q7_volume_shipping"](spark, sf_dir))
    # supplier, customer, 2×nation are hint-broadcast; at smoke scale
    # lineitem⋈orders may ALSO broadcast (orders is tiny), so gate on
    # "at least the four dims" and "no shuffle-requiring dim join".
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan or plan.count("SortMergeJoin") == 1


def test_q1_single_scan_pushed_date_partial_agg(spark, sf_dir):
    """Q1 is the pure-throughput query: one pushed-filter scan, partial
    (map-side) aggregation, one tiny exchange — all codegen'd."""
    plan = plan_of(QUERIES["q1_pricing_summary"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    nodes = node_names(plan)
    assert nodes.count("Scan") == 1
    assert nodes.count("HashAggregate") == 2  # partial + final
    assert nodes.count("Exchange") == 1  # the single 6-row agg merge


def test_q4_exists_compiles_to_left_semi(spark, sf_dir):
    """The correlated EXISTS must be one semi join keyed on orderkey —
    no distinct, no inner-join row multiplication."""
    plan = plan_of(QUERIES["q4_order_priority"](spark, sf_dir))
    assert "LeftSemi" in plan
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in plan


def test_q10_aggregates_before_customer_join_and_takeordered(spark, sf_dir):
    """Revenue is grouped to custkey cardinality BEFORE the customer
    dim join (broadcast), and the top-20 is a TakeOrdered."""
    plan = plan_of(QUERIES["q10_returned_items"](spark, sf_dir))
    assert aggregated_below_join_of(plan, "customer", "o_custkey"), plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(l_returnflag), EqualTo(l_returnflag,R)" in plan


def test_q16_not_in_is_broadcast_anti_join(spark, sf_dir):
    """The flagged-supplier exclusion must be a broadcast left-anti
    join, never a NOT-IN subquery shape."""
    plan = plan_of(QUERIES["q16_supplier_part_counts"](spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q18_big_orders_broadcast_takeordered(spark, sf_dir):
    """The HAVING-subquery survivors broadcast onto orders, and the
    top-100 never global-sorts."""
    plan = plan_of(QUERIES["q18_large_volume_customers"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q2_argmin_is_single_window_no_extra_shuffle(spark, sf_dir):
    """The correlated min is one row_number window over the
    supplies-sized table — not a min-subquery re-join (which would add
    a second aggregate + join of the same table)."""
    plan = plan_of(QUERIES["q2_min_cost_supplier"](spark, sf_dir))
    assert node_names(plan).count("Window") == 1
    # supplies is aggregated exactly once (partial+final pair).
    assert "TakeOrderedAndProject" in plan
