"""Relational-core queries (SURVEY.md §2.2-2.4, §2.6) on the driver corpus.

Each generalizes a reference operator to the TPC-H-ish tables with a
DuckDB oracle. Aggregate columns are rounded where floating-point
accumulation order could differ between engines.

Most queries are one SQL text, registered with ``sql_query``: Spark runs
it through ``spark.sql`` over the ``Catalog`` tables and DuckDB runs it
as the oracle. A builder stays where it carries a scale technique the
text cannot express (a bounded cross join, salting, a TakeOrdered in
place of a global window) or where the text uses DuckDB-only syntax.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark import functions as FN
from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
from climate_anomaly_bigdata_pipeline_spark.queries import query, sql_query

# --- A1: hash group-by, multi-aggregate (the reference's yearly KPIs,
#     jobs/03_silver_to_gold.py:33-43, on lineitem) -------------------------

# Multi-agg KPI rollup per (returnflag, linestatus): avg/max/min/
# sample-stddev (jobs/03_silver_to_gold.py:33-38) + revenue, counts, and
# the scalar station-count analog as count distinct (A2). l_quantity is
# integer-valued, so Σx and Σx² are exact in double (< 2^53): mean/stddev
# derived from them with a fixed op order are identical across engines
# and parallelism — unlike streaming avg/stddev_samp, which accumulate in
# shuffle order. Money sums in exact decimal.
sql_query("groupby_kpis", """
WITH g AS (
    SELECT
        l_returnflag, l_linestatus,
        sum(l_quantity)                AS s1,
        sum(l_quantity * l_quantity)   AS s2,
        CAST(count(l_quantity) AS DOUBLE) AS n,
        round(max(l_quantity), 4)      AS max_qty,
        round(min(l_quantity), 4)      AS min_qty,
        CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                       * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
                                       AS revenue,
        count(*)                       AS n_rows,
        count(DISTINCT l_suppkey)      AS n_suppliers
    FROM {lineitem}
    GROUP BY l_returnflag, l_linestatus
)
SELECT
    l_returnflag, l_linestatus,
    round(s1 / n, 4) AS avg_qty,
    max_qty, min_qty,
    CASE WHEN n < 2 THEN NULL
         ELSE round(sqrt(greatest((s2 - (s1 * s1) / n) / (n - 1), 0.0)), 4)
    END AS std_qty,
    revenue, n_rows, n_suppliers
FROM g
""")


# --- J2: multi-way equi join (notebook cell 18 generalized) ----------------

# lineitem⋈orders⋈customer⋈nation revenue rollup. Join strategy for
# 100 TB: nation (25 rows) and customer (bounded dim) are broadcast, so
# the only shuffle of the fact table is the lineitem⋈orders equi join
# plus the final partial-aggregated group-by.
sql_query("join_revenue_by_nation_year", """
SELECT /*+ BROADCAST(c, n) */
    n.n_name                                   AS nation,
    year(o.o_orderdate)                        AS order_year,
    CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                   * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE) AS revenue,
    count(*)                                   AS n_items
FROM {lineitem} l
JOIN {orders} o    ON l.l_orderkey = o.o_orderkey
JOIN {customer} c  ON o.o_custkey = c.c_custkey
JOIN {nation} n    ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name, year(o.o_orderdate)
""")


# --- J3: left outer join (notebook cell 19 generalized) --------------------

# Customer left-join open orders; customers with none keep a zero row
# (count over the null-extended right side).
sql_query("left_join_order_counts", """
SELECT
    c.c_custkey,
    c.c_name,
    count(o.o_orderkey)                          AS n_open_orders,
    CAST(round(coalesce(sum(CAST(o.o_totalprice AS DECIMAL(18,6))), 0), 2) AS DOUBLE) AS open_total
FROM {customer} c
LEFT JOIN (SELECT * FROM {orders} WHERE o_orderstatus = 'O') o
       ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_name
""")


# --- Semi / anti joins (engine additions per SURVEY §2.3) ------------------

# Left-semi join: customers with at least one >450k order. The EXISTS
# plans as a left-semi join; the price filter reaches the orders scan.
sql_query("semi_join_big_spenders", """
SELECT c_custkey, c_name, c_acctbal
FROM {customer} c
WHERE EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 450000
)
""")

# Left-anti join: customers with no open ('O') orders.
sql_query("anti_join_inactive_customers", """
SELECT c_custkey, c_name
FROM {customer} c
WHERE NOT EXISTS (
    SELECT 1 FROM {orders} o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O'
)
""")


# --- J1 + O1: bounded, ordered cross join ----------------------------------

_CROSS_ORACLE = """
SELECT n.n_nationkey, n.n_name, r.r_regionkey, r.r_name
FROM (SELECT * FROM nation ORDER BY n_nationkey LIMIT 10) n
CROSS JOIN region r
"""


@query("cross_join_limited", oracle=_CROSS_ORACLE)
def cross_join_limited(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross join with a bounded small side (jobs/03_silver_to_gold.py:
    77-85). Deviation from reference: the limited side is ordered first
    so the result is deterministic (SURVEY §2.6 O1)."""
    c = Catalog(spark, sf_dir)
    return R.bounded_cross_join(
        c.nation.select("n_nationkey", "n_name"),
        c.region.select("r_regionkey", "r_name"),
        limit=10,
        order_by="n_nationkey",
    )


# --- A6: pivot / crosstab ---------------------------------------------------

# Events-per-day × event-type crosstab (notebook cell 16). The pivot
# domain is pinned to one filtered count per type, so there is no
# distinct-value pre-pass at scale, and a day with no event of a type
# counts 0.
sql_query("pivot_events_daily", """
SELECT
    CAST(ts AS DATE) AS event_date,
    count(*) FILTER (WHERE event_type = 'click')    AS click,
    count(*) FILTER (WHERE event_type = 'error')    AS error,
    count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
    count(*) FILTER (WHERE event_type = 'signup')   AS signup,
    count(*) FILTER (WHERE event_type = 'view')     AS view
FROM {events}
GROUP BY CAST(ts AS DATE)
""")


# --- A7: null profile --------------------------------------------------------

# One-pass per-column null counts (notebook cell 21) over a
# null-producing left join: one aggregate, not one job per column.
sql_query("null_profile", """
SELECT
    CAST(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS null_c_custkey,
    CAST(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS null_o_orderkey,
    CAST(sum(CASE WHEN o.o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS null_o_totalprice
FROM {customer} c
LEFT JOIN (SELECT * FROM {orders} WHERE o_orderstatus = 'O') o
       ON c.c_custkey = o.o_custkey
""")


# --- A8: histogram -----------------------------------------------------------

# 25-bin fixed-range histogram over events.value (notebook cells 6/13):
# the bucket is a pure expression, floor((x - lo) / width) clamped to
# [0, 24], so it runs inside whole-stage codegen and the histogram is
# one partial-aggregated group-by (at most 25 rows per task shuffle).
# NULL values are skipped.
sql_query("histogram_event_values", """
SELECT
    CAST(least(greatest(floor((value - 0.0) / 20.0), 0), 24) AS INT) AS bucket,
    count(*) AS n
FROM {events}
WHERE value IS NOT NULL
GROUP BY 1
""")


# --- A9: per-group exact percentiles ----------------------------------------

_PERCENTILES_ORACLE = """
SELECT
    l_returnflag,
    round(quantile_cont(l_quantity, 0.25), 4) AS p25,
    round(quantile_cont(l_quantity, 0.50), 4) AS p50,
    round(quantile_cont(l_quantity, 0.75), 4) AS p75
FROM lineitem
GROUP BY l_returnflag
"""


@query("percentiles_by_returnflag", oracle=_PERCENTILES_ORACLE)
def percentiles_by_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles per group (notebook cell 7 boxplot stats): exact
    interpolated percentile matching DuckDB quantile_cont."""
    li = Catalog(spark, sf_dir).lineitem
    return R.group_percentiles(li, ["l_returnflag"], "l_quantity")


# --- W4 + O-ops: top-k, per-group top-k --------------------------------------

# Global top-10 orders by price (notebook cell 15 top-extremes). ORDER BY
# + LIMIT plans as TakeOrderedAndProject: per-partition heaps, no full
# sort, no single-node shuffle of the whole table.
sql_query("topk_orders", """
SELECT o_orderkey, o_custkey, o_totalprice
FROM {orders}
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""")

# Top-3 customers by balance per nation: a row_number window with a
# deterministic custkey tiebreak (one shuffle by nation key).
sql_query("topk_customers_per_nation", """
SELECT c_nationkey, c_custkey, c_acctbal, rn
FROM (
    SELECT c_nationkey, c_custkey, c_acctbal,
           row_number() OVER (
               PARTITION BY c_nationkey
               ORDER BY c_acctbal DESC, c_custkey
           ) AS rn
    FROM {customer}
)
WHERE rn <= 3
""")


# --- Rollup (engine addition per SURVEY §2.4) --------------------------------

# Hierarchical totals via ROLLUP: (flag, status), (flag), ().
sql_query("rollup_lineitem", """
SELECT
    l_returnflag, l_linestatus,
    round(sum(l_quantity), 2) AS sum_qty,
    count(*)                  AS n_rows
FROM {lineitem}
GROUP BY ROLLUP (l_returnflag, l_linestatus)
""")


# --- Set ops (engine addition per SURVEY §2.6) -------------------------------

# EXCEPT (distinct) set difference: high-balance customers minus those
# with finished orders. EXCEPT is EXCEPT DISTINCT on both engines, which
# is correct regardless of duplicate rows on either side.
sql_query("except_high_balance_no_f", """
SELECT c_custkey FROM {customer} WHERE c_acctbal > 5000
EXCEPT
SELECT o_custkey AS c_custkey FROM {orders} WHERE o_orderstatus = 'F'
""")


# --- Exact dedup (north-star §2.10) ------------------------------------------

# Deterministic keep-first dedup: earliest event per (user, type),
# event_id tiebreak. The text casts ts to microseconds so both engines
# order on identical precision.
sql_query("dedup_first_event", """
SELECT event_id, user_id, event_type, value
FROM (
    SELECT event_id, user_id, event_type, value,
           row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY CAST(ts AS TIMESTAMP), event_id
           ) AS rn
    FROM {events}
)
WHERE rn = 1
""")


# --- JSON extraction (north-star text ops; events.props) ---------------------

_JSON_ORACLE = """
SELECT
    event_type,
    round(avg(CAST(json_extract_string(props, '$.k') AS INTEGER)), 4) AS avg_k,
    max(CAST(json_extract_string(props, '$.k') AS INTEGER))           AS max_k
FROM events
GROUP BY event_type
"""


@query("json_extract_props", oracle=_JSON_ORACLE)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar JSON path extraction from the props column + aggregate."""
    ev = Catalog(spark, sf_dir).events
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.max(k).alias("max_k"),
    )


# --- MERGE/upsert (SCD-1) over a keyed profile table ------------------------

# Batch MERGE INTO (SCD-1 upsert): a first-half-of-month user profile
# table upserted with second-half activity. Counts add, last-seen takes
# the newer timestamp, and each row is tagged inserted/updated/unchanged.
# One full-outer shuffle join on the key, the lakehouse MERGE execution
# shape: co-partition or bucket both sides by the key at 100 TB; with a
# sorted-bucketed base it becomes a merge join with no shuffle of the
# base at all.
sql_query("merge_upsert_users", """
WITH base AS (
    SELECT user_id, count(*) AS n_events, max(ts) AS last_seen
    FROM {events} WHERE ts < TIMESTAMP '2024-01-16'
    GROUP BY user_id
),
upd AS (
    SELECT user_id, count(*) AS n_events, max(ts) AS last_seen
    FROM {events} WHERE ts >= TIMESTAMP '2024-01-16'
    GROUP BY user_id
)
SELECT COALESCE(b.user_id, u.user_id) AS user_id,
       COALESCE(b.n_events, 0) + COALESCE(u.n_events, 0) AS n_events,
       CASE WHEN u.last_seen IS NULL THEN b.last_seen
            WHEN b.last_seen IS NULL THEN u.last_seen
            WHEN u.last_seen > b.last_seen THEN u.last_seen
            ELSE b.last_seen END AS last_seen,
       CASE WHEN b.user_id IS NULL THEN 'inserted'
            WHEN u.user_id IS NULL THEN 'unchanged'
            ELSE 'updated' END AS merge_status
FROM base b FULL OUTER JOIN upd u ON b.user_id = u.user_id
""")


# --- Deequ-style data-quality check suite -----------------------------------

_DQ_ORACLE = """
WITH m AS (
    SELECT
        CAST(count(*) AS DOUBLE) AS row_count,
        round(1.0 - CAST(sum(CASE WHEN o_totalprice IS NULL THEN 1 ELSE 0 END)
                         AS DOUBLE) / count(*), 6) AS completeness_o_totalprice,
        round(CAST(count(DISTINCT o_orderkey) AS DOUBLE) / count(*), 6)
            AS uniqueness_o_orderkey,
        round(min(o_totalprice), 6) AS min_o_totalprice,
        CAST(year(max(o_orderdate)) AS DOUBLE) AS max_order_year
    FROM orders
)
SELECT check_name, metric,
       CASE check_name
            WHEN 'row_count' THEN metric >= 1
            WHEN 'completeness_o_totalprice' THEN metric >= 1.0
            WHEN 'uniqueness_o_orderkey' THEN metric >= 1.0
            WHEN 'min_o_totalprice' THEN metric >= 0.0
            WHEN 'max_order_year' THEN metric <= 2030
       END AS passed
FROM (
    SELECT unnest(['row_count', 'completeness_o_totalprice',
                   'uniqueness_o_orderkey', 'min_o_totalprice',
                   'max_order_year']) AS check_name,
           unnest([row_count, completeness_o_totalprice,
                   uniqueness_o_orderkey, min_o_totalprice,
                   max_order_year]) AS metric
    FROM m
)
"""


@query("data_quality_orders", oracle=_DQ_ORACLE)
def data_quality_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint suite over orders (completeness, key uniqueness,
    value bounds, freshness) — all metrics in ONE partial-aggregated
    scan, unpivoted to (check_name, metric, passed) rows. The one-pass
    generalization of the reference's repeated count() actions
    (jobs/02_bronze_to_silver.py:29-32)."""
    od = Catalog(spark, sf_dir).orders
    n = F.count(F.lit(1))
    return R.quality_profile(
        od,
        metrics={
            "row_count": n.cast("double"),
            "completeness_o_totalprice": F.round(
                F.lit(1.0)
                - F.sum(F.col("o_totalprice").isNull().cast("int")).cast("double") / n,
                6,
            ),
            "uniqueness_o_orderkey": F.round(
                F.countDistinct("o_orderkey").cast("double") / n, 6
            ),
            "min_o_totalprice": F.round(F.min("o_totalprice"), 6),
            "max_order_year": F.year(F.max("o_orderdate")).cast("double"),
        },
        bounds={
            "row_count": (1.0, None),
            "completeness_o_totalprice": (1.0, None),
            "uniqueness_o_orderkey": (1.0, None),
            "min_o_totalprice": (0.0, None),
            "max_order_year": (None, 2030.0),
        },
    )


# --- ntile decile profile (per bounded group) --------------------------------

# Decile profile of order value within each priority class: ntile(10)
# with a total order (price, key), so bucket boundaries are
# deterministic. ntile needs a per-partition total sort, bounded here by
# the 5 priority classes; for an UNBOUNDED key use percentile-boundary
# bucketing (see group_percentiles) instead, since a global ntile is the
# canonical single-task trap.
sql_query("ntile_price_deciles", """
WITH t AS (
    SELECT o_orderpriority, o_totalprice,
           ntile(10) OVER (
               PARTITION BY o_orderpriority
               ORDER BY o_totalprice, o_orderkey
           ) AS decile
    FROM {orders}
)
SELECT o_orderpriority, CAST(decile AS INTEGER) AS decile,
       count(*) AS n,
       round(min(o_totalprice), 2) AS lo,
       round(max(o_totalprice), 2) AS hi,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS total
FROM t
GROUP BY o_orderpriority, decile
""")


# --- salted join (skew mitigation), checked against the plain-join oracle ----

_SALTED_ORACLE = """
SELECT n.n_name,
       count(*) AS n_items,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
           AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
GROUP BY n.n_name
"""


@query("salted_join_revenue", oracle=_SALTED_ORACLE)
def salted_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue per supplier nation through the SALTED join path: the
    fact side spreads each supplier key over 8 salt sub-keys and the
    (small) supplier×nation dim replicates across them, so one hot key
    cannot pin a stage on a single task. The oracle is the plain join —
    salting must be result-invariant."""
    cat = Catalog(spark, sf_dir)
    dim = R.equi_join(
        cat.supplier.select("s_suppkey", "s_nationkey"),
        cat.nation.select("n_nationkey", "n_name"),
        on=F.col("s_nationkey") == F.col("n_nationkey"),
        broadcast_right=True,
    ).select(F.col("s_suppkey").alias("l_suppkey"), "n_name")
    li = cat.lineitem.select("l_suppkey", FN.revenue_expr().alias("__rev"))
    joined = R.salted_join(li, dim, on="l_suppkey", salt=8)
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("__rev"), 2).cast("double").alias("revenue"),
    )


# ---- NULL semantics, pinned explicitly ----------------------------------------

# Engines disagree on DEFAULTS around NULL (Spark sorts ASC NULLS
# FIRST, DuckDB ASC NULLS LAST), agree on the pinned forms. This query
# exercises every NULL rule a pipeline relies on — aggregate skipping,
# COUNT(*) vs COUNT(col), DISTINCT's null handling, nulls as a
# group-by key, and an EXPLICIT "NULLS LAST" ordering — over a corpus
# with injected nulls (every 7th customer's balance).
_NULL_ZOO_ORACLE = """
WITH base AS (
    SELECT c_custkey,
           CASE WHEN c_custkey % 7 = 0 THEN NULL
                ELSE CAST(c_acctbal AS DECIMAL(18,6)) END AS bal
    FROM customer
),
ranked AS (
    SELECT c_custkey,
           row_number() OVER (ORDER BY bal DESC NULLS LAST, c_custkey)
               AS rk
    FROM base
)
SELECT CAST(count(*) AS BIGINT) AS n_total,
       CAST(count(bal) AS BIGINT) AS n_nonnull,
       CAST(count(DISTINCT bal) AS BIGINT) AS n_distinct_nonnull,
       CAST(sum(CASE WHEN bal IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_null,
       CAST(sum(bal) AS DOUBLE) AS sum_nonnull,
       CAST(min(bal) AS DOUBLE) AS min_nonnull,
       (SELECT c_custkey FROM ranked WHERE rk = 1) AS top_custkey
FROM base
"""


@query("null_semantics_zoo", oracle=_NULL_ZOO_ORACLE)
def null_semantics_zoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-semantics contract check over an injected-null balance
    column: COUNT(*) counts nulls, COUNT(col)/SUM/MIN/DISTINCT skip
    them, and the top-balance pick uses an EXPLICIT desc_nulls_last
    (engine defaults differ — that's the point of pinning)."""
    base = Catalog(spark, sf_dir).customer.select(
        "c_custkey",
        F.when(F.col("c_custkey") % 7 == 0, F.lit(None))
        .otherwise(F.col("c_acctbal").cast("decimal(18,6)"))
        .alias("bal"),
    )
    top = (
        base.orderBy(F.desc_nulls_last("bal"), F.asc("c_custkey"))
        .limit(1)  # TakeOrdered: per-partition heap, no global sort
        .select(F.col("c_custkey").alias("top_custkey"))
    )
    agg = base.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.count("bal").alias("n_nonnull"),
        F.countDistinct("bal").alias("n_distinct_nonnull"),
        F.sum(F.col("bal").isNull().cast("long")).alias("n_null"),
        F.sum("bal").cast("double").alias("sum_nonnull"),
        F.min("bal").cast("double").alias("min_nonnull"),
    )
    return agg.crossJoin(F.broadcast(top))
