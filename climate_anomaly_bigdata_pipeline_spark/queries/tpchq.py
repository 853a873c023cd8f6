"""The TPC-H query set: 21 of the 22 queries (Q11 reads only partsupp,
which the data model does not have), adapted where a column or table is
missing.

Each query is one SQL text, registered with ``sql_query``: Spark runs it
through ``spark.sql`` over the ``Catalog`` tables and DuckDB runs it as
the oracle, so the check stays one between two engines. A join the plan
should broadcast carries a ``/*+ BROADCAST(alias) */`` hint, which DuckDB
reads as a comment. Every money aggregate sums in exact DECIMAL
(order-independent, bit-identical across engines) and divides in double
once per group, the same FP operations on both engines.

Reference parity: the reference's analytics live in a notebook
(``climate_analysis.ipynb`` merges/top-k cells); these generalize the
same join+aggregate patterns to the standard benchmark shapes.
"""

from __future__ import annotations

from climate_anomaly_bigdata_pipeline_spark.queries import sql_query

# Q3 shipping priority: the top-10 highest-revenue not-yet-shipped orders
# of one market segment. Scale notes: the segment and date filters reach
# the parquet scans, the filtered customer side is broadcast, and the
# top-10 is a TakeOrdered, so no global sort materializes. Ties break on
# (o_orderdate, l_orderkey), so the result is deterministic across engines.
sql_query("q3_shipping_priority", """
SELECT /*+ BROADCAST(c) */ l.l_orderkey,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 2)
            AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM {customer} c
JOIN {orders} o   ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate  > TIMESTAMP '1998-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o.o_orderdate ASC, l.l_orderkey ASC
LIMIT 10
""")

# Q7 volume shipping: bilateral trade volume between two nations by ship
# year. Scale notes: supplier, customer and both nation aliases are
# broadcast (all bounded dims), so the fact tables shuffle once, for
# lineitem⋈orders. The nation-pair disjunction also prunes each nation
# side to the two named nations before the join.
sql_query("q7_volume_shipping", """
SELECT /*+ BROADCAST(s, c, ns, nc) */ ns.n_name AS supp_nation,
       nc.n_name AS cust_nation,
       year(l.l_shipdate) AS ship_year,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM {lineitem} l
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
JOIN {customer} c ON o.o_custkey = c.c_custkey
JOIN {nation} ns  ON s.s_nationkey = ns.n_nationkey
JOIN {nation} nc  ON c.c_nationkey = nc.n_nationkey
WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
   OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
GROUP BY ns.n_name, nc.n_name, year(l.l_shipdate)
""")

# Q8 market share: NATION_3's share of PROMO-part revenue sold into ASIA
# customers, by order year. Scale notes: the p_type and r_name filters
# prune part and region at the scan; part, supplier, customer, both
# nations and region are broadcast. The share is one pass of conditional
# aggregation, no second join or self-union.
sql_query("q8_market_share", """
WITH base AS (
    SELECT /*+ BROADCAST(p, s, c, nc, r, ns) */ year(o.o_orderdate) AS order_year,
           CAST(l.l_extendedprice AS DECIMAL(18,6))
             * (1 - CAST(l.l_discount AS DECIMAL(18,6))) AS vol,
           ns.n_name AS supp_nation
    FROM {lineitem} l
    JOIN {part} p     ON l.l_partkey = p.p_partkey
    JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
    JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
    JOIN {customer} c ON o.o_custkey = c.c_custkey
    JOIN {nation} nc  ON c.c_nationkey = nc.n_nationkey
    JOIN {region} r   ON nc.n_regionkey = r.r_regionkey
    JOIN {nation} ns  ON s.s_nationkey = ns.n_nationkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'PROMO'
)
SELECT order_year,
       CAST(round(
           CAST(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(sum(vol) AS DOUBLE), 6) AS DOUBLE) AS mkt_share,
       CAST(round(sum(vol), 2) AS DOUBLE) AS total_volume
FROM base
GROUP BY order_year
""")

# Q12 (shipmode -> returnflag): for lines shipped more than 90 days after
# the order, count high- and low-priority orders. Scale notes: one
# fact⋈fact equi join (the only shuffle); the lateness predicate is a
# post-join filter and the conditional counts are one aggregation pass.
sql_query("q12_late_priority_lines", """
SELECT l.l_returnflag,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM {lineitem} l
JOIN {orders} o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
GROUP BY l.l_returnflag
""")

# Q13 customer distribution: a histogram of customers by how many orders
# they placed, zero included through the left join. Scale notes: orders
# collapse to one row per custkey before the customer join (custkey is
# customer's key), so the join is customer-sized at any orders volume; the
# second aggregate runs over a tiny distinct-count domain.
sql_query("q13_customer_distribution", """
WITH per_cust AS (
    SELECT c.c_custkey, coalesce(o.n_orders, 0) AS c_count
    FROM {customer} c
    LEFT JOIN (SELECT o_custkey, count(o_orderkey) AS n_orders
               FROM {orders} GROUP BY o_custkey) o
           ON c.c_custkey = o.o_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
""")

# Q14, widened from one month to a monthly series: the percentage of
# revenue from PROMO parts per ship month. Scale notes: part projects two
# columns and is broadcast; the share is conditional aggregation in one
# pass (no promo/non-promo self-union).
sql_query("q14_promo_revenue", """
SELECT /*+ BROADCAST(p) */ date_trunc('month', l.l_shipdate) AS ship_month,
       CAST(round(
           100.0 * CAST(sum(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(l.l_extendedprice AS DECIMAL(18,6))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,6)))
                       ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
           / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) AS DOUBLE),
           4) AS DOUBLE) AS promo_share_pct
FROM {lineitem} l
JOIN {part} p ON l.l_partkey = p.p_partkey
GROUP BY date_trunc('month', l.l_shipdate)
""")

# Q19: revenue under a disjunction of (brand, size, quantity) conjunctive
# range predicates. Scale notes: the last two conjuncts are implied by
# the disjunction, so they cannot change the result; they are spelled out
# so both scans get a plain pushed filter (brand IN on part, the quantity
# range union on lineitem) instead of only the straddling disjunction.
# The residual disjunction runs after the broadcast join.
sql_query("q19_disjunctive_revenue", """
SELECT /*+ BROADCAST(p) */ CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 2)
            AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM {lineitem} l
JOIN {part} p ON l.l_partkey = p.p_partkey
WHERE ((p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#14' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 30))
  AND p.p_brand IN ('Brand#12', 'Brand#23', 'Brand#14')
  AND l.l_quantity BETWEEN 1 AND 30
""")

# Q1 pricing summary: eight aggregates over one filtered pass of the fact
# table, grouped on a 6-value domain. Scale notes: one parquet scan with
# the date predicate pushed to the reader, partial (map-side) aggregation
# and one 6-row exchange. Quantities are integral (summed as BIGINT). The
# 3-factor charge product uses narrow decimals (12,2)x(4,2)x(4,2) so the
# exact product fits both engines' 38-digit cap; an (18,6)^3 product would
# overflow Spark's precision rules and silently lose scale.
sql_query("q1_pricing_summary", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) AS DOUBLE)
           AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * (1 - CAST(l_discount AS DECIMAL(4,2)))
                      * (1 + CAST(l_tax AS DECIMAL(4,2)))), 2) AS DOUBLE)
           AS sum_charge,
       round(CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 4) AS avg_qty,
       round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 4) AS avg_price,
       round(CAST(sum(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS avg_disc,
       count(*) AS count_order
FROM {lineitem}
WHERE l_shipdate <= TIMESTAMP '2001-09-02'
GROUP BY l_returnflag, l_linestatus
""")

# Q6 forecast revenue change: a pure filter and global aggregate. Scale
# notes: all three predicates (date range, discount band, quantity cap)
# push to the parquet scan as min/max-prunable filters; no shuffle beyond
# the final 1-row merge. The discount literals are the same binary
# doubles on both engines, so the BETWEEN selects identical rows.
sql_query("q6_forecast_revenue", """
SELECT CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                      * CAST(l_discount AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS revenue,
       count(*) AS n_lines
FROM {lineitem}
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")

# Q5 local supplier volume: revenue from orders whose customer and line
# supplier sit in the same nation of one region, the 6-table join where
# s_nationkey = c_nationkey ties two dimension legs together. Scale
# notes: customer, supplier, nation and region are broadcast and the
# orders date filter is pushed to its scan, so the fact tables shuffle
# only for customer-orders⋈lineitem. The same-nation condition is an
# equi key of the supplier join, not a post-join filter.
sql_query("q5_local_supplier_volume", """
SELECT /*+ BROADCAST(c, s, n, r) */ n.n_name,
       CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                      * (1 - CAST(l.l_discount AS DECIMAL(18,6)))), 2)
            AS DOUBLE) AS revenue
FROM {customer} c
JOIN {orders} o   ON c.c_custkey = o.o_custkey
JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
                AND s.s_nationkey = c.c_nationkey
JOIN {nation} n   ON c.c_nationkey = n.n_nationkey
JOIN {region} r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
GROUP BY n.n_name
""")

# Q4 order-priority checking: orders per priority with at least one late
# line, the canonical correlated EXISTS. The corpus has no l_commitdate or
# l_receiptdate, so "late" is adapted to shipped more than 75 days after
# the order date. Scale notes: EXISTS compiles to a left-semi join keyed
# on orderkey with the lateness comparison as a join condition, so each
# order counts at most once without a distinct; the orders date filter is
# pushed to its scan and shrinks the probe side before the only shuffle.
sql_query("q4_order_priority", """
SELECT o.o_orderpriority, count(*) AS order_count
FROM {orders} o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate <  TIMESTAMP '1997-01-01'
  AND EXISTS (
      SELECT 1 FROM {lineitem} l
      WHERE l.l_orderkey = o.o_orderkey
        AND l.l_shipdate > o.o_orderdate + INTERVAL 75 DAY
  )
GROUP BY o.o_orderpriority
""")

# Q10 returned items: the top-20 customers by revenue lost to returned
# items in one half-year window. Scale notes: the returnflag and date
# filters push to both fact scans; revenue is summed per custkey before
# the customer join (custkey is customer's key), so customer and nation
# are broadcast onto a customer-sized aggregate; the top-20 is a
# TakeOrdered with a custkey tiebreak, not a global sort.
sql_query("q10_returned_items", """
WITH lost AS (
    SELECT o.o_custkey,
           sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) AS lost_revenue
    FROM {orders} o
    JOIN {lineitem} l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-07-01'
    GROUP BY o.o_custkey
)
SELECT /*+ BROADCAST(c, n) */ c.c_custkey, c.c_name,
       CAST(round(lost.lost_revenue, 2) AS DOUBLE) AS revenue,
       c.c_acctbal, n.n_name
FROM lost
JOIN {customer} c ON c.c_custkey = lost.o_custkey
JOIN {nation} n   ON c.c_nationkey = n.n_nationkey
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
""")

# Q18 large-volume customers: orders whose total quantity exceeds 300,
# with their customers. Scale notes: lineitem is scanned and aggregated
# once; the per-order sums that pass the HAVING are few and are broadcast
# into the first join of orders, carrying the displayed total with them
# (orderkey is orders' key), so only big orders reach the customer join
# and no line is summed a second time. Customer is broadcast too. The
# top-100 is a TakeOrdered with an orderkey tiebreak. Quantities are
# integral, so BIGINT sums are exact.
sql_query("q18_large_volume_customers", """
WITH big AS (
    SELECT l_orderkey, sum(CAST(l_quantity AS BIGINT)) AS total_qty
    FROM {lineitem}
    GROUP BY l_orderkey
    HAVING sum(CAST(l_quantity AS BIGINT)) > 300
)
SELECT /*+ BROADCAST(c, big) */ c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(big.total_qty AS BIGINT) AS total_qty
FROM {orders} o
JOIN big          ON o.o_orderkey = big.l_orderkey
JOIN {customer} c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
""")

# Q2 minimum-cost supplier: for each qualifying part, the EUROPE supplier
# with the lowest unit cost (the correlated-min subquery as a per-part
# argmin). The corpus has no partsupp table, so the supply relation and
# its cost come from observed lineitems: unit cost =
# min(l_extendedprice / l_quantity) per (part, supplier). Scale notes:
# supplies is a grouped aggregate of the fact table (its only shuffle);
# the correlated min is one row_number window over the supplies-sized
# join, not a re-join against a min subquery; the dims are filtered and
# broadcast. Ties break on s_suppkey. unit_cost ships raw (bit-identical
# on both engines): rounding it lost exactness at sf0.1, where a value on
# a .xxxx5 boundary rounds differently under Spark's BigDecimal HALF_UP
# and DuckDB's scaled-double rounding.
sql_query("q2_min_cost_supplier", """
WITH supplies AS (
    SELECT l_partkey, l_suppkey,
           min(l_extendedprice / l_quantity) AS unit_cost
    FROM {lineitem} GROUP BY l_partkey, l_suppkey
),
eur AS (
    SELECT /*+ BROADCAST(n, r) */ s.s_suppkey, s.s_name, s.s_acctbal, n.n_name
    FROM {supplier} s
    JOIN {nation} n ON s.s_nationkey = n.n_nationkey
    JOIN {region} r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'EUROPE'
),
ranked AS (
    SELECT /*+ BROADCAST(p, e) */ p.p_partkey, p.p_name, e.s_name, e.s_acctbal, e.n_name,
           sp.unit_cost,
           row_number() OVER (
               PARTITION BY p.p_partkey
               ORDER BY sp.unit_cost ASC, e.s_suppkey ASC
           ) AS rk
    FROM {part} p
    JOIN supplies sp ON p.p_partkey = sp.l_partkey
    JOIN eur e       ON sp.l_suppkey = e.s_suppkey
    WHERE p.p_type = 'LARGE' AND p.p_size <= 15
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
       unit_cost
FROM ranked WHERE rk = 1
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
""")

# Q9 product-type profit on 'red' parts by supplier nation and order
# year. No partsupp, so supply cost is adapted to the part's retail price
# per unit: profit = l_extendedprice*(1-l_discount) - p_retailprice*l_quantity.
# Scale notes: the part-name filter prunes part before its broadcast (the
# LIKE runs over the dim scan, never the fact); supplier and nation are
# broadcast; the only fact shuffle is lineitem⋈orders.
sql_query("q9_product_profit", """
SELECT /*+ BROADCAST(p, s, n) */ n.n_name AS nation, year(o.o_orderdate) AS o_year,
       CAST(round(sum(
           CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l.l_discount AS DECIMAL(18,6)))
           - CAST(p.p_retailprice AS DECIMAL(18,6))
               * CAST(l.l_quantity AS DECIMAL(18,6))
       ), 2) AS DOUBLE) AS profit
FROM {lineitem} l
JOIN {orders} o   ON l.l_orderkey = o.o_orderkey
JOIN {part} p     ON l.l_partkey = p.p_partkey
JOIN {supplier} s ON l.l_suppkey = s.s_suppkey
JOIN {nation} n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%red%'
GROUP BY n.n_name, year(o.o_orderdate)
""")

# Q16: how many distinct suppliers can supply parts of each (brand, type,
# size) bucket, excluding flagged suppliers. No partsupp, so the
# part-supplier relation is the distinct (l_partkey, l_suppkey) pairs of
# lineitem, and the complaint-supplier exclusion becomes acctbal < 0.
# Scale notes: supplies dedups the fact table on the pair key (one
# shuffle, map-side partial distinct); the NOT IN is a null-aware
# left-anti join against the tiny flagged-supplier set, which Spark
# plans as a broadcast without a hint; the part filter runs before its
# broadcast.
sql_query("q16_supplier_part_counts", """
WITH supplies AS (
    SELECT DISTINCT l_partkey, l_suppkey FROM {lineitem}
)
SELECT /*+ BROADCAST(p) */ p.p_brand, p.p_type, p.p_size,
       count(DISTINCT sp.l_suppkey) AS supplier_cnt
FROM {part} p
JOIN supplies sp ON p.p_partkey = sp.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type  <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND sp.l_suppkey NOT IN (
      SELECT s_suppkey FROM {supplier} WHERE s_acctbal < 0
  )
GROUP BY p.p_brand, p.p_type, p.p_size
""")

# Q17 (container -> brand; the part table has no container column): the
# average yearly revenue lost if orders below 20% of the part's average
# quantity were no longer taken, for one brand. Scale notes: the
# correlated avg-quantity subquery is one per-part aggregate joined back
# on partkey, never a second lineitem pass per row. The 0.2*avg cut
# multiplies through the divisor (qty*5*cnt < sum), so the comparison is
# exact DECIMAL with no division. The brand filter pushes to the part
# scan and the part side is broadcast.
sql_query("q17_small_quantity_revenue", """
WITH pq AS (
    SELECT l_partkey,
           sum(CAST(l_quantity AS DECIMAL(18,6))) AS sq,
           count(*) AS cnt
    FROM {lineitem} GROUP BY l_partkey
)
SELECT /*+ BROADCAST(p) */ CAST(round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6)))
                       AS DOUBLE) / 7.0, 2) AS DOUBLE) AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_small_lines
FROM {lineitem} l
JOIN {part} p ON p.p_partkey = l.l_partkey
JOIN pq    ON pq.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND CAST(l.l_quantity AS DECIMAL(18,6)) * 5 * pq.cnt < pq.sq
""")

# Q20 (partsupp availability -> shipped quantity): suppliers in two
# nations who shipped a significant quantity of promo parts in 1997.
# Scale notes: the promo part keys are broadcast into the lineitem join
# that feeds one per-supplier aggregate; supplier and nation are
# broadcast after it. Quantities are integer-valued, so the > 50 cut and
# the DECIMAL sums are exact.
sql_query("q20_promo_part_suppliers", """
WITH promo AS (SELECT p_partkey FROM {part} WHERE p_type = 'PROMO'),
shipped AS (
    SELECT /*+ BROADCAST(promo) */ l.l_suppkey, sum(CAST(l.l_quantity AS DECIMAL(18,6))) AS q
    FROM {lineitem} l JOIN promo ON l.l_partkey = promo.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l.l_suppkey
)
SELECT /*+ BROADCAST(s, n) */ s.s_suppkey, s.s_name, CAST(shipped.q AS DOUBLE) AS promo_qty
FROM shipped
JOIN {supplier} s ON s.s_suppkey = shipped.l_suppkey
JOIN {nation} n   ON n.n_nationkey = s.s_nationkey
WHERE n.n_name IN ('NATION_3', 'NATION_7') AND shipped.q > 50
""")

# Q21 (receipt-vs-commit lateness -> shipped more than 90 days after the
# order; lineitem has no commit or receipt date): for finalized
# multi-supplier orders, count per supplier the orders where that
# supplier was the only late one. Scale notes: the correlated EXISTS /
# NOT EXISTS pair is two order-keyed counts (suppliers per order, late
# suppliers per order) joined back on orderkey: aggregations and equi
# joins that all shuffle on the same key, no per-row subquery. Supplier
# is broadcast.
sql_query("q21_waiting_suppliers", """
WITH all_os AS (
    SELECT DISTINCT l_orderkey, l_suppkey FROM {lineitem}
),
late AS (
    SELECT DISTINCT l.l_orderkey, l.l_suppkey
    FROM {lineitem} l JOIN {orders} o ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'F'
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
),
supp_per_order AS (
    SELECT l_orderkey, count(*) AS n_supp FROM all_os GROUP BY l_orderkey
),
late_per_order AS (
    SELECT l_orderkey, count(*) AS n_late FROM late GROUP BY l_orderkey
),
cand AS (
    SELECT late.l_orderkey, late.l_suppkey
    FROM late
    JOIN supp_per_order sp ON sp.l_orderkey = late.l_orderkey
    JOIN late_per_order lp ON lp.l_orderkey = late.l_orderkey
    WHERE sp.n_supp >= 2 AND lp.n_late = 1
)
SELECT /*+ BROADCAST(s) */ s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM cand JOIN {supplier} s ON s.s_suppkey = cand.l_suppkey
GROUP BY s.s_suppkey, s.s_name
""")

# Q22 (phone country code -> nationkey set): per nation, the customers
# with above-average balance and no recent orders (none since
# 2000-01-01; every customer has some order, so "no orders for 7 years"
# becomes "none since 2000"). Scale notes: the scalar average is one
# one-row aggregate, broadcast into a nested-loop join onto the
# candidates; the above-average cut multiplies through the divisor
# (bal*n > s), so it compares exact DECIMALs. The no-orders predicate is
# a left join on custkey against the distinct recent buyers, kept where
# it found none; nation is broadcast.
sql_query("q22_idle_rich_by_nation", """
WITH sel AS (
    SELECT c_custkey, c_acctbal, c_nationkey
    FROM {customer} WHERE c_nationkey IN (1, 5, 9, 13, 17)
),
bal AS (
    SELECT sum(CAST(c_acctbal AS DECIMAL(18,6))) AS s,
           count(*) AS n
    FROM sel WHERE c_acctbal > 0.0
),
idle AS (
    SELECT sel.c_acctbal, sel.c_nationkey
    FROM sel
    LEFT JOIN (SELECT DISTINCT o_custkey FROM {orders}
               WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
           ON o.o_custkey = sel.c_custkey
    WHERE o.o_custkey IS NULL
)
SELECT /*+ BROADCAST(bal, n) */ n.n_name,
       CAST(count(*) AS BIGINT) AS numcust,
       CAST(round(sum(CAST(idle.c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
           AS totacctbal
FROM idle, bal
JOIN {nation} n ON n.n_nationkey = idle.c_nationkey
WHERE CAST(idle.c_acctbal AS DECIMAL(18,6)) * bal.n > bal.s
GROUP BY n.n_name
""")

# Q15 top supplier: the supplier(s) with the maximum revenue over 1996-Q1.
# The quarter's per-supplier revenue view keeps every supplier at the
# maximum: ties all survive, which ORDER BY ... LIMIT 1 would drop
# non-deterministically. Scale notes: the revenue view is one
# map-side-combined grouped sum over the date-pruned fact; the maximum is
# a window max over that supplier-sized view, so lineitem is scanned
# once (a scalar subquery over the same CTE would plan the view twice).
# The equality compares exact DECIMAL sums, no doubles; supplier is
# broadcast.
sql_query("q15_top_supplier", """
WITH revenue AS (
    SELECT l_suppkey AS supplier_no,
           sum(CAST(l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS total_revenue
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
),
ranked AS (
    SELECT supplier_no, total_revenue,
           max(total_revenue) OVER () AS max_revenue
    FROM revenue
)
SELECT /*+ BROADCAST(s) */ s.s_suppkey, s.s_name,
       CAST(r.total_revenue AS DOUBLE) AS total_revenue
FROM {supplier} s
JOIN ranked r ON s.s_suppkey = r.supplier_no
WHERE r.total_revenue = r.max_revenue
ORDER BY s.s_suppkey
""")
