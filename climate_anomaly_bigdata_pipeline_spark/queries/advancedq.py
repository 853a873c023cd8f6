"""Round-4 advanced analytics: TPC-H-style correlated-subquery join
shapes (Q11/Q15/Q17/Q20/Q21/Q22 analogues on the synthetic star
schema), graph queries on the part co-purchase graph, cumulative
distinct users, per-user modal behavior, and a Welch two-sample t-test.

The reference's analytics stop at single-join rollups
(``jobs/03_silver_to_gold.py:26-156``); these queries add the
decorrelated-subquery and graph shapes a warehouse user reaches for
next.

The non-graph queries are one SQL text each, registered with
``sql_query``: Spark runs it through ``spark.sql`` over the ``Catalog``
tables and DuckDB runs it as the oracle; a join the plan should
broadcast carries a ``/*+ BROADCAST(alias) */`` hint. A builder stays
where it carries a technique its text cannot express — degree-ordered
triangle orientation, the capped collect-set pair explode, degree
attachment before the wedge join, the iterative operators — or where
its text uses DuckDB-only syntax (a recursive ``UNION``, ``len``,
``list_reduce``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import graph as G
from climate_anomaly_bigdata_pipeline_spark.queries import query, sql_query

# ---- triangle counting on the part co-purchase graph ------------------------

# Shared oracle prologue: the weighted co-purchase edge list — ONE
# definition interpolated into every graph-query oracle so the edge
# semantics (distinct order-part incidence, a<b canonical pairs,
# support >= 2) can never drift between oracles or away from
# G.cooccurrence_edges.
COPURCHASE_CTE = """po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM po a JOIN po b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
    SELECT u, v, CAST(count(*) AS BIGINT) AS n_common
    FROM pairs GROUP BY u, v HAVING count(*) >= 2
)"""

_TRIANGLE_ORACLE = f"""
WITH {COPURCHASE_CTE},
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
nodes AS (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
)
SELECT node AS p_partkey, CAST(count(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY node
"""


@query("triangle_parts_copurchase", oracle=_TRIANGLE_ORACLE)
def triangle_parts_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts on the co-purchase graph (parts are
    adjacent when they appear in ≥2 common orders). The Spark side
    runs the degree-ordered-orientation algorithm — O(m^1.5) wedge
    work, every step an equi-join — while the oracle brute-forces the
    a<b<c triple join; the triangle set is orientation-invariant, so
    both enumerate exactly the same triangles."""
    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).drop("w")
    return G.triangles_per_node(edges).select(
        F.col("node").alias("p_partkey"), "n_triangles"
    )


# ---- BFS hop distances on the co-purchase graph -----------------------------

_BFS_ORACLE = f"""
WITH RECURSIVE {COPURCHASE_CTE},
bidir AS (SELECT u AS s, v AS d FROM edges UNION SELECT v, u FROM edges),
src AS (SELECT min(s) AS s0 FROM bidir),
walk(node, dist) AS (
    -- the IS NOT NULL guard mirrors the Spark side's empty-edge-set
    -- return: min() over zero edges yields a NULL seed, not a walk
    SELECT s0, 0 FROM src WHERE s0 IS NOT NULL
    UNION
    SELECT b.d, w.dist + 1
    FROM walk w JOIN bidir b ON b.s = w.node
    WHERE w.dist < 6
)
SELECT node AS p_partkey, CAST(min(dist) AS INTEGER) AS dist
FROM walk GROUP BY node
"""


@query("bfs_copurchase_distances", oracle=_BFS_ORACLE)
def bfs_copurchase_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from the lowest-keyed part to every part within 6
    hops of the co-purchase graph — synchronous frontier BFS (per
    round one frontier⋈edges equi-join + one anti-join against
    visited; work proportional to edges touched, the shape that holds
    on a 100 TB graph). The oracle walks the same graph with a
    recursive CTE and takes min(dist) — identical semantics, viable
    only at oracle scale."""
    li = Catalog(spark, sf_dir).lineitem
    edges = (
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
        .drop("w")
        .localCheckpoint()
    )
    # Deterministic source: the smallest node id in the edge set
    # (bounded one-row collect, same convention as the IVF codebook).
    source = edges.agg(
        F.min(F.least("u", "v")).alias("s0")
    ).collect()[0]["s0"]
    if source is None:  # no qualifying edges at this SF: empty result
        return spark.createDataFrame([], "p_partkey long, dist int")
    return G.bfs_distances(edges, source).select(
        F.col("node").alias("p_partkey"), "dist"
    )


# ---- item-item co-occurrence cosine similarity ------------------------------

_ITEM_SIM_ORACLE = f"""
WITH {COPURCHASE_CTE},
n_ord AS (SELECT l_partkey, count(*) AS n FROM po GROUP BY l_partkey)
SELECT e.u AS part_a, e.v AS part_b, e.n_common,
       e.n_common / sqrt(na.n * nb.n) AS cosine
FROM edges e
JOIN n_ord na ON na.l_partkey = e.u
JOIN n_ord nb ON nb.l_partkey = e.v
"""


@query("item_cooccurrence_similarity", oracle=_ITEM_SIM_ORACLE)
def item_cooccurrence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filtering scores: cosine similarity of
    parts over the order-incidence matrix, n_common/√(n_a·n_b), kept
    for pairs sharing ≥2 orders. The ≥2 support floor IS the scale
    control — it prunes the quadratic co-occurrence tail before the
    join against per-part order counts (cf. Twitter's DIMSUM; here
    exact because support already bounds the candidate set)."""
    li = Catalog(spark, sf_dir).lineitem
    po = li.select("l_orderkey", "l_partkey").distinct()
    n_ord = po.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n"))
    w = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select(
        F.col("u").alias("part_a"),
        F.col("v").alias("part_b"),
        F.col("w").alias("n_common"),
    )
    na = n_ord.select(
        F.col("l_partkey").alias("part_a"), F.col("n").alias("na")
    )
    nb = n_ord.select(
        F.col("l_partkey").alias("part_b"), F.col("n").alias("nb")
    )
    return (
        w.join(na, "part_a")
        .join(nb, "part_b")
        .select(
            "part_a",
            "part_b",
            "n_common",
            (F.col("n_common") / F.sqrt(F.col("na") * F.col("nb"))).alias(
                "cosine"
            ),
        )
    )


# ---- TPC-H Q17 analogue: small-quantity part revenue by brand ---------------

# TPC-H Q17 shape: revenue from lineitems whose quantity is below 20% of
# the part's average, rolled up by brand. The correlated scalar subquery
# becomes one per-part aggregate joined back on partkey (both sides
# shuffle on l_partkey once; the part dim is broadcast), the canonical
# decorrelation at any scale. The 0.2·avg(qty) threshold is
# cross-multiplied (5·qty·cnt < Σqty) so every operand is an
# integer-valued double — exact, no float-division edge.
sql_query("small_qty_brand_revenue", """
WITH per_part AS (
    SELECT l_partkey, sum(l_quantity) AS sum_qty, count(*) AS cnt_qty
    FROM {lineitem} GROUP BY l_partkey
)
SELECT /*+ BROADCAST(p) */ p.p_brand,
       CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
           AS avg_yearly,
       CAST(count(*) AS BIGINT) AS n_rows
FROM {lineitem} l
JOIN per_part pp ON pp.l_partkey = l.l_partkey
JOIN {part} p ON p.p_partkey = l.l_partkey
WHERE l.l_quantity * pp.cnt_qty * 5 < pp.sum_qty
GROUP BY p.p_brand
""")


# ---- TPC-H Q21 analogue: sole-supplier finished orders ----------------------

# TPC-H Q21 shape: per supplier, finished orders where it was the ONLY
# supplier. The NOT EXISTS correlated subquery plans as a left-anti
# self-join of candidates against other-supplier lineitems of the same
# order — both sides keyed on l_orderkey, one shuffle, no per-row
# subquery execution. The finished orders and the supplier dim are
# broadcast.
sql_query("sole_supplier_orders", """
WITH cand AS (
    SELECT /*+ BROADCAST(o) */ DISTINCT l.l_orderkey, l.l_suppkey
    FROM {lineitem} l
    JOIN {orders} o ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderstatus = 'F'
),
sole AS (
    SELECT c.l_orderkey, c.l_suppkey
    FROM cand c
    WHERE NOT EXISTS (
        SELECT 1 FROM {lineitem} l2
        WHERE l2.l_orderkey = c.l_orderkey
          AND l2.l_suppkey <> c.l_suppkey
    )
)
SELECT /*+ BROADCAST(s) */ s.s_suppkey, s.s_name, CAST(count(*) AS BIGINT) AS n_sole_orders
FROM sole
JOIN {supplier} s ON s.s_suppkey = sole.l_suppkey
GROUP BY s.s_suppkey, s.s_name
""")


# ---- TPC-H Q15 analogue: top suppliers by quarterly revenue -----------------

# TPC-H Q15 shape: supplier(s) achieving the maximum revenue over 1996Q1
# shipments. The max-of-aggregate is an empty-partition window max over
# the (tiny) per-supplier revenue table — one extra pass over
# |suppliers| rows, not a second lineitem scan as a scalar subquery over
# the same CTE would plan. Revenue in exact decimal so the argmax is
# order-independent; the supplier dim is broadcast.
sql_query("top_revenue_suppliers", """
WITH rev AS (
    SELECT l_suppkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l_discount AS DECIMAL(18,6)))) AS r
    FROM {lineitem}
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1996-04-01'
    GROUP BY l_suppkey
),
ranked AS (SELECT l_suppkey, r, max(r) OVER () AS max_r FROM rev)
SELECT /*+ BROADCAST(s) */ s.s_suppkey, s.s_name,
       CAST(round(ranked.r, 2) AS DOUBLE) AS total_revenue
FROM ranked
JOIN {supplier} s ON s.s_suppkey = ranked.l_suppkey
WHERE ranked.r = ranked.max_r
""")


# ---- cumulative distinct users per day --------------------------------------

# Running count of distinct users ever seen, by day. The naive form
# (COUNT(DISTINCT) over an expanding window) rescans history per day;
# reducing each user to a first-seen event makes it one aggregation + a
# cumsum over |days| rows — the only shape whose cost doesn't grow with
# history length at 100 TB.
sql_query("cumulative_distinct_users", """
WITH first_seen AS (
    SELECT user_id, min(ts) AS first_ts FROM {events} GROUP BY user_id
),
per_day AS (
    SELECT date_trunc('day', first_ts) AS day,
           CAST(count(*) AS BIGINT) AS new_users
    FROM first_seen GROUP BY 1
)
SELECT day, new_users,
       CAST(sum(new_users) OVER (ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS cum_users
FROM per_day
""")


# ---- per-user modal event type ----------------------------------------------

# Deterministic grouped mode: each user's most frequent event type, ties
# broken lexicographically (a plain MODE() aggregate is
# tie-nondeterministic across engines). Count-then-rank keeps it two
# keyed shuffles with map-side partial aggregation.
sql_query("modal_event_type_per_user", """
WITH counts AS (
    SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n_events,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY count(*) DESC, event_type) AS rn
    FROM {events} GROUP BY user_id, event_type
)
SELECT user_id, event_type AS modal_type, n_events
FROM counts WHERE rn = 1
""")


# ---- changepoint score: rolling mean shift per event type -------------------

# Changepoint scoring: for each (event_type, day), the difference between
# the trailing-3-day and leading-3-day means of the daily value series —
# a windowed mean-shift statistic (the non-recursive cousin of CUSUM, so
# it stays inside ANSI window frames and whole-stage codegen instead of a
# stateful UDF). Pre-aggregating to days first bounds every window at 7
# rows per series regardless of raw event volume. The daily mean divides
# an exact DECIMAL sum (the rolling_daily_mean recipe): a plain double
# avg is accumulation-order-dependent and can drift an ulp between
# engines and parallelism levels.
sql_query("mean_shift_scores", """
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS day,
           CAST(sum(CAST(value AS DECIMAL(19,4))) AS DOUBLE) / count(value)
               AS m
    FROM {events} GROUP BY 1, 2
),
sh AS (
    SELECT event_type, day,
           avg(m) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS m_after,
           count(*) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS n_after,
           avg(m) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS m_before,
           count(*) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS n_before
    FROM daily
)
SELECT event_type, day, m_after - m_before AS shift
FROM sh WHERE n_after = 3 AND n_before = 3
""")


# ---- per-dimension embedding standardization --------------------------------

_DIM_SCALE_ORACLE = """
WITH longf AS (
    SELECT vec_id, CAST(t.i AS INTEGER) AS dim,
           CAST(embedding[CAST(t.i AS INTEGER) + 1] AS DOUBLE) AS x
    FROM embeddings, range(256) t(i)
    WHERE t.i < len(embedding)
),
stats AS (
    SELECT dim, min(x) AS lo, max(x) AS hi
    FROM longf GROUP BY dim
)
SELECT l.vec_id, l.dim, (l.x - s.lo) / (s.hi - s.lo) AS scaled
FROM longf l JOIN stats s ON s.dim = l.dim
WHERE l.vec_id < 32
"""


@query("embedding_dim_scale", oracle=_DIM_SCALE_ORACLE)
def embedding_dim_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension min-max scaling of the embedding matrix (the
    feature-scaling pass before clustering/ANN): posexplode to long
    form, one 64-group min/max aggregation, broadcast the 64-row
    stats back onto the long form. Min/max are selections — unlike
    mean/stddev they are bit-exact under any accumulation order, so
    the scaled output is engine-identical without decimal machinery.
    Output restricted to the first 32 vectors to keep the oracle diff
    small; the plan is output-size-independent."""
    emb = Catalog(spark, sf_dir).embeddings
    longf = emb.select(
        "vec_id", F.posexplode("embedding").alias("dim", "val")
    ).select("vec_id", "dim", F.col("val").cast("double").alias("x"))
    stats = longf.groupBy("dim").agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    return (
        longf.join(F.broadcast(stats), "dim")
        .where(F.col("vec_id") < 32)
        .select(
            "vec_id",
            "dim",
            ((F.col("x") - F.col("lo")) / (F.col("hi") - F.col("lo"))).alias(
                "scaled"
            ),
        )
    )


# ---- Welch two-sample t-test: purchase vs click values ----------------------

# Welch's unequal-variance t-test between purchase and click event
# values, with the Welch–Satterthwaite degrees of freedom — the A/B-test
# primitive. One global aggregation produces both arms through FILTER
# clauses, so the events table is read once, and the scalar algebra runs
# on its one row, never a driver-side collect. The row is dropped unless
# each arm has at least two valued rows (no result for a missing arm,
# and n > 1 guards the n - 1 variance divisions). Moments come from exact
# DECIMAL sums (order-independent — the repo's engine-parity recipe)
# with the scalar algebra in double; plain avg/var_samp merge partials
# in shuffle-fetch order and can drift an ulp between engines.
sql_query("welch_ttest_purchase_click", """
WITH g0 AS (
    SELECT CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS np,
           CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS nc,
           CAST(sum(CAST(value AS DECIMAL(19,4)))
                FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS s1p,
           CAST(sum(CAST(value AS DECIMAL(19,4)))
                FILTER (WHERE event_type = 'click') AS DOUBLE) AS s1c,
           CAST(sum(CAST(value * value AS DECIMAL(25,4)))
                FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS s2p,
           CAST(sum(CAST(value * value AS DECIMAL(25,4)))
                FILTER (WHERE event_type = 'click') AS DOUBLE) AS s2c
    FROM {events}
    WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
),
g AS (
    SELECT np, nc, s1p / np AS mp, s1c / nc AS mc,
           (s2p - s1p * s1p / np) / (np - 1) AS vp,
           (s2c - s1c * s1c / nc) / (nc - 1) AS vc
    FROM g0
    WHERE np > 1 AND nc > 1
)
SELECT np AS n_purchase, nc AS n_click,
       mp - mc AS mean_diff,
       (mp - mc) / sqrt(vp / np + vc / nc) AS t_stat,
       power(vp / np + vc / nc, 2)
           / (power(vp / np, 2) / (np - 1)
              + power(vc / nc, 2) / (nc - 1)) AS dof
FROM g
""")


# ---- k-anonymity audit over quasi-identifiers -------------------------------

# k-anonymity audit of the (nation, market-segment) quasi-identifier:
# equivalence-class sizes with a below-k=5 flag — the privacy gate a
# training corpus runs before release. One keyed aggregation with
# map-side partials; the nation dim is broadcast.
sql_query("k_anonymity_audit", """
WITH g AS (
    SELECT /*+ BROADCAST(n) */ n.n_name, c.c_mktsegment, CAST(count(*) AS BIGINT) AS group_size
    FROM {customer} c
    JOIN {nation} n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, c.c_mktsegment
)
SELECT n_name, c_mktsegment, group_size, group_size < 5 AS below_k
FROM g
""")


# ---- referential-integrity audit across the star schema ---------------------

# Orphaned-foreign-key counts for every edge of the star schema — the
# cross-table extension of the single-table quality profile (SURVEY
# §2.2 P5/P6). Each NOT EXISTS plans as one left-anti join keyed on the
# FK; the parent sides are broadcast so the fact table is scanned, never
# shuffled.
sql_query("referential_integrity_audit", """
SELECT 'lineitem->orders' AS fk, CAST(count(*) AS BIGINT) AS n_orphans
FROM {lineitem} l WHERE NOT EXISTS
    (SELECT /*+ BROADCAST(o) */ 1 FROM {orders} o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'orders->customer', CAST(count(*) AS BIGINT)
FROM {orders} o WHERE NOT EXISTS
    (SELECT /*+ BROADCAST(c) */ 1 FROM {customer} c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitem->part', CAST(count(*) AS BIGINT)
FROM {lineitem} l WHERE NOT EXISTS
    (SELECT /*+ BROADCAST(p) */ 1 FROM {part} p WHERE p.p_partkey = l.l_partkey)
UNION ALL
SELECT 'lineitem->supplier', CAST(count(*) AS BIGINT)
FROM {lineitem} l WHERE NOT EXISTS
    (SELECT /*+ BROADCAST(s) */ 1 FROM {supplier} s WHERE s.s_suppkey = l.l_suppkey)
""")


# ---- top event-type trigrams per volume -------------------------------------

# Behavioral 3-step path mining: counts of consecutive event-type
# trigrams per user stream (the 3-gram extension of the transition
# matrix). lead() over the per-user time order keeps it one shuffle; the
# event_id tiebreak makes duplicate timestamps deterministic.
sql_query("top_event_trigrams", """
WITH seq AS (
    SELECT user_id, event_type,
           lead(event_type, 1) OVER w AS t2,
           lead(event_type, 2) OVER w AS t3
    FROM {events}
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
tri AS (
    SELECT event_type || '>' || t2 || '>' || t3 AS trigram
    FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
)
SELECT trigram, CAST(count(*) AS BIGINT) AS n
FROM tri GROUP BY trigram
""")


# ---- TPC-H Q11 analogue: significant parts by inventory value ---------------

# TPC-H Q11 shape: parts whose shipped value exceeds 1.5× the MEAN
# per-part value — the having-scalar-subquery pattern with a
# corpus-relative cut (a fixed 0.0005-of-total fraction went empty at
# sf0.1, because the part count grows with the corpus while each part's
# share shrinks). The global total and part count are window aggregates
# over the already-aggregated per-part table (groups-sized), never a
# second lineitem pass. The cut compares scale-2 decimals converted to
# double (exact: cents < 2^53) with one division and one ×1.5 —
# correctly-rounded IEEE identically in both engines; a DECIMAL product
# would overflow precision 38 and round differently per engine, and the
# raw scale-6 total needs more than 53 mantissa bits.
sql_query("significant_parts_by_value", """
WITH pv AS (
    SELECT l_partkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
    FROM {lineitem} GROUP BY l_partkey
),
tot AS (
    SELECT l_partkey, val, sum(val) OVER () AS t, count(*) OVER () AS np
    FROM pv
)
SELECT l_partkey AS p_partkey,
       CAST(round(val, 2) AS DOUBLE) AS part_value
FROM tot
WHERE CAST(round(val, 2) AS DOUBLE)
      > 1.5 * (CAST(round(t, 2) AS DOUBLE) / CAST(np AS DOUBLE))
""")


# ---- TPC-H Q20 analogue: top supplier share per part ------------------------

# TPC-H Q20 flavor: for every part, the supplier shipping the most of it
# and that supplier's share of the part's volume — the grouped argmax
# pattern (rank by quantity with a deterministic suppkey tiebreak; never
# a groupBy + self-join back). Quantities are integer-valued doubles, so
# the share is exact division of exact operands.
sql_query("top_supplier_share_per_part", """
WITH ps AS (
    SELECT l_partkey, l_suppkey, sum(l_quantity) AS qty
    FROM {lineitem} GROUP BY l_partkey, l_suppkey
),
ranked AS (
    SELECT l_partkey, l_suppkey, qty,
           sum(qty) OVER (PARTITION BY l_partkey) AS total_qty,
           row_number() OVER (PARTITION BY l_partkey
                              ORDER BY qty DESC, l_suppkey) AS rn
    FROM ps
)
SELECT l_partkey AS p_partkey, l_suppkey AS s_suppkey,
       qty AS supplier_qty, total_qty,
       qty / total_qty AS qty_share
FROM ranked WHERE rn = 1
""")


# ---- TPC-H Q22 analogue: idle above-average-balance customers ---------------

# TPC-H Q22 shape: customers with above-average positive balance and no
# FINISHED orders — scalar-subquery threshold + anti join (every
# customer in this corpus has some order, so the finished filter keeps
# the anti join non-vacuous). The scalar average attaches by broadcast
# nested-loop join of a 1-row aggregate; the NOT EXISTS is one left-anti
# join on custkey. 2-decimal balances are exact doubles, but their sum
# accumulates in shuffle order, so it is routed through DECIMAL like
# every money sum.
sql_query("idle_rich_customers", """
WITH avg_bal AS (
    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
           / count(c_acctbal) AS ab
    FROM {customer} WHERE c_acctbal > 0
)
SELECT /*+ BROADCAST(avg_bal) */ c.c_custkey, c.c_acctbal
FROM {customer} c, avg_bal
WHERE c.c_acctbal > avg_bal.ab
  AND NOT EXISTS (
      SELECT 1 FROM {orders} o
      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F'
  )
""")


# ---- k-core decomposition of the co-purchase graph --------------------------

# k=2 (round 11; was 3): the co-purchase graph THINS as the corpus
# grows (more parts spread the same order fan-out), so the 3-core is
# empty at sf0.1 and its sweep row certified only agreement-on-empty.
# The 2-core is non-empty at every sf (200 / 1535 / 3 nodes measured
# at sf0.001/0.01/0.1), so every sweep row carries value signal.
_KCORE_K = 2
# Oracle rounds: the peeling fixpoint takes 3 rounds at sf0.01 and 5
# at sf0.1 for k=2 (measured); 14 unrolled rounds give margin, and
# extra rounds past the fixpoint are no-ops, so engine
# (loop-to-fixpoint) and oracle (fixed unroll) agree at every oracle
# scale.
_KCORE_ROUNDS = 14


def _kcore_ctes(k: int, rounds: int) -> str:
    # AS MATERIALIZED: each round references the previous one three
    # times (degree filter + two NOT INs); without materialization the
    # inlined CTE tree grows 3^rounds and exhausts file handles.
    parts = [
        "d0 AS MATERIALIZED (SELECT u AS s, v AS d FROM edges"
        " UNION ALL SELECT v, u FROM edges)"
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""l{i} AS MATERIALIZED (SELECT s FROM d{i - 1} GROUP BY s HAVING count(*) < {k}),
d{i} AS MATERIALIZED (
    SELECT s, d FROM d{i - 1}
    WHERE s NOT IN (SELECT s FROM l{i}) AND d NOT IN (SELECT s FROM l{i})
)"""
        )
    return ",\n".join(parts)


_KCORE_ORACLE = f"""
WITH {COPURCHASE_CTE},
{_kcore_ctes(_KCORE_K, _KCORE_ROUNDS)}
SELECT s AS node, CAST(count(*) AS BIGINT) AS degree
FROM d{_KCORE_ROUNDS}
GROUP BY s
"""


@query("kcore_copurchase", oracle=_KCORE_ORACLE)
def kcore_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the part co-purchase graph — iterative peeling of
    degree<2 nodes to a fixpoint (:func:`operators.graph.k_core`), the
    degeneracy primitive for dense-community extraction. Engine loops
    with early exit; the oracle unrolls {_KCORE_ROUNDS} peeling rounds
    (fixpoint measured at 5 at sf0.1, extra rounds are no-ops).
    Every round is an equi-shuffle (degree count + two anti-joins), so
    node-bucketed edges make rounds exchange-free at scale."""
    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_edges(
        li.select("l_orderkey", "l_partkey").distinct(),
        "l_orderkey",
        "l_partkey",
        min_support=2,
    ).select(F.col("u"), F.col("v"))
    return G.k_core(edges, k=_KCORE_K)


# ---- Adamic-Adar link prediction on the co-purchase graph -------------------

# Classic link prediction: for part pairs NOT currently adjacent,
# score(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — common neighbors,
# discounted by how promiscuous each shared neighbor is. Candidate
# pairs come from the wedge equi-join on the shared-neighbor key
# (never an all-pairs comparison); degrees attach to the adjacency
# rows BEFORE the wedge join so no post-explosion lookup is needed.
# Every shared neighbor has deg ≥ 2 by construction, so ln(deg) > 0.
# Float parity: the per-pair score folds cnt/ln(deg) over the
# degree-sorted (deg, cnt) list in pinned order (the ccf/list_reduce
# recipe) and is rounded to 6 decimals to absorb the documented
# cross-engine ln() ulp (same guard as unigram_lm_scores); the top-20
# ordering ties on the rounded score break by (u, v).
_AA_DEGREE_CAP = 64  # shared-neighbor degree cap, mirrored engine+oracle

_AA_ORACLE = f"""
WITH {COPURCHASE_CTE},
adj AS (SELECT u AS node, v AS nbr FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS k FROM adj GROUP BY node
        HAVING count(*) <= {_AA_DEGREE_CAP}),
adjd AS (SELECT a.node, a.nbr, d.k AS kw FROM adj a JOIN deg d ON d.node = a.nbr),
wedge AS (
    SELECT a.node AS u, b.node AS v, a.kw
    FROM adjd a JOIN adjd b ON a.nbr = b.nbr AND a.node < b.node
),
cand AS (
    SELECT w.u, w.v, w.kw FROM wedge w
    LEFT JOIN edges e ON e.u = w.u AND e.v = w.v
    WHERE e.u IS NULL
),
gt AS (
    SELECT u, v, kw, CAST(count(*) AS BIGINT) AS cnt
    FROM cand GROUP BY u, v, kw
),
sc AS (
    SELECT u, v,
           CAST(sum(cnt) AS BIGINT) AS common_neighbors,
           round(list_reduce(
               list(CAST(cnt AS DOUBLE) / ln(CAST(kw AS DOUBLE))
                    ORDER BY kw),
               (acc, x) -> acc + x
           ), 6) AS aa_score
    FROM gt GROUP BY u, v
)
SELECT u AS part_u, v AS part_v, common_neighbors, aa_score
FROM sc ORDER BY aa_score DESC, u, v LIMIT 20
"""


@query("adamic_adar_linkpred", oracle=_AA_ORACLE)
def adamic_adar_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 Adamic-Adar link predictions on the part co-purchase
    graph: the next-edge recommender that complements the existing
    descriptive graph queries (triangles, k-core, PageRank). Wedge
    generation, degree attachment, and the existing-edge anti-join are
    all equi-joins on derived keys (:func:`operators.graph.adamic_adar`);
    per-pair scores fold the degree-grouped terms in pinned order. The
    wedge fan-out is Σ_w deg(w)² — on a hub-skewed graph the
    shared-neighbor degree cap bounds it (measured max degree on this
    graph is 13 at sf0.01 and 6 at sf10, so the cap is an
    assert-grade guard at tested scales, but the cap is MIRRORED in
    the oracle's degree CTE so engagement at any scale keeps both
    engines byte-identical); dropped wedges are counted in the
    ``capped_wedges_dropped`` observation, never silent."""
    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).drop("w")
    sc = G.adamic_adar(edges, max_neighbor_degree=_AA_DEGREE_CAP)
    out = (
        sc.select(
            F.col("u").alias("part_u"),
            F.col("v").alias("part_v"),
            "common_neighbors",
            "aa_score",
        )
        .orderBy(F.col("aa_score").desc(), "part_u", "part_v")
        .limit(20)
    )
    # The Observe node survives the select/orderBy/limit wrapper, so
    # re-expose the handle on the returned frame — otherwise the
    # registry/driver path would drop wedges documented-but-unobservable
    # (ADVICE r9).
    out.overcap_observation = sc.overcap_observation
    return out


# ---- local clustering coefficient on the co-purchase graph ------------------

# C(v) = 2·T(v) / (k_v·(k_v−1)): how close each part's neighborhood is
# to a clique — the node-local cohesion measure that completes the
# graph-descriptive family (triangle counts, k-core, assortativity,
# PageRank). Triangle counts ride the existing degree-ordered
# orientation (O(m^1.5) wedge work); degrees are one grouped count
# over the bidirectional edge list; the coefficient is one pinned
# double expression per node. The oracle brute-forces the a<b<c
# triple join — identical triangle set by orientation invariance.
_CLUSTERING_ORACLE = f"""
WITH {COPURCHASE_CTE},
bidir AS (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS degree FROM bidir GROUP BY node),
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
tnodes AS (
    SELECT a AS node FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
),
tcnt AS (SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM tnodes GROUP BY node)
SELECT d.node AS p_partkey, d.degree,
       coalesce(t.n_triangles, 0) AS n_triangles,
       CASE WHEN d.degree >= 2
            THEN 2.0 * CAST(coalesce(t.n_triangles, 0) AS DOUBLE)
                 / (CAST(d.degree AS DOUBLE) * CAST(d.degree - 1 AS DOUBLE))
            ELSE 0.0 END AS clustering_coef
FROM deg d LEFT JOIN tcnt t ON t.node = d.node
"""


@query("clustering_coefficient_parts", oracle=_CLUSTERING_ORACLE)
def clustering_coefficient_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part local clustering coefficient on the co-purchase graph:
    2·triangles / (degree·(degree−1)), 0 for degree-1 nodes. Reuses
    the oriented triangle counter; one extra grouped count (degrees)
    and one left join."""
    li = Catalog(spark, sf_dir).lineitem
    edges = (
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
        .drop("w")
        .localCheckpoint()  # consumed by both the degree count and triangles
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = G.triangles_per_node(edges)
    j = deg.join(tri, "node", "left")
    nt = F.coalesce(F.col("n_triangles"), F.lit(0)).cast("long")
    kd = F.col("degree").cast("double")
    return j.select(
        F.col("node").alias("p_partkey"),
        "degree",
        nt.alias("n_triangles"),
        F.when(
            F.col("degree") >= 2,
            F.lit(2.0) * nt.cast("double") / (kd * (F.col("degree") - 1).cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("clustering_coef"),
    )


# ---- Jaccard link prediction on the co-purchase graph ------------------------

# The set-overlap sibling of Adamic-Adar: for non-adjacent pairs,
# score(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|
#            = common / (deg(u) + deg(v) − common).
# Same wedge machinery (equi-join on the shared-neighbor key, never
# all-pairs; adjacency built once; candidate anti-join against the
# edge list) with the SAME mirrored wedge-center degree cap as
# adamic_adar — capped-Jaccard is the declared semantics, identical in
# both engines at any scale (max degree on this graph: 13 at sf0.01,
# 6 at sf10, so the cap is un-engaged at tested scales). Unlike AA,
# the score needs ENDPOINT degrees (one extra equi-join per side) and
# is a single exact-integer division under round(6) — no ln() in the
# data path at all.
_JACCARD_ORACLE = f"""
WITH {COPURCHASE_CTE},
adj AS (SELECT u AS node, v AS nbr FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT node, CAST(count(*) AS BIGINT) AS k FROM adj GROUP BY node),
adjc AS (
    SELECT a.node, a.nbr FROM adj a
    JOIN deg d ON d.node = a.nbr AND d.k <= {_AA_DEGREE_CAP}
),
wedge AS (
    SELECT a.node AS u, b.node AS v
    FROM adjc a JOIN adjc b ON a.nbr = b.nbr AND a.node < b.node
),
cand AS (
    SELECT w.u, w.v FROM wedge w
    LEFT JOIN edges e ON e.u = w.u AND e.v = w.v
    WHERE e.u IS NULL
),
cn AS (
    SELECT u, v, CAST(count(*) AS BIGINT) AS common_neighbors
    FROM cand GROUP BY u, v
)
SELECT cn.u AS part_u, cn.v AS part_v, cn.common_neighbors,
       round(CAST(cn.common_neighbors AS DOUBLE)
             / CAST(du.k + dv.k - cn.common_neighbors AS DOUBLE),
             6) AS jaccard
FROM cn
JOIN deg du ON du.node = cn.u
JOIN deg dv ON dv.node = cn.v
ORDER BY jaccard DESC, part_u, part_v LIMIT 20
"""


@query("jaccard_linkpred", oracle=_JACCARD_ORACLE)
def jaccard_linkpred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 Jaccard link predictions on the part co-purchase graph
    (see the oracle comment block: wedge equi-join candidates, mirrored
    wedge-center degree cap, endpoint-degree joins, exact-integer
    division under round(6))."""
    li = Catalog(spark, sf_dir).lineitem
    edges = (
        G.cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
        .select("u", "v")
        .localCheckpoint()  # adjacency ×2 + anti-join reuse
    )
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionAll(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("k"))
    # Attach BOTH roles' degrees to the adjacency BEFORE the wedge
    # join (the adamic_adar posture): the endpoint degree rides each
    # wedge row, so the score needs no post-aggregation join against
    # the wedge-sized candidate set (two extra cn-sized shuffles —
    # measured ~30 s of the first cut's 74 s at sf10).
    adjd = adj.join(
        deg.filter(F.col("k") <= _AA_DEGREE_CAP)
        .select(F.col("node").alias("nbr")),
        "nbr",
    ).join(deg, "node")
    a, b = adjd.alias("a"), adjd.alias("b")
    wedge = a.join(
        b,
        (F.col("a.nbr") == F.col("b.nbr"))
        & (F.col("a.node") < F.col("b.node")),
    ).select(
        F.col("a.node").alias("u"),
        F.col("b.node").alias("v"),
        F.col("a.k").alias("du"),
        F.col("b.k").alias("dv"),
    )
    cn = (
        wedge.join(edges, ["u", "v"], "left_anti")
        .groupBy("u", "v", "du", "dv")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    cm = F.col("common_neighbors")
    return cn.select(
        F.col("u").alias("part_u"),
        F.col("v").alias("part_v"),
        cm,
        F.round(
            cm.cast("double")
            / (F.col("du") + F.col("dv") - cm).cast("double"),
            6,
        ).alias("jaccard"),
    ).orderBy(F.col("jaccard").desc(), "part_u", "part_v").limit(20)


# ---- label-propagation communities on the co-purchase graph ------------------

# Community structure by synchronous LPA with a FIXED 4-round unroll
# and (count DESC, label ASC) tie-breaking — deterministic on every
# engine (see operators.graph.label_propagation; the k_core
# fixed-unroll posture). The oracle unrolls the same 4 rounds as CTEs.
# Output is the community SIZE distribution (community id = surviving
# node-id label), the summary a curation pipeline reads to find
# co-purchase clusters worth a category of their own.
_LPA_ROUNDS = 4


def _lpa_ctes(rounds: int) -> str:
    parts = [
        "adj AS (SELECT u AS node, v AS nbr FROM edges "
        "UNION ALL SELECT v, u FROM edges)",
        "l0 AS (SELECT DISTINCT node, node AS lbl FROM adj)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""c{r} AS (
    SELECT a.node, l.lbl, count(*) AS cnt
    FROM adj a JOIN l{r - 1} l ON l.node = a.nbr
    GROUP BY a.node, l.lbl
),
l{r} AS (
    SELECT node, lbl FROM (
        SELECT node, lbl,
               row_number() OVER (PARTITION BY node
                                  ORDER BY cnt DESC, lbl ASC) AS rn
        FROM c{r}
    ) WHERE rn = 1
)"""
        )
    return ",\n".join(parts)


_LPA_ORACLE = f"""
WITH {COPURCHASE_CTE},
{_lpa_ctes(_LPA_ROUNDS)}
SELECT lbl AS community,
       CAST(count(*) AS BIGINT) AS n_nodes
FROM l{_LPA_ROUNDS}
GROUP BY lbl
ORDER BY n_nodes DESC, community
"""


@query("label_propagation_communities", oracle=_LPA_ORACLE)
def label_propagation_communities(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Community-size distribution of 4-round label propagation on the
    part co-purchase graph (see the comment block)."""
    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select("u", "v")
    lab = G.label_propagation(edges, rounds=_LPA_ROUNDS)
    return (
        lab.groupBy(F.col("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy(F.col("n_nodes").desc(), "community")
    )


# ---- LPA community quality: Newman modularity --------------------------------

# The quality contract for the graph family (round 11; the analogue of
# ANN's recall row): Newman modularity of the 4-round LPA partition,
#   Q = Σ_c [ m_c/m − (D_c/(2m))² ]
# with m = |edges|, m_c = intra-community edges, D_c = community degree
# sum. Exactness: every input is an integer, so Q is computed over the
# COMMON DENOMINATOR 4m³ — per-community integer terms
# (4·m²·m_c − m·D_c²) summed exactly (Spark DECIMAL(38,0), DuckDB
# HUGEINT: both exact, order-free), then ONE double division under
# round(6). Never a per-community double sum (partition-order drift).
# Scale shape: one labels⋈edges equi-join on each endpoint + two
# grouped integer rollups — node-keyed shuffles, the same shape as the
# LPA rounds themselves; the final fold is a 1-row aggregate.
_LPA_MODULARITY_ORACLE = f"""
WITH {COPURCHASE_CTE},
{_lpa_ctes(_LPA_ROUNDS)},
lab AS (SELECT node, lbl FROM l{_LPA_ROUNDS}),
mm AS (SELECT CAST(count(*) AS HUGEINT) AS m FROM edges),
deg AS (SELECT node, CAST(count(*) AS HUGEINT) AS k FROM adj GROUP BY node),
intra AS (
    SELECT la.lbl, CAST(count(*) AS HUGEINT) AS mc
    FROM edges e
    JOIN lab la ON la.node = e.u
    JOIN lab lb ON lb.node = e.v AND lb.lbl = la.lbl
    GROUP BY la.lbl
),
dsum AS (
    SELECT la.lbl, CAST(sum(d.k) AS HUGEINT) AS dc
    FROM lab la JOIN deg d ON d.node = la.node GROUP BY la.lbl
),
comm AS (
    SELECT ds.lbl, COALESCE(i.mc, 0) AS mc, ds.dc
    FROM dsum ds LEFT JOIN intra i ON i.lbl = ds.lbl
)
SELECT CAST(count(*) AS BIGINT) AS n_communities,
       CAST(max(m) AS BIGINT) AS n_edges,
       CAST(sum(mc) AS BIGINT) AS intra_edges,
       round(CAST(sum(4 * m * m * mc - m * dc * dc) AS DOUBLE)
             / CAST(4 * max(m) * max(m) * max(m) AS DOUBLE), 6)
           AS modularity
FROM comm, mm
"""


@query("lpa_modularity", oracle=_LPA_MODULARITY_ORACLE)
def lpa_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the 4-round LPA partition of the part
    co-purchase graph — one row (community count, edge count,
    intra-community edges, Q under round(6)); see the comment block
    for the exact-integer common-denominator algebra."""
    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).select("u", "v").localCheckpoint()  # reused: LPA + m + deg + intra
    lab = G.label_propagation(edges, rounds=_LPA_ROUNDS)
    mm = edges.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("m"))
    adj = edges.select(F.col("u").alias("node")).unionAll(
        edges.select(F.col("v").alias("node"))
    )
    deg = adj.groupBy("node").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("k")
    )
    la = lab.select(F.col("node").alias("u"), F.col("community").alias("cu"))
    lb = lab.select(F.col("node").alias("v"), F.col("community").alias("cv"))
    intra = (
        edges.join(la, "u")
        .join(lb, "v")
        .where(F.col("cu") == F.col("cv"))
        .groupBy(F.col("cu").alias("lbl"))
        .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("mc"))
    )
    dsum = (
        lab.join(deg, "node")
        .groupBy(F.col("community").alias("lbl"))
        .agg(F.sum("k").cast("decimal(38,0)").alias("dc"))
    )
    comm = dsum.join(intra, "lbl", "left").select(
        "lbl",
        F.coalesce(F.col("mc"), F.lit(0).cast("decimal(38,0)")).alias("mc"),
        "dc",
    )
    four = F.lit(4).cast("decimal(38,0)")
    return (
        comm.crossJoin(F.broadcast(mm))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_communities"),
            F.max("m").cast("long").alias("n_edges"),
            F.sum("mc").cast("long").alias("intra_edges"),
            F.round(
                F.sum(
                    four * F.col("m") * F.col("m") * F.col("mc")
                    - F.col("m") * F.col("dc") * F.col("dc")
                ).cast("double")
                / (four * F.max("m") * F.max("m") * F.max("m")).cast(
                    "double"
                ),
                6,
            ).alias("modularity"),
        )
    )


# ---- edge-support profile: the k-truss primitive ------------------------------

# Per-edge triangle counts ("support") over the co-purchase graph,
# rolled into the support histogram — the k-truss building block
# (an edge is in the k-truss iff support >= k-2), one level deeper
# than the node-side triangle count the family already carries. The
# Spark side reuses the degree-ordered triangle enumeration (each
# triangle found ONCE, O(m^1.5) wedge bound, all equi-joins) and
# explodes each triangle to its three canonical edges; zero-support
# edges survive via a left join from the canonical edge set. The
# oracle brute-forces the a<b<c triple join the triangle oracle uses
# and mirrors the edge explode. All-integer output.
_EDGE_SUPPORT_ORACLE = f"""
WITH {COPURCHASE_CTE},
tri AS (
    SELECT e1.u AS a, e1.v AS b, e2.v AS c
    FROM edges e1
    JOIN edges e2 ON e2.u = e1.v
    JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
),
tri_edges AS (
    SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri
    UNION ALL SELECT least(a, c), greatest(a, c) FROM tri
    UNION ALL SELECT least(b, c), greatest(b, c) FROM tri
),
sup AS (
    SELECT e.u, e.v, CAST(coalesce(t.c, 0) AS BIGINT) AS support
    FROM edges e
    LEFT JOIN (
        SELECT u, v, count(*) AS c FROM tri_edges GROUP BY u, v
    ) t ON t.u = e.u AND t.v = e.v
)
SELECT support,
       CAST(count(*) AS BIGINT) AS n_edges,
       CAST(sum(count(*)) OVER (
            ORDER BY support DESC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS n_edges_at_least
FROM sup
GROUP BY support
ORDER BY support
"""


@query("edge_support_profile", oracle=_EDGE_SUPPORT_ORACLE)
def edge_support_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-support histogram of the co-purchase edges (see the
    comment block): per support level, the edge count and the
    cumulative count of edges with at least that support — read the
    k-truss size for any k directly off the n_edges_at_least column
    at support = k-2."""
    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).drop("w")
    sup = G.triangle_support_per_edge(edges)
    hist = sup.groupBy("support").agg(
        F.count(F.lit(1)).alias("n_edges")
    )
    cum = Window.orderBy(F.col("support").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return hist.select(
        "support",
        F.col("n_edges").cast("long").alias("n_edges"),
        F.sum("n_edges").over(cum).cast("long").alias("n_edges_at_least"),
    ).orderBy("support")


# ---- k-truss decomposition of the co-purchase graph --------------------------

# The graph family's third quality contract (VERDICT r11 #5, after
# LPA→modularity and triangles→support): the truss DECOMPOSITION
# built on edge_support_profile's peel primitive. For each k = 3..5
# the peel iteratively drops edges with triangle support < k−2,
# recomputing support each round, to a fixpoint — each level starts
# from the previous level's truss (the (k+1)-truss ⊆ k-truss
# containment), so the sequential chain does strictly less work than
# independent per-k peels. Reported per level: surviving edge / node
# counts plus the max nonempty-truss k (2 = only the trivial
# all-edges truss survives). Pure integer counts — no float drift
# surface. Both engines run the SAME bounded schedule (6 rounds per
# level, measured fixpoints ≤ 3 on this graph): the oracle unrolls
# the rounds as MATERIALIZED CTEs (the _kcore_ctes posture — each
# round references its predecessor three times in the triangle join),
# extra rounds past the fixpoint are set-identity no-ops.
_TRUSS_KLEVELS = (3, 4, 5)
_TRUSS_ROUNDS = 6


def _ktruss_ctes(k_levels: tuple[int, ...], rounds: int) -> tuple[str, dict]:
    parts = ["e_start AS MATERIALIZED (SELECT u, v FROM edges)"]
    prev = "e_start"
    finals: dict[int, str] = {}
    for k in k_levels:
        for r in range(1, rounds + 1):
            cur = f"e{k}_{r}"
            parts.append(
                f"""t{k}_{r} AS MATERIALIZED (
    SELECT e1.u AS x, e1.v AS y, e2.v AS z
    FROM {prev} e1
    JOIN {prev} e2 ON e2.u = e1.u AND e2.v > e1.v
    JOIN {prev} e3 ON e3.u = e1.v AND e3.v = e2.v
),
s{k}_{r} AS MATERIALIZED (
    SELECT u, v, CAST(count(*) AS BIGINT) AS sup FROM (
        SELECT x AS u, y AS v FROM t{k}_{r}
        UNION ALL SELECT x, z FROM t{k}_{r}
        UNION ALL SELECT y, z FROM t{k}_{r}
    ) GROUP BY u, v
),
{cur} AS MATERIALIZED (
    SELECT e.u, e.v FROM {prev} e
    JOIN s{k}_{r} s ON s.u = e.u AND s.v = e.v
    WHERE s.sup >= {k - 2}
)"""
            )
            prev = cur
        finals[k] = prev
    return ",\n".join(parts), finals


def _ktruss_oracle() -> str:
    ctes, finals = _ktruss_ctes(_TRUSS_KLEVELS, _TRUSS_ROUNDS)
    per_k = "\nUNION ALL\n".join(
        f"""SELECT {k} AS k,
       (SELECT CAST(count(*) AS BIGINT) FROM {fin}) AS truss_edges,
       (SELECT CAST(count(*) AS BIGINT)
        FROM (SELECT u AS nd FROM {fin} UNION SELECT v FROM {fin}) q{k})
           AS truss_nodes"""
        for k, fin in finals.items()
    )
    return f"""
WITH {COPURCHASE_CTE},
{ctes},
per_k AS ({per_k})
SELECT k, truss_edges, truss_nodes,
       CAST(max(CASE WHEN truss_edges > 0 THEN k ELSE 2 END)
            OVER () AS INTEGER) AS max_k
FROM per_k
ORDER BY k
"""


@query("ktruss_decomposition_parts", oracle=_ktruss_oracle())
def ktruss_decomposition_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-truss decomposition of the part co-purchase graph (see the
    comment block): per k = 3..5 the truss edge/node counts from the
    sequential bounded peel, plus the max nonempty-truss k."""
    li = Catalog(spark, sf_dir).lineitem
    edges = G.cooccurrence_edges(
        li, "l_orderkey", "l_partkey", min_support=2
    ).drop("w")
    levels = G.ktruss_decomposition(
        edges, k_max=max(_TRUSS_KLEVELS), max_rounds=_TRUSS_ROUNDS
    )
    max_k = max([2] + [k for k, ne, _ in levels if ne > 0])
    return spark.createDataFrame(
        [(k, ne, nn, max_k) for k, ne, nn in levels],
        "k int, truss_edges long, truss_nodes long, max_k int",
    ).orderBy("k")
