"""Distributional statistics queries: degree assortativity of the
co-purchase graph, per-group Gini concentration, a Benford first-digit
audit, and percent-of-parent revenue shares.

Each is a one-or-two-aggregation shape whose inputs are made
order-independent (integer-exact doubles, DECIMAL money sums, or pure
counts) so the scalar statistic is bit-identical in any engine — the
same parity recipe as the moments/PageRank queries.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import graph as G
from climate_anomaly_bigdata_pipeline_spark.queries import query
from climate_anomaly_bigdata_pipeline_spark.queries.advancedq import (
    COPURCHASE_CTE,
)

# ---- degree assortativity of the co-purchase graph --------------------------

# Newman's degree assortativity = Pearson correlation of endpoint
# degrees over the (directed-both-ways) edge list. Degrees are small
# integers, so every sum below is integer-valued and exact in double:
# the final r is deterministic scalar algebra.
_ASSORT_ORACLE = f"""
WITH {COPURCHASE_CTE},
bidir AS (SELECT u AS s, v AS d FROM edges UNION ALL SELECT v, u FROM edges),
deg AS (SELECT s AS node, CAST(count(*) AS DOUBLE) AS k FROM bidir GROUP BY s),
ends AS (
    SELECT ds.k AS ks, dd.k AS kd
    FROM bidir b
    JOIN deg ds ON ds.node = b.s
    JOIN deg dd ON dd.node = b.d
),
m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           sum(ks) AS sx, sum(kd) AS sy,
           sum(ks * kd) AS sxy, sum(ks * ks) AS sxx, sum(kd * kd) AS syy
    FROM ends
)
SELECT CAST(n AS BIGINT) AS n_edge_ends,
       (n * sxy - sx * sy)
           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
           AS assortativity
FROM m
"""


@query("copurchase_degree_assortativity", oracle=_ASSORT_ORACLE)
def copurchase_degree_assortativity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman degree assortativity of the part co-purchase graph: do
    high-degree parts co-occur with other high-degree parts? Degrees
    join onto both endpoints of the symmetrized edge list (two
    dimension-sized joins), then one global aggregation of
    integer-exact products — bit-deterministic without decimals."""
    li = Catalog(spark, sf_dir).lineitem
    e = G.cooccurrence_edges(li, "l_orderkey", "l_partkey", min_support=2)
    # The symmetrized edge list feeds the degree agg AND both endpoint
    # joins — checkpoint it so the lineitem aggregation runs once.
    bidir = (
        e.select(F.col("u").alias("s"), F.col("v").alias("d"))
        .union(e.select(F.col("v").alias("s"), F.col("u").alias("d")))
        .localCheckpoint()
    )
    deg = bidir.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("k")
    )
    ends = (
        bidir.join(
            F.broadcast(
                deg.select(F.col("node").alias("s"), F.col("k").alias("ks"))
            ),
            "s",
        )
        .join(
            F.broadcast(
                deg.select(F.col("node").alias("d"), F.col("k").alias("kd"))
            ),
            "d",
        )
        .select("ks", "kd")
    )
    m = ends.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("ks").alias("sx"),
        F.sum("kd").alias("sy"),
        F.sum(F.col("ks") * F.col("kd")).alias("sxy"),
        F.sum(F.col("ks") * F.col("ks")).alias("sxx"),
        F.sum(F.col("kd") * F.col("kd")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return m.select(
        n.cast("long").alias("n_edge_ends"),
        (
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
        ).alias("assortativity"),
    )


# ---- Gini concentration of order value per nation ---------------------------

# Gini from the rank formula, DIVISION-CLEARED to one quotient of two
# exact integers: G = (2·Σ(i·x_i) − (n+1)·Σx) / (n·Σx) over
# ascending-sorted integer-CENT values. Money rides exact integers
# (round(x·100): identical IEEE multiply + half-away rounding on both
# engines), ranks are exact, the numerator/denominator algebra is
# integer-exact (Spark DECIMAL(38,0) / DuckDB HUGEINT), and the single
# int→double conversion pair + divide sits under the round(6) output
# guard — the pinned-exact-integer discipline that made PCA/spectral
# bit-equal (VERDICT r9 #4; the old DECIMAL(18,6)→double sums rounded
# differently in the last ulp on 24% of sf0.1 rows).
_GINI_ORACLE = """
WITH o AS (
    SELECT n.n_name,
           CAST(round(o.o_totalprice * 100) AS DECIMAL(18,0)) AS xc,
           row_number() OVER (PARTITION BY n.n_name
                              ORDER BY o.o_totalprice, o.o_orderkey) AS i
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
),
g AS (
    SELECT n_name, count(*) AS n,
           sum(CAST(xc AS HUGEINT)) AS sx,
           sum(CAST(xc AS HUGEINT) * i) AS sxi
    FROM o GROUP BY n_name
)
SELECT n_name, CAST(n AS BIGINT) AS n_orders,
       round(CAST(2 * sxi - (n + 1) * sx AS DOUBLE)
             / CAST(n * sx AS DOUBLE), 6) AS gini
FROM g
"""


@query("gini_order_value_by_nation", oracle=_GINI_ORACLE)
def gini_order_value_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of order-value concentration per nation — the
    inequality metric for spend distribution. One window rank per
    nation partition + one grouped aggregation; money sums as exact
    integer cents with a deterministic (value, orderkey) tiebreak and
    a division-cleared quotient, so the only float ops are one
    int→double pair and one divide under the round(6) guard (see the
    oracle comment block)."""
    cat = Catalog(spark, sf_dir)
    o = (
        cat.orders.join(
            F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(cat.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "n_name",
            F.round(F.col("o_totalprice") * 100)
            .cast("decimal(18,0)")
            .alias("xc"),
            "o_totalprice",
            "o_orderkey",
        )
    )
    w = Window.partitionBy("n_name").orderBy("o_totalprice", "o_orderkey")
    ranked = o.withColumn("i", F.row_number().over(w))
    g = ranked.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("xc").alias("sx"),
        F.sum(F.col("xc") * F.col("i")).alias("sxi"),
    )
    nd = F.col("cnt").cast("decimal(20,0)")
    num = (
        F.lit(2).cast("decimal(20,0)") * F.col("sxi")
        - (nd + F.lit(1)) * F.col("sx")
    )
    den = nd * F.col("sx")
    return g.select(
        "n_name",
        F.col("cnt").cast("long").alias("n_orders"),
        F.round(num.cast("double") / den.cast("double"), 6).alias("gini"),
    )


# ---- Benford first-digit audit of order totals ------------------------------

_BENFORD_ORACLE = """
WITH d AS (
    SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                       1, 1) AS INTEGER) AS digit
    FROM orders WHERE o_totalprice >= 1
),
c AS (
    SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit
),
t AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM c)
SELECT digit, n,
       n / total AS observed_p,
       log10(1.0 + 1.0 / digit) AS benford_p,
       n / total - log10(1.0 + 1.0 / digit) AS deviation
FROM c, t
"""


@query("benford_first_digit_orders", oracle=_BENFORD_ORACLE)
def benford_first_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed first-digit
    frequencies against log10(1+1/d) — the fraud/synthetic-data
    smell test. Digit extraction is string slicing of the integer
    part (no float log tricks, so the bucketing is exact); one 9-row
    aggregation plus a scalar total attached by cross join of a
    1-row aggregate."""
    o = Catalog(spark, sf_dir).orders
    d = o.where(F.col("o_totalprice") >= 1).select(
        F.substring(
            F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    t = c.agg(F.sum("n").cast("double").alias("total"))
    benford_p = F.log10(1.0 + 1.0 / F.col("digit"))
    return c.crossJoin(F.broadcast(t)).select(
        "digit",
        "n",
        (F.col("n") / F.col("total")).alias("observed_p"),
        benford_p.alias("benford_p"),
        (F.col("n") / F.col("total") - benford_p).alias("deviation"),
    )


# ---- percent-of-parent revenue shares ---------------------------------------

_SHARE_ORACLE = """
WITH r AS (
    SELECT n.n_name, CAST(year(o.o_orderdate) AS INTEGER) AS yr,
           sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) AS rev
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY n.n_name, year(o.o_orderdate)
)
SELECT n_name, yr,
       CAST(round(rev, 2) AS DOUBLE) AS revenue,
       CAST(round(rev, 2) AS DOUBLE)
           / CAST(round(sum(rev) OVER (PARTITION BY n_name), 2) AS DOUBLE)
           AS share_of_nation,
       CAST(round(rev, 2) AS DOUBLE)
           / CAST(round(sum(rev) OVER (), 2) AS DOUBLE) AS share_of_total
FROM r
"""


@query("revenue_share_nation_year", oracle=_SHARE_ORACLE)
def revenue_share_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent analysis: each (nation, year) revenue cell's
    share within its nation and of the grand total — two window sums
    over the ALREADY-AGGREGATED groups-sized table (never a second
    pass over lineitem). DECIMAL revenue keeps the parent sums exact,
    so the shares are deterministic double division."""
    cat = Catalog(spark, sf_dir)
    rev = (
        cat.lineitem.join(
            cat.orders.select("o_orderkey", "o_custkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            F.broadcast(cat.customer.select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(cat.nation.select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy("n_name", F.year("o_orderdate").alias("yr"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,6)")
                * (1 - F.col("l_discount").cast("decimal(18,6)"))
            ).alias("rev")
        )
    )
    w_nation = Window.partitionBy("n_name")
    w_all = Window.partitionBy()
    # Scale-2 decimals convert to double exactly (cents < 2^53), so the
    # shares are identical-double division; the raw scale-12 sums need
    # >53 mantissa bits and their double conversion can differ by an
    # ulp between engines.
    r2 = F.round("rev", 2).cast("double")
    return rev.select(
        "n_name",
        "yr",
        r2.alias("revenue"),
        (
            r2 / F.round(F.sum("rev").over(w_nation), 2).cast("double")
        ).alias("share_of_nation"),
        (
            r2 / F.round(F.sum("rev").over(w_all), 2).cast("double")
        ).alias("share_of_total"),
    )


# ---- chi-square independence: event type × day-of-week ----------------------

_CHISQ_ORACLE = """
WITH obs AS (
    SELECT event_type, dayofweek(ts) AS dow,
           CAST(count(*) AS DOUBLE) AS o
    FROM events GROUP BY 1, 2
),
margins AS (
    SELECT event_type, dow, o,
           sum(o) OVER (PARTITION BY event_type) AS row_tot,
           sum(o) OVER (PARTITION BY dow) AS col_tot,
           sum(o) OVER () AS n
    FROM obs
)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       list_reduce(
           list(pow(o - row_tot * col_tot / n, 2) / (row_tot * col_tot / n)
                ORDER BY event_type, dow),
           (acc, x) -> acc + x
       ) AS chi2,
       CAST((count(DISTINCT event_type) - 1)
            * (count(DISTINCT dow) - 1) AS BIGINT) AS dof
FROM margins
"""


@query("chisq_event_type_dow", oracle=_CHISQ_ORACLE)
def chisq_event_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test between event type and
    day-of-week — the categorical A/B primitive next to the Welch
    t-test. One contingency aggregation (35 cells), margins as window
    sums over that tiny table, then a single fold. Every per-cell term
    is computed from exact integer counts, and the 35-term double sum
    is folded in sorted (event_type, dow) order on BOTH engines — a
    collect_list → array_sort → F.aggregate fold here, mirrored by an
    ordered list() → list_reduce in the oracle — so the statistic is
    bit-exact, not merely tolerance-close (a plain SUM() adds the
    terms in engine-dependent order)."""
    ev = Catalog(spark, sf_dir).events
    obs = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("dow")
    ).agg(F.count(F.lit(1)).cast("double").alias("o"))
    margins = obs.select(
        "event_type",
        "dow",
        "o",
        F.sum("o").over(Window.partitionBy("event_type")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("dow")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("row_tot") * F.col("col_tot") / F.col("n")
    cell = F.struct(
        F.col("event_type"),
        F.col("dow"),
        (F.pow(F.col("o") - e, F.lit(2)) / e).alias("term"),
    )
    return margins.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.aggregate(
            F.array_sort(F.collect_list(cell)),
            F.lit(0.0),
            lambda acc, c: acc + c["term"],
        ).alias("chi2"),
        (
            (F.countDistinct("event_type") - 1)
            * (F.countDistinct("dow") - 1)
        ).alias("dof"),
    )


# ---- Spearman rank correlation: part revenue vs part quantity ---------------

# Ranks are row_number with a partkey tiebreak (deterministic, no tied
# ranks), so Spearman reduces to 1 − 6·Σd²/(n(n²−1)) on exact integer
# rank differences — engine-identical without any float parity work.
_SPEARMAN_ORACLE = """
WITH pv AS (
    SELECT l_partkey,
           sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev,
           sum(l_quantity) AS qty
    FROM lineitem GROUP BY l_partkey
),
ranked AS (
    SELECT row_number() OVER (ORDER BY rev, l_partkey) AS r_rev,
           row_number() OVER (ORDER BY qty, l_partkey) AS r_qty
    FROM pv
)
SELECT CAST(count(*) AS BIGINT) AS n_parts,
       1.0 - 6.0 * sum(pow(r_rev - r_qty, 2))
           / (count(*) * (pow(count(*), 2) - 1.0)) AS spearman_rho
FROM ranked
"""


@query("spearman_parts_rev_vs_qty", oracle=_SPEARMAN_ORACLE)
def spearman_parts_rev_vs_qty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between each part's total revenue and
    total quantity — the monotone-association metric that, unlike
    Kendall's tau, needs no O(n²) inversion count: two distributed
    global ranks + one aggregation of integer rank differences.
    Revenue ranks on exact DECIMAL sums with a partkey tiebreak, so
    ranks (and hence rho) are deterministic."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    li = Catalog(spark, sf_dir).lineitem
    pv = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,6)")).alias("rev"),
        F.sum("l_quantity").alias("qty"),
    ).localCheckpoint()
    # Global ranks WITHOUT the SinglePartition window sort: each rank
    # is a distributed stable_global_index (range exchange + bounded
    # per-partition count collect + local row_number), joined back on
    # the part key — the plan that survives an arbitrary part count.
    # pin_input=False: pv is already checkpointed above — a second pin
    # per rank would copy the parts table twice more (ADVICE r13).
    r1 = R.stable_global_index(
        pv.select("l_partkey", "rev"), ["rev", "l_partkey"], out_col="i",
        pin_input=False,
    ).select("l_partkey", (F.col("i") + 1).alias("r_rev"))
    r2 = R.stable_global_index(
        pv.select("l_partkey", "qty"), ["qty", "l_partkey"], out_col="i",
        pin_input=False,
    ).select("l_partkey", (F.col("i") + 1).alias("r_qty"))
    ranked = r1.join(r2, "l_partkey")
    n = F.count(F.lit(1))
    return ranked.agg(
        n.alias("n_parts"),
        (
            1.0
            - 6.0
            * F.sum(F.pow(F.col("r_rev") - F.col("r_qty"), F.lit(2)))
            / (n * (F.pow(n, F.lit(2)) - 1.0))
        ).alias("spearman_rho"),
    )


# ---- autocorrelation function of daily revenue ------------------------------

_ACF_MAX_LAG = 7

_ACF_ORACLE = f"""
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem GROUP BY 1
),
ser AS (
    SELECT list(x ORDER BY d) AS xs,
           CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m,
           count(*) AS n
    FROM daily
),
lags AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS k)
SELECT CAST(l.k AS INTEGER) AS lag,
       list_reduce(
           list_transform(generate_series(1, CAST(s.n - l.k AS BIGINT)),
                          i -> (s.xs[i] - s.m) * (s.xs[i + l.k] - s.m)),
           (acc, t) -> acc + t
       ) / list_reduce(
           list_transform(generate_series(1, CAST(s.n AS BIGINT)),
                          i -> (s.xs[i] - s.m) * (s.xs[i] - s.m)),
           (acc, t) -> acc + t
       ) AS acf,
       CAST(s.n AS BIGINT) AS n_days
FROM ser s, lags l
ORDER BY lag
"""


@query("acf_daily_revenue", oracle=_ACF_ORACLE)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the daily-revenue series at lags
    1..7 — the seasonality detector behind the dow/hour anomaly
    baselines (a weekly cycle shows as a lag-7 peak).

    Scale posture: the series length is bounded by the CALENDAR, not
    the data (a century of days is ~36k values), so after the
    distributed daily pre-aggregation the fold runs over one bounded
    in-row array — the same bounded-domain contract as the pivot and
    histogram queries. Exactness: daily revenues are exact 2-decimal
    doubles, the mean divides an exact DECIMAL sum by the day count,
    and BOTH the lag-k covariance and the variance fold their terms in
    date order via a sequential array fold on each engine — never a
    SUM() whose accumulation order the engine picks.
    """
    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x")
    )
    ser = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("sd"),
        (
            F.sum(FN.dec("x")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.transform("sd", lambda s: s["x"]).alias("xs"), "m", "n")

    lagged = ser.select(
        "*",
        F.explode(
            F.array(*[F.lit(k) for k in range(1, _ACF_MAX_LAG + 1)])
        ).alias("k"),
    )

    def _dev(i: Column) -> Column:
        return F.element_at("xs", i.cast("int")) - F.col("m")

    num = F.aggregate(
        F.transform(
            F.sequence(F.lit(1).cast("long"), F.col("n") - F.col("k")),
            lambda i: _dev(i) * _dev(i + F.col("k")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    den = F.aggregate(
        F.transform(
            F.sequence(F.lit(1).cast("long"), F.col("n")),
            lambda i: _dev(i) * _dev(i),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    return lagged.select(
        F.col("k").cast("int").alias("lag"),
        (num / den).alias("acf"),
        F.col("n").cast("long").alias("n_days"),
    ).orderBy("lag")


# ---- Mann-Whitney U test: purchase vs click event values --------------------

_MWU_ORACLE = """
WITH f AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'click')
),
g AS (
    SELECT value,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS a_cnt,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS b_cnt
    FROM f GROUP BY value
),
c AS (
    SELECT value, a_cnt, b_cnt,
           sum(b_cnt) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) - b_cnt AS b_less
    FROM g
),
s AS (
    SELECT CAST(sum(a_cnt) AS DOUBLE) AS na,
           CAST(sum(b_cnt) AS DOUBLE) AS nb,
           sum(CAST(a_cnt AS DOUBLE)
               * (CAST(b_less AS DOUBLE) + CAST(b_cnt AS DOUBLE) / 2.0)) AS ua,
           CAST(sum((a_cnt + b_cnt) * (a_cnt + b_cnt) * (a_cnt + b_cnt)
                    - (a_cnt + b_cnt)) AS DOUBLE) AS ties
    FROM c
)
SELECT CAST(na AS BIGINT) AS n_purchase,
       CAST(nb AS BIGINT) AS n_click,
       ua AS u_purchase,
       na * nb - ua AS u_click,
       (ua - (na * nb) / 2.0)
           / sqrt(((na * nb) / 12.0)
                  * ((na + nb + 1.0)
                     - ties / ((na + nb) * (na + nb - 1.0)))) AS z
FROM s
WHERE na > 0 AND nb > 0
"""


@query("mannwhitney_purchase_click", oracle=_MWU_ORACLE)
def mannwhitney_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (rank-sum) test between purchase and click event
    values — the nonparametric sibling of `welch_ttest_purchase_click`
    with full average-rank tie handling and the normal approximation's
    tie-corrected variance.

    Shape: U is computed WITHOUT global ranks — per-value arm counts
    (one shuffle), then U_a = Σ_v a(v)·(B_less(v) + b(v)/2) where the
    cumulative B_less comes from :func:`running_totals`' distributed
    prefix sum (range partition + bounded per-partition totals collect
    + local window; never a single-partition ORDER BY window). Every
    U term is an exact multiple of 0.5 below 2^53, so the sum is
    order-independent; the z expression is pinned to the oracle's
    operation order symbol-for-symbol.
    """
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    ev = Catalog(spark, sf_dir).events.filter(
        F.col("event_type").isin("purchase", "click")
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("a_cnt"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("b_cnt"),
    )
    c = running_totals(g, ["value"], [("b_cnt", "b_cum")]).withColumn(
        "b_less", F.col("b_cum") - F.col("b_cnt")
    )
    t = F.col("a_cnt") + F.col("b_cnt")
    s = c.agg(
        F.sum("a_cnt").cast("double").alias("na"),
        F.sum("b_cnt").cast("double").alias("nb"),
        F.sum(
            F.col("a_cnt").cast("double")
            * (F.col("b_less").cast("double") + F.col("b_cnt").cast("double") / 2.0)
        ).alias("ua"),
        F.sum(t * t * t - t).cast("double").alias("ties"),
    )
    na, nb, ua, ties = F.col("na"), F.col("nb"), F.col("ua"), F.col("ties")
    return s.select(
        na.cast("long").alias("n_purchase"),
        nb.cast("long").alias("n_click"),
        ua.alias("u_purchase"),
        (na * nb - ua).alias("u_click"),
        (
            (ua - (na * nb) / F.lit(2.0))
            / F.sqrt(
                ((na * nb) / F.lit(12.0))
                * (
                    (na + nb + F.lit(1.0))
                    - ties / ((na + nb) * (na + nb - F.lit(1.0)))
                )
            )
        ).alias("z"),
    ).filter((na > 0) & (nb > 0))


# ---- leave-one-out target encoding ------------------------------------------

_LOO_ORACLE = """
WITH seg AS (
    SELECT c.c_mktsegment,
           sum(CAST(o.o_totalprice AS DECIMAL(18,6))) AS seg_sum,
           CAST(count(*) AS BIGINT) AS seg_n
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
)
SELECT o.o_orderkey, c.c_mktsegment,
       CASE WHEN s.seg_n > 1
            THEN round(CAST(s.seg_sum - CAST(o.o_totalprice AS DECIMAL(18,6))
                            AS DOUBLE)
                       / CAST(s.seg_n - 1 AS DOUBLE), 4)
       END AS loo_target_enc
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN seg s ON s.c_mktsegment = c.c_mktsegment
"""


@query("loo_target_encoding_orders", oracle=_LOO_ORACLE)
def loo_target_encoding_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of the customer market segment
    against order value — the leakage-safe categorical encoder for
    downstream models: each order's encoding is the segment mean
    EXCLUDING that order, so the feature never contains its own label.

    Shape: per-segment sums are a groups-sized aggregate broadcast
    back onto the fact rows — NOT a window partitioned by segment,
    which would funnel each category into one task (fatal under
    category skew at 100 TB). Exactness: (seg_sum − own) is an exact
    DECIMAL difference; one double division and a round(4) both
    engines perform identically; the single-order-segment guard
    matches the oracle's CASE."""
    c = Catalog(spark, sf_dir)
    oc = c.orders.join(
        F.broadcast(c.customer.select("c_custkey", "c_mktsegment")),
        F.col("o_custkey") == F.col("c_custkey"),
    ).select("o_orderkey", "o_totalprice", "c_mktsegment")
    seg = oc.groupBy("c_mktsegment").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("seg_sum"),
        F.count(F.lit(1)).alias("seg_n"),
    )
    return oc.join(F.broadcast(seg), "c_mktsegment").select(
        "o_orderkey",
        "c_mktsegment",
        F.when(
            F.col("seg_n") > 1,
            F.round(
                (
                    F.col("seg_sum")
                    - F.col("o_totalprice").cast("decimal(18,6)")
                ).cast("double")
                / (F.col("seg_n") - 1).cast("double"),
                4,
            ),
        ).alias("loo_target_enc"),
    )


# ---- cross-correlation: daily purchase vs click activity --------------------

_CCF_MAX_LAG = 3

_CCF_ORACLE = f"""
WITH daily AS (
    SELECT date_trunc('day', ts) AS d,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events GROUP BY 1
),
ser AS (
    SELECT list(x ORDER BY d) AS xs, list(y ORDER BY d) AS ys,
           count(*) AS n,
           CAST(sum(x) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mx,
           CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS my
    FROM daily
),
lags AS (SELECT unnest(generate_series(-{_CCF_MAX_LAG}, {_CCF_MAX_LAG})) AS k)
SELECT CAST(l.k AS INTEGER) AS lag,
       list_reduce(
           list_transform(
               generate_series(greatest(CAST(1 AS BIGINT), 1 - l.k),
                               least(s.n, s.n - l.k)),
               t -> (s.xs[t] - s.mx) * (s.ys[t + l.k] - s.my)
           ),
           (acc, v) -> acc + v
       ) / sqrt(
           list_reduce(
               list_transform(generate_series(1, s.n),
                              t -> (s.xs[t] - s.mx) * (s.xs[t] - s.mx)),
               (acc, v) -> acc + v
           ) * list_reduce(
               list_transform(generate_series(1, s.n),
                              t -> (s.ys[t] - s.my) * (s.ys[t] - s.my)),
               (acc, v) -> acc + v
           )
       ) AS ccf,
       CAST(s.n AS BIGINT) AS n_days
FROM ser s, lags l
ORDER BY lag
"""


@query("ccf_purchase_click_daily", oracle=_CCF_ORACLE)
def ccf_purchase_click_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between daily purchase and click
    counts at lags −3..+3 — the lead/lag detector (a peak at positive
    lag k means clicks lead purchases by k days).

    Same calendar-bounded posture as `acf_daily_revenue`: one
    distributed daily pre-agg, then in-row ordered folds. Inputs are
    integer day counts, means divide exact integer sums — every term
    is deterministic and both engines fold in date order, so the
    statistic is bit-exact."""
    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy(F.date_trunc("day", "ts").alias("d")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    ser = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x", "y"))).alias("sd"),
        F.count(F.lit(1)).alias("n"),
        (F.sum("x").cast("double") / F.count(F.lit(1)).cast("double")).alias("mx"),
        (F.sum("y").cast("double") / F.count(F.lit(1)).cast("double")).alias("my"),
    ).select(
        F.transform("sd", lambda s: s["x"].cast("double")).alias("xs"),
        F.transform("sd", lambda s: s["y"].cast("double")).alias("ys"),
        "n", "mx", "my",
    )
    lagged = ser.select(
        "*",
        F.explode(
            F.array(
                *[F.lit(k) for k in range(-_CCF_MAX_LAG, _CCF_MAX_LAG + 1)]
            )
        ).alias("k"),
    )

    def _fold(arr_terms: Column) -> Column:
        return F.aggregate(arr_terms, F.lit(0.0), lambda acc, v: acc + v)

    xs, ys = F.col("xs"), F.col("ys")
    mx, my, n, k = F.col("mx"), F.col("my"), F.col("n"), F.col("k")
    num = _fold(
        F.transform(
            F.sequence(
                F.greatest(F.lit(1).cast("long"), (F.lit(1) - k).cast("long")),
                F.least(n, n - k),
            ),
            lambda t: (F.element_at(xs, t.cast("int")) - mx)
            * (F.element_at(ys, (t + k).cast("int")) - my),
        )
    )
    varx = _fold(
        F.transform(
            F.sequence(F.lit(1).cast("long"), n),
            lambda t: (F.element_at(xs, t.cast("int")) - mx)
            * (F.element_at(xs, t.cast("int")) - mx),
        )
    )
    vary = _fold(
        F.transform(
            F.sequence(F.lit(1).cast("long"), n),
            lambda t: (F.element_at(ys, t.cast("int")) - my)
            * (F.element_at(ys, t.cast("int")) - my),
        )
    )
    return lagged.select(
        k.cast("int").alias("lag"),
        (num / F.sqrt(varx * vary)).alias("ccf"),
        n.cast("long").alias("n_days"),
    ).orderBy("lag")


# ---- CUPED variance-reduced A/B comparison ----------------------------------

_CUPED_SPLIT_TS = "2024-01-16 00:00:00"

_CUPED_ORACLE = f"""
WITH ue AS (
    SELECT user_id,
           CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT_TS}'
                    THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT_TS}'
                         AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY user_id
),
lab AS (
    SELECT *,
           CASE WHEN CAST(concat('0x', substr(md5(concat('cuped:',
                     CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 50
                THEN 'A' ELSE 'B'
           END AS arm
    FROM ue
),
g AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx
    FROM lab
),
t AS (
    SELECT CAST(n * sxy - sx * sy AS DOUBLE)
               / CAST(n * sxx - sx * sx AS DOUBLE) AS theta,
           CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mx
    FROM g
)
SELECT lab.arm, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(lab.y) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS mean_y,
       CAST(sum(lab.y) AS DOUBLE) / CAST(count(*) AS DOUBLE)
           - t.theta * (CAST(sum(lab.x) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                        - t.mx) AS mean_y_cuped,
       t.theta
FROM lab, t
GROUP BY lab.arm, t.theta, t.mx
"""


@query("cuped_ab_purchase_rate", oracle=_CUPED_ORACLE)
def cuped_ab_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng et al., WSDM 2013):
    per-user pre-period activity (first 15 days, any event) is the
    covariate, experiment-period purchase count the metric; the pooled
    theta = cov(x,y)/var(x) regresses out pre-existing behavior so
    arm means can be compared at lower variance. Arms are the stable
    md5-bucket split (`hash_split`, seed 'cuped') — growth-stable and
    oracle-mirrorable.

    Exactness: x and y are integer counts, theta's numerator/
    denominator are exact BIGINT cross-moments (n·Σxy − Σx·Σy), and
    every double op is pinned to the oracle's order. Shape: one
    per-user aggregation, a 1-row pooled-stats broadcast, one per-arm
    aggregation — two shuffles total, both map-side combined."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import hash_split

    ev = Catalog(spark, sf_dir).events
    ue = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("ts") < _CUPED_SPLIT_TS, 1).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(
            F.when(
                (F.col("ts") >= _CUPED_SPLIT_TS)
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("y"),
    )
    lab = hash_split(ue, "user_id", splits=(("A", 50), ("B", 50)), seed="cuped")
    lab = lab.withColumnRenamed("split", "arm")
    g = lab.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    t = g.select(
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("theta"),
        (F.col("sx").cast("double") / F.col("n").cast("double")).alias("mx"),
    )
    per_arm = lab.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("x").alias("asx"),
        F.sum("y").alias("asy"),
    )
    mean_y = F.col("asy").cast("double") / F.col("n_users").cast("double")
    mean_x = F.col("asx").cast("double") / F.col("n_users").cast("double")
    return per_arm.crossJoin(F.broadcast(t)).select(
        "arm",
        F.col("n_users").cast("long").alias("n_users"),
        mean_y.alias("mean_y"),
        (mean_y - F.col("theta") * (mean_x - F.col("mx"))).alias("mean_y_cuped"),
        "theta",
    )


# ---- multivariate OLS via normal equations ----------------------------------

_OLS2_ORACLE = """
WITH m AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s1,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s2,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sy,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))
                    * CAST(l_quantity AS DECIMAL(8,2))) AS DOUBLE) AS s11,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s22,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))
                    * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS s12,
           CAST(sum(CAST(l_quantity AS DECIMAL(8,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s1y,
           CAST(sum(CAST(l_discount AS DECIMAL(4,2))
                    * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS s2y
    FROM lineitem
)
SELECT CAST(n AS BIGINT) AS n_rows,
       (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
            + s2 * (s1y * s12 - s11 * s2y))
           / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
              + s2 * (s1 * s12 - s11 * s2)) AS intercept,
       (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
            + s2 * (s1 * s2y - s1y * s2))
           / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
              + s2 * (s1 * s12 - s11 * s2)) AS beta_quantity,
       (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
            + sy * (s1 * s12 - s11 * s2))
           / (n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
              + s2 * (s1 * s12 - s11 * s2)) AS beta_discount
FROM m
"""


@query("ols2_price_qty_discount", oracle=_OLS2_ORACLE)
def ols2_price_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-regressor OLS (price ~ quantity + discount) solved in closed
    form from the 3×3 normal equations via Cramer's rule — distributed
    multivariate regression as ONE aggregation pass: nine exact-DECIMAL
    moment sums (order-independent), then a fixed scalar expression
    tree both engines evaluate identically. The shape generalizes to p
    regressors as p²-ish moment columns + a driver-side solve — at
    100 TB the data pass stays a single map-side-combined aggregate.
    """
    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    # Narrow per-column decimals: quantity <= 50 (2dp after cast),
    # discount <= 0.10, price <= ~1.1e5 — products stay within both
    # engines' native decimal widths ((18,6)^2 cross-moments overflow
    # DuckDB's int64 multiplication path).
    q = F.col("l_quantity").cast("decimal(8,2)")
    dis = F.col("l_discount").cast("decimal(4,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    m = li.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(q).cast("double").alias("s1"),
        F.sum(dis).cast("double").alias("s2"),
        F.sum(y).cast("double").alias("sy"),
        F.sum(q * q).cast("double").alias("s11"),
        F.sum(dis * dis).cast("double").alias("s22"),
        F.sum(q * dis).cast("double").alias("s12"),
        F.sum(q * y).cast("double").alias("s1y"),
        F.sum(dis * y).cast("double").alias("s2y"),
    )
    n, s1, s2, sy = F.col("n"), F.col("s1"), F.col("s2"), F.col("sy")
    s11, s22, s12 = F.col("s11"), F.col("s22"), F.col("s12")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    det = (
        n * (s11 * s22 - s12 * s12)
        - s1 * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s12 - s11 * s2)
    )
    d0 = (
        sy * (s11 * s22 - s12 * s12)
        - s1 * (s1y * s22 - s12 * s2y)
        + s2 * (s1y * s12 - s11 * s2y)
    )
    d1 = (
        n * (s1y * s22 - s12 * s2y)
        - sy * (s1 * s22 - s12 * s2)
        + s2 * (s1 * s2y - s1y * s2)
    )
    d2 = (
        n * (s11 * s2y - s1y * s12)
        - s1 * (s1 * s2y - s1y * s2)
        + sy * (s1 * s12 - s11 * s2)
    )
    return m.select(
        n.cast("long").alias("n_rows"),
        (d0 / det).alias("intercept"),
        (d1 / det).alias("beta_quantity"),
        (d2 / det).alias("beta_discount"),
    )


# ---- two-sample Kolmogorov-Smirnov test --------------------------------------

# Same tie-safe shape as the Mann-Whitney query: group to per-distinct-
# value arm counts first (one shuffle), cumulative counts via the
# distributed prefix sum (never a single-partition window), then
# D = max |F_a - F_b| over the distinct values. Every ECDF step is an
# exact integer ratio, so D and the one-term asymptotic p-value are
# bit-deterministic in any engine.
_KS_ORACLE = """
WITH f AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'click')
),
g AS (
    SELECT value,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS a_cnt,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS b_cnt
    FROM f GROUP BY value
),
c AS (
    SELECT value, a_cnt, b_cnt,
           sum(a_cnt) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS a_cum,
           sum(b_cnt) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS b_cum
    FROM g
),
tot AS (
    SELECT CAST(sum(a_cnt) AS DOUBLE) AS na,
           CAST(sum(b_cnt) AS DOUBLE) AS nb
    FROM g
),
s AS (
    SELECT na, nb,
           max(abs(CAST(a_cum AS DOUBLE) / na
                   - CAST(b_cum AS DOUBLE) / nb)) AS d
    FROM c, tot
    GROUP BY na, nb
)
SELECT CAST(na AS BIGINT) AS n_purchase,
       CAST(nb AS BIGINT) AS n_click,
       d AS ks_stat,
       2.0 * exp(-2.0 * (na * nb / (na + nb)) * d * d) AS p_one_term
FROM s
WHERE na > 0 AND nb > 0
"""


@query("ks_test_purchase_click", oracle=_KS_ORACLE)
def ks_test_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between purchase and click
    event values: D = sup |ECDF_a - ECDF_b| plus the one-term
    asymptotic p-value 2·exp(-2·m·D²), m = n_a·n_b/(n_a+n_b).

    Shape: per-distinct-value arm counts (one shuffle with map-side
    combine), BOTH cumulative counts from ONE distributed prefix-sum
    pass (:func:`running_totals` — range partition + bounded
    per-partition totals collect + local window; no single-partition
    ORDER BY window anywhere), then a global max of exact integer
    ratios. The per-value ECDF differences are pure integer algebra, so
    the statistic is bit-identical in any engine."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    ev = Catalog(spark, sf_dir).events.filter(
        F.col("event_type").isin("purchase", "click")
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("a_cnt"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("b_cnt"),
    )
    c = running_totals(g, ["value"], [("a_cnt", "a_cum"), ("b_cnt", "b_cum")])
    tot = g.agg(
        F.sum("a_cnt").cast("double").alias("na"),
        F.sum("b_cnt").cast("double").alias("nb"),
    )
    s = (
        c.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.max(
                F.abs(
                    F.col("a_cum").cast("double") / F.col("na")
                    - F.col("b_cum").cast("double") / F.col("nb")
                )
            ).alias("d")
        )
    )
    na, nb, d = F.col("na"), F.col("nb"), F.col("d")
    return s.select(
        na.cast("long").alias("n_purchase"),
        nb.cast("long").alias("n_click"),
        d.alias("ks_stat"),
        (
            F.lit(2.0)
            * F.exp(F.lit(-2.0) * (na * nb / (na + nb)) * d * d)
        ).alias("p_one_term"),
    ).filter((na > 0) & (nb > 0))


# ---- Kaplan-Meier survival over session durations ----------------------------

# Survival unit: a 30-minute-gap user session. A session "dies" when its
# gap closes it (completed); sessions whose last event is within one
# hour of the corpus edge are right-CENSORED (they may still be open).
# The KM estimator S(t) = Π_{u ≤ t} (1 - d(u)/n(u)) multiplies exact
# integer ratios; float multiplication is commutative but NOT
# associative, so any two engines that group the product differently
# can diverge in the last ulp — and the earlier round(·, 6) answer was
# flaky at rounding boundaries (ADVICE r7). The fix is the Holt recipe:
# after the distributed duration-grouped agg, the curve is a SMALL
# calendar-bounded series (one row per distinct session duration), so
# both engines run the SAME strictly-sequential left-to-right product —
# Spark as one JVM-side `aggregate` fold over the sorted array, DuckDB
# as a recursive CTE — with identical parenthesization
# surv' = surv * (1 - d/n_risk). The doubles are bit-equal, so the
# output needs NO rounding at all.
_KM_ORACLE = """
WITH RECURSIVE flagged AS (
    SELECT
        user_id, event_id, CAST(ts AS TIMESTAMP) AS ts_us,
        CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
               OR epoch_us(CAST(ts AS TIMESTAMP))
                  - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w) > 30 * 60 * 1000000
             THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), sessions AS (
    SELECT user_id, event_id, ts_us,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS session_id
    FROM flagged
), sess AS (
    SELECT user_id, session_id,
           epoch_us(min(ts_us)) AS s_us, epoch_us(max(ts_us)) AS e_us
    FROM sessions GROUP BY user_id, session_id
), m AS (
    SELECT max(epoch_us(CAST(ts AS TIMESTAMP))) AS mx FROM events
), du AS (
    SELECT (e_us - s_us) // 60000000 AS dur,
           CASE WHEN e_us <= mx - CAST(3600 AS BIGINT) * 1000000
                THEN 1 ELSE 0 END AS completed
    FROM sess, m
), g AS (
    SELECT dur, CAST(count(*) AS BIGINT) AS c,
           CAST(sum(completed) AS BIGINT) AS d
    FROM du GROUP BY dur
), idx AS (
    SELECT CAST(row_number() OVER (ORDER BY dur) AS BIGINT) AS i, dur, c, d
    FROM g
), tot AS (
    SELECT CAST(sum(c) AS BIGINT) AS n_tot FROM g
), km(i, dur, n_risk, d, c_cum, surv) AS (
    SELECT r.i, r.dur, t.n_tot, r.d, r.c,
           1.0 * (1 - CAST(r.d AS DOUBLE) / CAST(t.n_tot AS DOUBLE))
    FROM idx r CROSS JOIN tot t WHERE r.i = 1
    UNION ALL
    SELECT r.i, r.dur, t.n_tot - km.c_cum, r.d, km.c_cum + r.c,
           km.surv * (1 - CAST(r.d AS DOUBLE)
                      / CAST(t.n_tot - km.c_cum AS DOUBLE))
    FROM km JOIN idx r ON r.i = km.i + 1 CROSS JOIN tot t
)
SELECT dur AS duration_minutes, n_risk AS n_at_risk, d AS n_events,
       surv AS survival
FROM km WHERE d > 0
"""


@query("km_survival_session_duration", oracle=_KM_ORACLE)
def km_survival_session_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of session duration (minutes) with
    right-censoring at the corpus edge: at each duration with ≥1
    completed session, the at-risk count, event count, and the running
    product survival estimate.

    Shape: sessionization (one user_id shuffle shared by its windows)
    and a duration-keyed count agg carry all the data-sized work; the
    curve itself is calendar-bounded (one row per distinct duration
    minute), so the at-risk counts and the survival product run as ONE
    JVM-side ``aggregate`` fold over the sorted array — the Holt
    recipe: strictly sequential, parenthesization pinned to the
    oracle's recursive CTE, doubles bit-equal across engines, no
    rounding anywhere (the previous round(·, 6) was boundary-flaky,
    ADVICE r7)."""
    from climate_anomaly_bigdata_pipeline_spark.operators import timeseries as TS

    ev = Catalog(spark, sf_dir).events
    sess_rows = TS.sessionize(
        ev, "ts", "user_id", gap_minutes=30, tiebreak_col="event_id"
    )
    sess = sess_rows.groupBy("user_id", "session_id").agg(
        F.unix_micros(F.min("ts")).alias("s_us"),
        F.unix_micros(F.max("ts")).alias("e_us"),
    )
    mx = ev.agg(F.max(F.unix_micros("ts")).alias("mx"))
    du = sess.crossJoin(F.broadcast(mx)).select(
        F.expr("(e_us - s_us) div 60000000").alias("dur"),
        F.when(
            # one literal long: 3600 * 1_000_000 as two int lits would
            # overflow INT32 and wrap negative
            F.col("e_us") <= F.col("mx") - F.lit(3_600_000_000), 1
        )
        .otherwise(0)
        .alias("completed"),
    )
    g = du.groupBy("dur").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("completed").cast("long").alias("d"),
    )
    ser = g.agg(
        F.array_sort(F.collect_list(F.struct("dur", "c", "d"))).alias("arr"),
        F.sum("c").cast("long").alias("n_tot"),
    )
    row_t = "array<struct<dur:bigint,n_risk:bigint,d:bigint,surv:double>>"
    init = F.struct(
        F.lit(0).cast("long").alias("c_cum"),
        F.lit(1.0).alias("surv"),
        F.array().cast(row_t).alias("rows"),
    )

    def step(acc, s):
        # n_risk BEFORE this duration's sessions leave the risk set;
        # parenthesization mirrors the oracle's recursive CTE exactly.
        n_risk = F.col("n_tot") - acc["c_cum"]
        surv = acc["surv"] * (
            F.lit(1.0) - s["d"].cast("double") / n_risk.cast("double")
        )
        row = F.struct(
            s["dur"].alias("dur"),
            n_risk.alias("n_risk"),
            s["d"].alias("d"),
            surv.alias("surv"),
        )
        return F.struct(
            (acc["c_cum"] + s["c"]).alias("c_cum"),
            surv.alias("surv"),
            F.concat(acc["rows"], F.array(row)).alias("rows"),
        )

    # localCheckpoint (1 row): keeps CollapseProject from inlining the
    # whole interpreted fold into every exploded output column.
    state = ser.select(
        F.aggregate(F.col("arr"), init, step)["rows"].alias("rows")
    ).localCheckpoint()
    r = F.col("r")
    return (
        state.select(F.explode("rows").alias("r"))
        .filter(r["d"] > 0)
        .select(
            r["dur"].alias("duration_minutes"),
            r["n_risk"].alias("n_at_risk"),
            r["d"].alias("n_events"),
            r["surv"].alias("survival"),
        )
    )


# ---- Lorenz curve of order value ---------------------------------------------

# Decile membership uses the explicit floor((rank-1)·10/N) formula on
# BOTH engines (ntile's remainder placement is engine-defined; the
# formula is not). Ranks come from the distributed global index; money
# sums ride DECIMAL so every cumulative share is a ratio of exact
# decimals evaluated identically.
_LORENZ_ORACLE = """
WITH r AS (
    SELECT CAST(o_totalprice AS DECIMAL(18,6)) AS x,
           row_number() OVER (ORDER BY o_totalprice, o_orderkey) AS rn,
           count(*) OVER () AS n
    FROM orders
),
d AS (
    SELECT CAST(((rn - 1) * 10) // n AS BIGINT) + 1 AS decile, x FROM r
),
g AS (
    SELECT decile, CAST(count(*) AS BIGINT) AS n_orders, sum(x) AS rev
    FROM d GROUP BY decile
),
t AS (SELECT sum(x) AS total FROM r)
SELECT decile, n_orders,
       CAST(rev AS DOUBLE) AS decile_revenue,
       CAST(sum(rev) OVER (
           ORDER BY decile ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share
FROM g, t
"""


@query("lorenz_curve_order_value", oracle=_LORENZ_ORACLE)
def lorenz_curve_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz curve of order-value concentration: for each value decile
    (ascending), the cumulative share of total revenue — the curve
    whose area complement is `gini_order_value_by_nation`'s scalar.

    Shape — WEIGHTED points, never the order rows (the sf10 spill fix):
    per-rank work only depends on the VALUE, and equal values occupy
    contiguous ranks whichever tiebreak order the oracle's row_number
    picks, so per-decile (count, sum) is invariant to tie placement.
    The fact therefore pre-aggregates to distinct (value-cents, count)
    — one map-side-combined hash exchange of 2 longs/row — and only
    THAT table takes the sampled range exchange
    (:func:`running_totals` prefix-sum recipe, which also returns N
    from its own per-partition collect). Each weighted point then
    splits its count across the ≤2 deciles its rank interval overlaps
    with pure integer arithmetic (floor/ceil boundary formulas, exact
    on both engines), and the final cumulative share is a 10-row
    window. Versus indexing the raw fact, the range exchange and its
    checkpoint pin shrink from the full order row to the distinct-
    value histogram — at sf10 the old plan spilled (44.4 s, 13×
    linear-family widest); money rides integer cents → DECIMAL, cast
    to double only at the output boundary, so every share is a ratio
    of exact decimals evaluated identically to the oracle."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    o = Catalog(spark, sf_dir).orders.select(
        (F.col("o_totalprice").cast("decimal(18,6)") * 100)
        .cast("long")
        .alias("cents")
    )
    g0 = o.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    rt, (n,) = running_totals(
        g0, ["cents"], [("cnt", "cum")], return_totals=True
    )
    # 0-based rank interval [s, e] of this value's cnt orders; decile
    # index k = floor(r*10/n) ⇔ r ∈ [ceil(k·n/10), ceil((k+1)·n/10)−1].
    pts = rt.select(
        "cents",
        "cnt",
        (F.col("cum") - F.col("cnt")).alias("s"),
        (F.col("cum") - 1).alias("e"),
    )
    spread = pts.select(
        "cents",
        "s",
        "e",
        F.explode(
            F.sequence(
                F.expr(f"(s * 10) div {n}"), F.expr(f"(e * 10) div {n}")
            )
        ).alias("k"),
    ).select(
        "cents",
        (F.col("k") + 1).alias("decile"),
        (
            F.least(F.col("e"), F.expr(f"((k + 1) * {n} + 9) div 10 - 1"))
            - F.greatest(F.col("s"), F.expr(f"(k * {n} + 9) div 10"))
            + 1
        ).alias("m"),
    )
    g = spread.groupBy("decile").agg(
        F.sum("m").cast("long").alias("n_orders"),
        F.sum(
            F.col("m").cast("decimal(19,0)")
            * F.col("cents").cast("decimal(19,0)")
        ).alias("rev_cents"),
    )
    tot = g.agg(F.sum("rev_cents").alias("total_cents"))
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        g.crossJoin(F.broadcast(tot))
        .select(
            "decile", "n_orders",
            (F.col("rev_cents") / 100).cast("double").alias("decile_revenue"),
            (
                (F.sum("rev_cents").over(w) / 100).cast("double")
                / (F.col("total_cents") / 100).cast("double")
            ).alias("cum_share"),
        )
    )


# ---- two-sample Cramér-von Mises test ----------------------------------------

# T = (n_a·n_b/N²) · Σ_pooled (F_a − F_b)², summed over every pooled
# observation (ties enter with their multiplicity). With
# D_k = cum_a(k)·n_b − cum_b(k)·n_a (an exact integer), the statistic
# is T = Σ_k w_k·D_k² / (n_a·n_b·N²): the numerator is a pure integer
# sum — order-independent, no rounding anywhere — carried as
# DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) because w·D² approaches
# 2^63 already at sf0.1 scale. EVERY multiply is lifted to the wide
# type first (ADVICE r7: a LONG intermediate a_cum·n_b wraps silently
# past 2^63 in Spark's non-ANSI mode while DuckDB's BIGINT errors —
# the two engines would diverge). Exactness bound: the 38-digit carrier
# holds while Σ w·D² < 10^38 (arms up to ~10^8 rows each); past that
# Spark yields NULL and DuckDB raises — loud on both engines, never a
# silently wrong number. The division happens once, on identical
# integers, so the double is bit-equal across engines.
_CVM_ORACLE = """
WITH f AS (
    SELECT event_type, value FROM events
    WHERE event_type IN ('purchase', 'click')
),
g AS (
    SELECT value,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS a_cnt,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS b_cnt
    FROM f GROUP BY value
),
c AS (
    SELECT value, a_cnt, b_cnt,
           sum(a_cnt) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS a_cum,
           sum(b_cnt) OVER (
               ORDER BY value
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS b_cum
    FROM g
),
tot AS (
    SELECT CAST(sum(a_cnt) AS BIGINT) AS na,
           CAST(sum(b_cnt) AS BIGINT) AS nb
    FROM g
),
s AS (
    SELECT na, nb,
           sum(CAST(a_cnt + b_cnt AS HUGEINT)
               * (CAST(a_cum AS HUGEINT) * CAST(nb AS HUGEINT)
                  - CAST(b_cum AS HUGEINT) * CAST(na AS HUGEINT))
               * (CAST(a_cum AS HUGEINT) * CAST(nb AS HUGEINT)
                  - CAST(b_cum AS HUGEINT) * CAST(na AS HUGEINT)))
               AS num
    FROM c, tot
    GROUP BY na, nb
)
SELECT na AS n_purchase, nb AS n_click,
       CAST(num AS DOUBLE)
           / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
              * CAST(na + nb AS DOUBLE) * CAST(na + nb AS DOUBLE))
           AS cvm_stat
FROM s
WHERE na > 0 AND nb > 0
"""


@query("cvm_test_purchase_click", oracle=_CVM_ORACLE)
def cvm_test_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér-von Mises statistic between purchase and click
    event values — the integrated-squared-ECDF-gap companion to
    `ks_test_purchase_click`'s sup-gap (CvM weights the whole
    distribution, KS only the worst point).

    Shape: identical to the KS query — per-distinct-value arm counts,
    both cumulative counts from one :func:`running_totals` pass — plus
    ONE exact-integer aggregation: the numerator sums
    w·(cum_a·n_b − cum_b·n_a)² entirely in DECIMAL(38,0) — operands
    lifted BEFORE the multiplies, so no 64-bit intermediate can wrap —
    exact up to ~10^8 rows per arm and loudly NULL/error (Spark/DuckDB)
    beyond, never silently wrong (the KS max was already exact; here
    even the SUM is)."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    ev = Catalog(spark, sf_dir).events.filter(
        F.col("event_type").isin("purchase", "click")
    )
    g = ev.groupBy("value").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("a_cnt"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("b_cnt"),
    )
    c = running_totals(g, ["value"], [("a_cnt", "a_cum"), ("b_cnt", "b_cum")])
    tot = g.agg(
        F.sum("a_cnt").cast("long").alias("na"),
        F.sum("b_cnt").cast("long").alias("nb"),
    )
    # Every operand is lifted to DECIMAL(38,0) BEFORE any multiply: the
    # LONG intermediate a_cum*nb can exceed 2^63 at large scale factors
    # and Spark's non-ANSI mode would wrap silently (ADVICE r7 medium).
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    d = dec("a_cum") * dec("nb") - dec("b_cum") * dec("na")
    s = (
        c.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(
            F.sum(
                (F.col("a_cnt") + F.col("b_cnt")).cast("decimal(38,0)") * d * d
            ).alias("num")
        )
    )
    na, nb = F.col("na"), F.col("nb")
    return s.select(
        na.alias("n_purchase"),
        nb.alias("n_click"),
        (
            F.col("num").cast("double")
            / (
                na.cast("double") * nb.cast("double")
                * (na + nb).cast("double") * (na + nb).cast("double")
            )
        ).alias("cvm_stat"),
    ).filter((na > 0) & (nb > 0))


# ---- Herfindahl-Hirschman supplier concentration ------------------------------

# HHI = Σ_i share_i² per nation, with share_i = rev_i / total. Computed
# as Σ rev_i² / total² over r4 = rev·10⁴ — an exact INTEGER (price has
# 2 decimals, discount 2, so revenue has at most 4), cast to
# DECIMAL(38,0) whose square (≤1e26) and sums stay exact in both
# engines; the 10⁴ scaling cancels between numerator and denominator
# and the one double division happens on identical integers — the
# rounding-free recipe of the CvM numerator. (A direct DECIMAL(38,12)
# square overflows DuckDB's 38-digit multiply.)
_HHI_ORACLE = """
WITH rev AS (
    SELECT n.n_name, l.l_suppkey,
           sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l.l_discount AS DECIMAL(18,6)))) AS r
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name, l.l_suppkey
),
r4 AS (
    SELECT n_name, CAST(r * 10000 AS DECIMAL(38,0)) AS r4 FROM rev
),
agg AS (
    SELECT n_name,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           sum(r4 * r4) AS sq,
           sum(r4) AS tot
    FROM r4 GROUP BY n_name
)
SELECT n_name, n_suppliers,
       CAST(sq AS DOUBLE)
           / (CAST(tot AS DOUBLE) * CAST(tot AS DOUBLE)) AS hhi
FROM agg
"""


@query("hhi_supplier_concentration", oracle=_HHI_ORACLE)
def hhi_supplier_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman index of supplier revenue concentration per
    nation (1/n_suppliers = perfectly even, 1 = monopoly) — the market-
    concentration audit, computed as Σrev²/ (Σrev)² so both sums stay
    exact DECIMAL and the statistic needs no rounding. Two grouped
    aggregations (supplier revenue, then nation roll-up) with the
    dimension joins broadcast."""
    c = Catalog(spark, sf_dir)
    li = c.lineitem.select(
        "l_suppkey",
        (
            F.col("l_extendedprice").cast("decimal(18,6)")
            * (F.lit(1) - F.col("l_discount").cast("decimal(18,6)"))
        ).alias("x"),
    )
    rev = (
        li.join(
            F.broadcast(
                c.supplier.select("s_suppkey", "s_nationkey").join(
                    F.broadcast(c.nation.select("n_nationkey", "n_name")),
                    F.col("s_nationkey") == F.col("n_nationkey"),
                )
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("n_name", "l_suppkey")
        .agg(F.sum("x").alias("r"))
    )
    # r*10**4 is integer-valued, so Spark's precision-loss scale cut on
    # the (38,12)*int product drops only zero digits — the cast to
    # DECIMAL(38,0) is exact.
    r4 = (F.col("r") * F.lit(10000)).cast("decimal(38,0)")
    agg = rev.select("n_name", r4.alias("r4")).groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum(F.col("r4") * F.col("r4")).alias("sq"),
        F.sum("r4").alias("tot"),
    )
    return agg.select(
        "n_name", "n_suppliers",
        (
            F.col("sq").cast("double")
            / (F.col("tot").cast("double") * F.col("tot").cast("double"))
        ).alias("hhi"),
    )


# ---- Mann-Kendall trend test over daily revenue --------------------------------

# S = Σ_{i<j} sign(x_j − x_i) over the date-ordered daily series: a pure
# INTEGER, order-independent, so the distributed SUM needs no float
# discipline at all. The variance's 18× numerator
# var18 = n(n−1)(2n+5) − Σ_g t_g(t_g−1)(2t_g+5) is likewise integer
# (tie groups are exact double-equality groups — both engines see
# bit-identical daily values, see the ACF note). The ONE float op is
# z = (S ∓ 1)/sqrt(var18/18), computed from identical integers with
# identical parenthesization → bit-equal. The pair join is
# calendar-bounded (n days ~ thousands for a century), the same
# bounded-series posture as ACF/Holt — the data-sized work is only the
# daily pre-aggregation.
_MANN_KENDALL_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem GROUP BY 1
),
s AS (
    SELECT CAST(coalesce(sum(
               CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END), 0) AS BIGINT)
               AS s_stat
    FROM daily a JOIN daily b ON a.d < b.d
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
ties AS (
    SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
    FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x) g
),
v AS (
    SELECT n, s_stat,
           n * (n - 1) * (2 * n + 5) - tie_term AS var18
    FROM nn, s, ties
)
SELECT n AS n_days, s_stat, var18,
       CASE WHEN var18 <= 0 THEN 0.0
            WHEN s_stat > 0
                THEN (CAST(s_stat AS DOUBLE) - 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            WHEN s_stat < 0
                THEN (CAST(s_stat AS DOUBLE) + 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_stat
FROM v
"""


@query("mann_kendall_trend_daily", oracle=_MANN_KENDALL_ORACLE)
def mann_kendall_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotonic-trend test on the daily revenue series:
    the nonparametric companion to `linreg_price_by_qty`'s parametric
    slope and `acf_daily_revenue`'s seasonality scan. Outputs n, the
    exact integer S and 18·Var(S), and the tie-corrected z.

    Shape: distributed daily pre-agg carries the data-sized work; the
    pair join runs over the calendar-bounded series (broadcast
    nested-loop on a ~thousands-row side — the declared bounded-side
    posture, same as ACF's in-row folds). S is an integer sum, so no
    accumulation-order discipline is needed anywhere except the final
    z division, which both engines compute from identical integers."""
    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x")
    ).localCheckpoint()  # reused 3×: pairs (both sides), count, ties
    a, b = daily.alias("a"), daily.alias("b")
    s = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("s_stat")
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t = F.col("t")
    ties = (
        daily.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("long")
            .alias("tie_term")
        )
    )
    v = (
        nn.crossJoin(s)
        .crossJoin(ties)
        .select(
            "n",
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).alias("var18"),
        )
    )
    sd, var18 = F.col("s_stat").cast("double"), F.col("var18")
    denom = F.sqrt(var18.cast("double") / F.lit(18.0))
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "var18",
        F.when(var18 <= 0, F.lit(0.0))
        .when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / denom)
        .when(F.col("s_stat") < 0, (sd + F.lit(1.0)) / denom)
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


# ---- CUSUM change-point detection over daily revenue ---------------------------

# Mean-shift change point via the CUSUM peak, kept EXACT by clearing
# the mean's division: with prefix P_i (cents) and total T over n days,
# the classic S_i = P_i − i·T/n is replaced by the integer
# D_i = n·P_i − i·T = 18-digit-safe in DECIMAL(38,0)/HUGEINT; the
# change point is argmax |D_i| (ties → earliest day). The prefix sum is
# the distributed running_totals recipe, which sums a column of 1s for
# the day index in the same pass — never a single-partition window;
# the series itself is calendar-bounded, the argmax is a 1-row ordered
# limit.
_CUSUM_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) * 100
                AS BIGINT) AS c
    FROM lineitem GROUP BY 1
),
w AS (
    SELECT d,
           CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS i,
           CAST(sum(c) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS HUGEINT) AS pre
    FROM daily
),
tot AS (
    SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(c) AS HUGEINT) AS total
    FROM daily
),
t AS (SELECT d, n, n * pre - i * total AS di FROM w, tot)
SELECT d AS change_day,
       CAST(n AS BIGINT) AS n_days,
       CAST(abs(di) AS DOUBLE) AS cusum_peak,
       CAST(CASE WHEN di > 0 THEN 1 WHEN di < 0 THEN -1 ELSE 0 END
            AS BIGINT) AS drift_sign
FROM t ORDER BY abs(di) DESC, d LIMIT 1
"""


@query("cusum_changepoint_daily", oracle=_CUSUM_ORACLE)
def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily revenue: the day where the
    cumulative deviation from the global mean peaks — the mean-shift
    locator that complements `mean_shift_scores`' per-window z test.
    All arithmetic is exact integer cents with the mean's division
    cleared (D_i = n·P_i − i·T), so the argmax and the peak are
    bit-equal across engines; only the reported peak is cast to double
    at the very end."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    # Pin the fact-sized daily aggregation once — it feeds the range
    # scan (sampling and exchange) and the (n, total) aggregate.
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        (F.round(F.sum(FN.revenue_expr()), 2) * 100)
        .cast("long")
        .alias("c")
    ).localCheckpoint()
    pre = running_totals(
        daily.withColumn("i", F.lit(1)),
        ["d"],
        [("c", "pre"), ("i", "i")],
        pin_input=False,
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("total"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    t = pre.crossJoin(F.broadcast(tot)).select(
        "d",
        "n",
        (
            dec("n") * dec("pre") - dec("i") * dec("total")
        ).alias("di"),
    )
    return (
        t.orderBy(F.abs(F.col("di")).desc(), F.col("d"))
        .limit(1)
        .select(
            F.col("d").alias("change_day"),
            F.col("n").cast("long").alias("n_days"),
            F.abs(F.col("di")).cast("double").alias("cusum_peak"),
            F.when(F.col("di") > 0, 1)
            .when(F.col("di") < 0, -1)
            .otherwise(0)
            .cast("long")
            .alias("drift_sign"),
        )
    )


# ---- Kruskal-Wallis k-sample rank test over event values -----------------------

# The k-sample generalization of `mannwhitney_purchase_click`: are the
# event-value distributions of the k event types drawn from one
# population? Ranks stay INTEGER end-to-end by carrying twice the
# midrank (2·avgrank = 2·S_v + t_v + 1 for a value with S_v strictly
# smaller rows and tie count t_v), so per-group rank sums T2_g = 2·R_g
# are exact longs; the only float work is the per-group term
# T2_g²/n_g (computed from integers, bit-identical in both engines)
# folded over the event_type-sorted group list with pinned order (the
# ccf/list_reduce parity recipe), and the final H algebra with pinned
# parenthesization. Tie correction Σ(t³−t) rides DECIMAL(38,0)/HUGEINT
# because N³ overflows a long past N ≈ 2·10⁶.
_KW_ORACLE = """
WITH ev AS (
    SELECT event_type, value FROM events WHERE value IS NOT NULL
),
vc AS (SELECT value, CAST(count(*) AS BIGINT) AS t FROM ev GROUP BY value),
pre AS (SELECT value, t, sum(t) OVER (ORDER BY value) AS cum FROM vc),
rankmap AS (SELECT value, CAST(2 * cum - t + 1 AS BIGINT) AS tr FROM pre),
gv AS (
    SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
    FROM ev GROUP BY 1, 2
),
grp AS (
    SELECT event_type, CAST(sum(c) AS BIGINT) AS n_g,
           CAST(sum(c * tr) AS BIGINT) AS t2
    FROM gv JOIN rankmap USING (value) GROUP BY event_type
),
folded AS (
    SELECT list_reduce(
               list(CAST(t2 AS DOUBLE) * CAST(t2 AS DOUBLE)
                    / CAST(n_g AS DOUBLE) ORDER BY event_type),
               (acc, x) -> acc + x
           ) AS ssum,
           CAST(count(*) AS BIGINT) AS k_groups
    FROM grp
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM ev),
ties AS (
    SELECT CAST(coalesce(sum(
               CAST(t AS HUGEINT) * (t - 1) * (t + 1)), 0) AS HUGEINT) AS tie3
    FROM vc
)
SELECT n_total, k_groups,
       3.0 * ssum / (CAST(n_total AS DOUBLE) * (CAST(n_total AS DOUBLE) + 1.0))
           - 3.0 * (CAST(n_total AS DOUBLE) + 1.0) AS h_stat,
       CASE WHEN 1.0 - CAST(tie3 AS DOUBLE)
                     / CAST(CAST(n_total AS HUGEINT) * n_total * n_total
                            - n_total AS DOUBLE) > 0
            THEN (3.0 * ssum / (CAST(n_total AS DOUBLE)
                                * (CAST(n_total AS DOUBLE) + 1.0))
                  - 3.0 * (CAST(n_total AS DOUBLE) + 1.0))
                 / (1.0 - CAST(tie3 AS DOUBLE)
                          / CAST(CAST(n_total AS HUGEINT) * n_total * n_total
                                 - n_total AS DOUBLE))
            ELSE 0.0 END AS h_tie_corrected
FROM folded, tot, ties
"""


@query("kruskal_wallis_event_values", oracle=_KW_ORACLE)
def kruskal_wallis_event_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test across the k event types' value
    distributions — the k-sample companion to the Mann-Whitney pair
    test. Twice-midranks keep every rank sum an exact long; the
    per-group terms fold in event_type order (pinned, both engines);
    tie correction rides DECIMAL(38,0)/HUGEINT.

    Shape: the data-sized work is two grouped counts and one
    value-keyed equi-join (rank map onto per-group value counts); the
    global rank prefix is the distributed running_totals recipe —
    never a single-partition window. The fold is k-sized (k = event
    types)."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    ev = (
        Catalog(spark, sf_dir)
        .events.select("event_type", "value")
        .filter(F.col("value").isNotNull())
    )
    vc = ev.groupBy("value").agg(F.count(F.lit(1)).cast("long").alias("t"))
    pre = running_totals(vc, ["value"], [("t", "cum")])
    rankmap = pre.select(
        "value",
        (2 * F.col("cum") - F.col("t") + 1).cast("long").alias("tr"),
    )
    gv = ev.groupBy("event_type", "value").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grp = (
        gv.join(rankmap, "value")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("tr")).cast("long").alias("t2"),
        )
    )
    t2d, ngd = F.col("t2").cast("double"), F.col("n_g").cast("double")
    folded = (
        grp.select("event_type", (t2d * t2d / ngd).alias("term"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct("event_type", "term"))
            ).alias("lt"),
            F.count(F.lit(1)).cast("long").alias("k_groups"),
        )
        .select(
            F.aggregate(
                F.transform("lt", lambda s: s["term"]),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("ssum"),
            "k_groups",
        )
    )
    tot = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    tdec = F.col("t").cast("decimal(38,0)")
    ties = vc.agg(
        F.coalesce(
            F.sum(tdec * (F.col("t") - 1) * (F.col("t") + 1)), F.lit(0)
        )
        .cast("decimal(38,0)")
        .alias("tie3")
    )
    j = folded.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(ties))
    nd = F.col("n_total").cast("double")
    h = F.lit(3.0) * F.col("ssum") / (nd * (nd + F.lit(1.0))) - F.lit(
        3.0
    ) * (nd + F.lit(1.0))
    nn = F.col("n_total").cast("decimal(38,0)")
    denom3 = (nn * nn * nn - nn).cast("double")
    cfac = F.lit(1.0) - F.col("tie3").cast("double") / denom3
    return j.select(
        "n_total",
        "k_groups",
        h.alias("h_stat"),
        F.when(cfac > 0, h / cfac).otherwise(F.lit(0.0)).alias(
            "h_tie_corrected"
        ),
    )


# ---- Theil-Sen robust slope of daily revenue ------------------------------------

# Median of the n(n−1)/2 pairwise slopes over the date-ordered daily
# series — the robust companion to `linreg_price_by_qty`'s OLS slope
# and `mann_kendall_trend_daily`'s trend sign (the classic pairing:
# MK detects, Theil-Sen sizes). Every slope is one IEEE subtraction
# and division on bit-identical inputs, the median picks elements by
# a pinned (slope, da, db) order, and the two-middle average is a
# 2-element sum — all bit-equal across engines. The pair join is
# calendar-bounded (same posture as Mann-Kendall: ~3M pairs at ANY
# scale factor, because the calendar doesn't grow with data volume);
# the median selection uses the distributed stable_global_index, not
# a single-partition row_number window.
_THEIL_SEN_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem GROUP BY 1
),
pairs AS (
    SELECT a.d AS da, b.d AS db,
           (b.x - a.x) / CAST(date_diff('day', a.d, b.d) AS DOUBLE) AS slope
    FROM daily a JOIN daily b ON a.d < b.d
),
idx AS (
    SELECT slope, row_number() OVER (ORDER BY slope, da, db) AS rn
    FROM pairs
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
np AS (
    SELECT CAST(n_days * (n_days - 1) / 2 AS BIGINT) AS n_pairs FROM nn
),
mid AS (
    SELECT avg(i.slope) AS theil_sen_slope
    FROM idx i, np
    WHERE i.rn = (np.n_pairs + 1) // 2 OR i.rn = (np.n_pairs + 2) // 2
)
SELECT nn.n_days, np.n_pairs, mid.theil_sen_slope
FROM nn, np, mid
"""


@query("theil_sen_slope_daily", oracle=_THEIL_SEN_ORACLE)
def theil_sen_slope_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen estimator of the daily-revenue trend: the median of
    all pairwise slopes. Robust to outlier days (up to ~29%
    contamination), unlike the OLS slope. Median selection is exact:
    a distributed global index over (slope, da, db) picks the one or
    two middle elements; n_pairs derives from n_days in closed form
    (no second pass over the pairs)."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        stable_global_index,
    )

    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = (
        li.groupBy(F.date_trunc("day", "l_shipdate").alias("d"))
        .agg(F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x"))
        .localCheckpoint()  # reused: both pair sides + the day count
    )
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).select(
        F.col("a.d").alias("da"),
        F.col("b.d").alias("db"),
        (
            (F.col("b.x") - F.col("a.x"))
            / F.datediff(F.col("b.d"), F.col("a.d")).cast("double")
        ).alias("slope"),
    )
    # stable_global_index pins its input before the range-boundary
    # sampling pass, so the ~3M-pair nested-loop expansion above is
    # evaluated exactly once (guide §2.4).
    idx = stable_global_index(pairs, ["slope", "da", "db"], out_col="rn0")
    sc = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days")).select(
        "n_days",
        (F.col("n_days") * (F.col("n_days") - 1) / 2)
        .cast("long")
        .alias("n_pairs"),
    )
    mid = (
        idx.crossJoin(F.broadcast(sc))
        .filter(
            (F.col("rn0") + 1 == F.expr("(n_pairs + 1) div 2"))
            | (F.col("rn0") + 1 == F.expr("(n_pairs + 2) div 2"))
        )
        .agg(F.avg("slope").alias("theil_sen_slope"))
    )
    return sc.crossJoin(mid).select("n_days", "n_pairs", "theil_sen_slope")


# ---- Kendall tau-b between daily purchase and click counts ----------------------

# Rank correlation of the two daily event series: S = Σ_{i<j}
# sign(Δx)·sign(Δy) plus the tie-pair counts n1 = Σ t(t−1)/2 per
# x-value and n2 per y-value — ALL integers over the calendar-bounded
# pair join, so the only float op is the final tau-b division,
# computed from identical longs in both engines.
_KENDALL_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', ts) AS d,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS x,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS y
    FROM events GROUP BY 1
),
s AS (
    SELECT CAST(coalesce(sum(
               (CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
                     ELSE 0 END)
               * (CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1
                       ELSE 0 END)), 0) AS BIGINT) AS s_stat
    FROM daily a JOIN daily b ON a.d < b.d
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM daily),
n0c AS (SELECT CAST(n_days * (n_days - 1) / 2 AS BIGINT) AS n0 FROM nn),
n1c AS (
    SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n1
    FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY x) g
),
n2c AS (
    SELECT CAST(coalesce(sum(t * (t - 1) / 2), 0) AS BIGINT) AS n2
    FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY y) g
)
SELECT n_days, s_stat, n0, n1, n2,
       CASE WHEN n0 > n1 AND n0 > n2
            THEN CAST(s_stat AS DOUBLE)
                 / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
            ELSE 0.0 END AS tau_b
FROM nn, s, n0c, n1c, n2c
"""


@query("kendall_tau_purchase_click_daily", oracle=_KENDALL_ORACLE)
def kendall_tau_purchase_click_daily(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall tau-b rank correlation between the daily purchase and
    click counts — the tie-robust companion to
    `spearman_parts_rev_vs_qty` (Spearman) and
    `ccf_purchase_click_daily` (Pearson at lags). Integer-exact S and
    tie counts; one final float division.

    Shape: distributed daily pre-agg; the pair join is
    calendar-bounded (broadcast nested-loop over ~thousands of days,
    the declared bounded-side posture shared with Mann-Kendall)."""
    ev = Catalog(spark, sf_dir).events
    daily = (
        ev.groupBy(F.date_trunc("day", "ts").alias("d"))
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .localCheckpoint()  # reused 4x: pair sides, count, tie groups
    )
    a, b = daily.alias("a"), daily.alias("b")
    sgn_x = (
        F.when(F.col("b.x") > F.col("a.x"), 1)
        .when(F.col("b.x") < F.col("a.x"), -1)
        .otherwise(0)
    )
    sgn_y = (
        F.when(F.col("b.y") > F.col("a.y"), 1)
        .when(F.col("b.y") < F.col("a.y"), -1)
        .otherwise(0)
    )
    s = a.join(F.broadcast(b), F.col("a.d") < F.col("b.d")).agg(
        F.coalesce(F.sum(sgn_x * sgn_y), F.lit(0))
        .cast("long")
        .alias("s_stat")
    )
    nn = daily.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    n0c = nn.select(
        "n_days",
        (F.col("n_days") * (F.col("n_days") - 1) / 2)
        .cast("long")
        .alias("n0"),
    )
    t = F.col("t")

    def _tie_pairs(col: str, out: str) -> DataFrame:
        return (
            daily.groupBy(col)
            .agg(F.count(F.lit(1)).cast("long").alias("t"))
            .agg(
                F.coalesce(F.sum(t * (t - 1) / 2), F.lit(0))
                .cast("long")
                .alias(out)
            )
        )

    n1c, n2c = _tie_pairs("x", "n1"), _tie_pairs("y", "n2")
    j = (
        n0c.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(n1c))
        .crossJoin(F.broadcast(n2c))
    )
    return j.select(
        "n_days",
        "s_stat",
        "n0",
        "n1",
        "n2",
        F.when(
            (F.col("n0") > F.col("n1")) & (F.col("n0") > F.col("n2")),
            F.col("s_stat").cast("double")
            / F.sqrt(
                (F.col("n0") - F.col("n1")).cast("double")
                * (F.col("n0") - F.col("n2")).cast("double")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("tau_b"),
    )


# ---- Mutual information between event type and day-of-week ---------------------

# The information-theoretic dependence measure next to the chi-squared
# test (`chisq_event_type_dow`): MI(X;Y) = Σ p_xy·ln(p_xy/(p_x·p_y))
# over the (event_type × dow) contingency table, plus the marginal
# entropies and the normalized MI = MI/min(H_X, H_Y). All cell and
# margin counts are exact longs; each ln-term rides the JS-divergence
# parity recipe (DECIMAL(25,15) per-term cast → exact order-
# independent sum → round 6), and NMI divides the already-rounded
# values so the last op is deterministic too. The contingency table
# is ≤ |types|·7 cells — the only data-sized work is one grouped
# count.
_MI_ORACLE = """
WITH cells AS (
    SELECT event_type, CAST(dayofweek(ts) AS INTEGER) AS dow,
           CAST(count(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
mx AS (SELECT event_type, CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY 1),
my AS (SELECT dow, CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY 1),
nn AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells),
mi AS (
    SELECT round(CAST(sum(CAST(
               (CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(c AS DOUBLE) * CAST(n AS DOUBLE)
                    / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE)))
           AS DECIMAL(25,15))) AS DOUBLE), 6) AS mi_nats
    FROM cells JOIN mx USING (event_type) JOIN my USING (dow)
    CROSS JOIN nn
),
hx AS (
    SELECT round(CAST(sum(CAST(
               -(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(cx AS DOUBLE) / CAST(n AS DOUBLE))
           AS DECIMAL(25,15))) AS DOUBLE), 6) AS h_type
    FROM mx CROSS JOIN nn
),
hy AS (
    SELECT round(CAST(sum(CAST(
               -(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
               * ln(CAST(cy AS DOUBLE) / CAST(n AS DOUBLE))
           AS DECIMAL(25,15))) AS DOUBLE), 6) AS h_dow
    FROM my CROSS JOIN nn
)
SELECT n AS n_total, mi_nats, h_type, h_dow,
       CASE WHEN least(h_type, h_dow) > 0
            THEN round(mi_nats / least(h_type, h_dow), 6)
            ELSE 0.0 END AS nmi
FROM nn, mi, hx, hy
"""


@query("mutual_information_type_dow", oracle=_MI_ORACLE)
def mutual_information_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) between event type and day-of-week,
    with marginal entropies and normalized MI — quantifies HOW MUCH
    the weekly cycle carries about behavior where the chi-squared
    test only says WHETHER it does. One grouped count; everything
    downstream is bounded-table algebra."""
    ev = Catalog(spark, sf_dir).events
    cells = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    cells = cells.localCheckpoint()  # reused by margins + the MI join
    mx = cells.groupBy("event_type").agg(F.sum("c").cast("long").alias("cx"))
    my = cells.groupBy("dow").agg(F.sum("c").cast("long").alias("cy"))
    nn = cells.agg(F.sum("c").cast("long").alias("n"))
    cd = lambda c: F.col(c).cast("double")  # noqa: E731
    mi_term = (cd("c") / cd("n")) * F.log(
        cd("c") * cd("n") / (cd("cx") * cd("cy"))
    )
    mi = (
        cells.join(F.broadcast(mx), "event_type")
        .join(F.broadcast(my), "dow")
        .crossJoin(F.broadcast(nn))
        .select(mi_term.cast("decimal(25,15)").alias("t"))
        .agg(F.round(F.sum("t").cast("double"), 6).alias("mi_nats"))
    )

    def _entropy(margin: DataFrame, cnt: str, out: str) -> DataFrame:
        term = -(cd(cnt) / cd("n")) * F.log(cd(cnt) / cd("n"))
        return (
            margin.crossJoin(F.broadcast(nn))
            .select(term.cast("decimal(25,15)").alias("t"))
            .agg(F.round(F.sum("t").cast("double"), 6).alias(out))
        )

    hx, hy = _entropy(mx, "cx", "h_type"), _entropy(my, "cy", "h_dow")
    j = (
        nn.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
    )
    mn = F.least(F.col("h_type"), F.col("h_dow"))
    return j.select(
        F.col("n").alias("n_total"),
        "mi_nats",
        "h_type",
        "h_dow",
        F.when(mn > 0, F.round(F.col("mi_nats") / mn, 6))
        .otherwise(F.lit(0.0))
        .alias("nmi"),
    )


# ---- Difference-in-differences on purchase counts -------------------------------

# The canonical quasi-experimental estimator next to CUPED's
# variance-reduced readout: per-user purchase counts in the pre and
# post periods, arms from the stable md5-bucket split, and
# DiD = (B_post − B_pre) − (A_post − A_pre) on the cell means. Every
# cell mean is an exact long sum over an exact long count; the DiD is
# four pinned double ops. One per-user aggregation + one 1-row
# conditional aggregation — two map-side-combined shuffles.
_DID_ORACLE = f"""
WITH ue AS (
    SELECT user_id,
           CAST(sum(CASE WHEN ts < TIMESTAMP '{_CUPED_SPLIT_TS}'
                         AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS y_pre,
           CAST(sum(CASE WHEN ts >= TIMESTAMP '{_CUPED_SPLIT_TS}'
                         AND event_type = 'purchase'
                    THEN 1 ELSE 0 END) AS BIGINT) AS y_post
    FROM events GROUP BY user_id
),
lab AS (
    SELECT *,
           CASE WHEN CAST(concat('0x', substr(md5(concat('did:',
                     CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 100 < 50
                THEN 'A' ELSE 'B'
           END AS arm
    FROM ue
),
g AS (
    SELECT
        CAST(sum(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        CAST(sum(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        CAST(sum(CASE WHEN arm = 'A' THEN y_pre ELSE 0 END) AS BIGINT) AS sa_pre,
        CAST(sum(CASE WHEN arm = 'A' THEN y_post ELSE 0 END) AS BIGINT) AS sa_post,
        CAST(sum(CASE WHEN arm = 'B' THEN y_pre ELSE 0 END) AS BIGINT) AS sb_pre,
        CAST(sum(CASE WHEN arm = 'B' THEN y_post ELSE 0 END) AS BIGINT) AS sb_post
    FROM lab
)
SELECT n_a, n_b,
       CAST(sa_pre AS DOUBLE) / CAST(n_a AS DOUBLE) AS a_pre,
       CAST(sa_post AS DOUBLE) / CAST(n_a AS DOUBLE) AS a_post,
       CAST(sb_pre AS DOUBLE) / CAST(n_b AS DOUBLE) AS b_pre,
       CAST(sb_post AS DOUBLE) / CAST(n_b AS DOUBLE) AS b_post,
       (CAST(sb_post AS DOUBLE) / CAST(n_b AS DOUBLE)
        - CAST(sb_pre AS DOUBLE) / CAST(n_b AS DOUBLE))
       - (CAST(sa_post AS DOUBLE) / CAST(n_a AS DOUBLE)
          - CAST(sa_pre AS DOUBLE) / CAST(n_a AS DOUBLE)) AS did_estimate
FROM g
"""


@query("diff_in_diff_purchase_rate", oracle=_DID_ORACLE)
def diff_in_diff_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on per-user purchase counts across
    the fixed period split, arms from the md5-bucket hash split (seed
    'did') — the parallel-trends estimator that complements
    `cuped_ab_purchase_rate`. Cell means from exact integer sums; the
    estimate is pinned double algebra."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        hash_split,
    )

    ev = Catalog(spark, sf_dir).events
    ue = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("ts") < _CUPED_SPLIT_TS)
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("y_pre"),
        F.sum(
            F.when(
                (F.col("ts") >= _CUPED_SPLIT_TS)
                & (F.col("event_type") == "purchase"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("y_post"),
    )
    lab = hash_split(ue, "user_id", splits=(("A", 50), ("B", 50)), seed="did")
    arm = F.col("split")
    g = lab.agg(
        F.sum(F.when(arm == "A", 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(arm == "B", 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(arm == "A", F.col("y_pre")).otherwise(0))
        .cast("long")
        .alias("sa_pre"),
        F.sum(F.when(arm == "A", F.col("y_post")).otherwise(0))
        .cast("long")
        .alias("sa_post"),
        F.sum(F.when(arm == "B", F.col("y_pre")).otherwise(0))
        .cast("long")
        .alias("sb_pre"),
        F.sum(F.when(arm == "B", F.col("y_post")).otherwise(0))
        .cast("long")
        .alias("sb_post"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    return g.select(
        "n_a",
        "n_b",
        (d("sa_pre") / d("n_a")).alias("a_pre"),
        (d("sa_post") / d("n_a")).alias("a_post"),
        (d("sb_pre") / d("n_b")).alias("b_pre"),
        (d("sb_post") / d("n_b")).alias("b_post"),
        (
            (d("sb_post") / d("n_b") - d("sb_pre") / d("n_b"))
            - (d("sa_post") / d("n_a") - d("sa_pre") / d("n_a"))
        ).alias("did_estimate"),
    )


# ---- 1-Wasserstein (earth mover's) distance ----------------------------------

# W1(A, B) = ∫ |F_A(x) − F_B(x)| dx — the transport cost between the
# purchase and click value distributions, completing the
# distribution-gap family (KS = sup of the gap, CvM = ∫ gap² dF,
# W1 = ∫ gap dx). Over the pooled distinct values v_1 < … < v_k the
# integral is EXACTLY Σ_i |F_A(v_i) − F_B(v_i)|·(v_{i+1} − v_i).
# Values are 2-decimal doubles, so the domain is integer CENTS and
# the whole numerator is exact integer algebra:
#   Σ |a_cum·n_b − b_cum·n_a| · (vc_{i+1} − vc_i)
# carried in DECIMAL(38,0) (Spark) / HUGEINT (DuckDB), operands lifted
# BEFORE every multiply (the CvM discipline), divided ONCE by
# 100·n_a·n_b — so the statistic is bit-identical across engines.
_W1_ORACLE = """
WITH f AS (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS vc FROM events
    WHERE event_type IN ('purchase', 'click')
),
g AS (
    SELECT vc,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS a_cnt,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                AS BIGINT) AS b_cnt
    FROM f GROUP BY vc
),
c AS (
    SELECT vc, a_cnt, b_cnt,
           sum(a_cnt) OVER (
               ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS a_cum,
           sum(b_cnt) OVER (
               ORDER BY vc
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS b_cum,
           lead(vc) OVER (ORDER BY vc) AS vn
    FROM g
),
tot AS (
    SELECT CAST(sum(a_cnt) AS BIGINT) AS na,
           CAST(sum(b_cnt) AS BIGINT) AS nb
    FROM g
),
s AS (
    SELECT na, nb,
           sum(abs(CAST(a_cum AS HUGEINT) * CAST(nb AS HUGEINT)
                   - CAST(b_cum AS HUGEINT) * CAST(na AS HUGEINT))
               * CAST(vn - vc AS HUGEINT)) AS num
    FROM c, tot
    WHERE vn IS NOT NULL
    GROUP BY na, nb
)
SELECT na AS n_purchase, nb AS n_click,
       CAST(num AS DOUBLE)
           / (100.0 * CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
           AS w1_distance
FROM s
WHERE na > 0 AND nb > 0
"""


@query("wasserstein_purchase_click", oracle=_W1_ORACLE)
def wasserstein_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-Wasserstein (earth mover's) distance between the purchase and
    click value distributions — the transport-cost companion to the KS
    (sup-gap) and CvM (∫gap²dF) queries.

    Shape: per-distinct-cents arm counts (one map-side-combined
    shuffle), both cumulative counts from one :func:`running_totals`
    pass, the NEXT distinct value from :func:`global_lead` (the
    distributed lead primitive — never a single-partition global
    window), then one exact-integer DECIMAL(38,0) aggregation and a
    single final division. Both range exchanges move only the
    distinct-value histogram, not the events."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        global_lead,
        running_totals,
    )

    ev = Catalog(spark, sf_dir).events.filter(
        F.col("event_type").isin("purchase", "click")
    )
    g = ev.select(
        F.round(F.col("value") * 100).cast("long").alias("vc"), "event_type"
    ).groupBy("vc").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("a_cnt"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("b_cnt"),
    )
    c = running_totals(g, ["vc"], [("a_cnt", "a_cum"), ("b_cnt", "b_cum")])
    c = global_lead(c, ["vc"], "vc", out_col="vn")
    tot = g.agg(
        F.sum("a_cnt").cast("long").alias("na"),
        F.sum("b_cnt").cast("long").alias("nb"),
    )
    dec = lambda c_: F.col(c_).cast("decimal(38,0)")  # noqa: E731
    gap_term = F.abs(dec("a_cum") * dec("nb") - dec("b_cum") * dec("na")) * (
        F.col("vn") - F.col("vc")
    ).cast("decimal(38,0)")
    s = (
        c.filter(F.col("vn").isNotNull())
        .crossJoin(F.broadcast(tot))
        .groupBy("na", "nb")
        .agg(F.sum(gap_term).alias("num"))
    )
    na, nb = F.col("na"), F.col("nb")
    return s.select(
        na.alias("n_purchase"),
        nb.alias("n_click"),
        (
            F.col("num").cast("double")
            / (F.lit(100.0) * na.cast("double") * nb.cast("double"))
        ).alias("w1_distance"),
    ).filter((na > 0) & (nb > 0))


# ---- Page-Hinkley drift detection on daily revenue ----------------------------

# Retrospective Page-Hinkley against the global mean: with the
# mean-cleared cumulative deviation D_t = n·P_t − t·T (the CUSUM
# integer, P_t = prefix cents sum, T = total), the PH statistic for an
# UPWARD drift is PH_t = D_t − min_{i≤t} D_i — the maximum rise of the
# deviation path above its running floor (a drawdown reversed). CUSUM
# reports argmax |D| (the single best split point); PH reports the
# largest sustained climb, which fires on gradual drifts CUSUM's peak
# can smear. Everything stays in exact integers (prefix sums +
# RUNNING MIN, both distributed range-partition recipes), so argmax
# and peak are bit-equal across engines; the one division by n·100
# happens at the output boundary.
_PH_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) * 100
                AS BIGINT) AS c
    FROM lineitem GROUP BY 1
),
w AS (
    SELECT d,
           CAST(row_number() OVER (ORDER BY d) AS HUGEINT) AS i,
           CAST(sum(c) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS HUGEINT) AS pre
    FROM daily
),
tot AS (
    SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(c) AS HUGEINT) AS total
    FROM daily
),
t AS (SELECT d, n, n * pre - i * total AS di FROM w, tot),
ph AS (
    SELECT d, n, di,
           di - min(di) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS rise
    FROM t
)
SELECT d AS alarm_day,
       CAST(n AS BIGINT) AS n_days,
       CAST(rise AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS ph_peak
FROM ph ORDER BY rise DESC, d LIMIT 1
"""


@query("page_hinkley_drift_daily", oracle=_PH_ORACLE)
def page_hinkley_drift_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley upward-drift detection on daily revenue — the
    sustained-climb companion to `cusum_changepoint_daily`'s single
    best split (see the oracle comment block for the exact-integer
    identity).

    Shape: daily cents pre-aggregation (map-side combined), ONE range
    exchange shared by the prefix sum and the index
    (:func:`running_totals` / :func:`stable_global_index`), a second
    range pass for the distributed RUNNING MIN of the deviation path
    (:func:`running_min` — prefix minima collected per partition,
    never a single-partition window), then an exact-integer top-1."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_min,
        running_totals,
    )

    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        (F.round(F.sum(FN.revenue_expr()), 2) * 100).cast("long").alias("c")
    )
    # The 1-based index is the prefix sum of a literal 1, so ONE range
    # exchange yields index AND cents prefix — and return_totals hands
    # back (T, n) driver-side, so the mean-cleared deviation is a
    # row-local expression with python-literal totals: no separate
    # stable_global_index pass, no broadcast join.
    pre, (total, n_days) = running_totals(
        daily.withColumn("__one", F.lit(1)),
        ["d"],
        [("c", "pre"), ("__one", "i")],
        return_totals=True,
    )
    dev = pre.select(
        "d",
        (
            F.lit(int(n_days)).cast("decimal(38,0)")
            * F.col("pre").cast("decimal(38,0)")
            - F.col("i").cast("decimal(38,0)")
            * F.lit(int(total)).cast("decimal(38,0)")
        ).alias("di"),
    )
    ph = running_min(dev, ["d"], "di", out_col="floor_di")
    return (
        ph.select(
            F.col("d").alias("alarm_day"),
            F.lit(int(n_days)).cast("long").alias("n_days"),
            (F.col("di") - F.col("floor_di")).alias("__rise"),
        )
        .orderBy(F.col("__rise").desc(), "alarm_day")
        .limit(1)
        .select(
            "alarm_day",
            "n_days",
            (
                F.col("__rise").cast("double")
                / (F.col("n_days").cast("double") * F.lit(100.0))
            ).alias("ph_peak"),
        )
    )


# ---- Poisson bootstrap CI of the mean order value -----------------------------

# THE bootstrap that survives 100 TB: classic resampling draws N rows
# WITH replacement per replicate (a shuffle per replicate, impossible
# at scale); the Poisson bootstrap instead gives every row an
# INDEPENDENT Poisson(1) weight per replicate — each replicate's
# weighted mean is computed in the SAME single pass with map-side
# combine, no explode, no shuffle growth in B. Weights are
# deterministic: a 32-bit md5 bucket per (replicate, orderkey)
# compared against the Poisson(1) inverse-CDF INTEGER thresholds
# below (floor(CDF(k)·2^32), k = 0..8, weight capped at 9 — tail mass
# 1.1e-6), so both engines produce identical weights by integer
# comparison alone. Replicate means are exact cents ratios divided
# once; the percentile CI is the 2nd / 63rd order statistic of the 64
# sorted means (in-plan array_sort of a 64-element array — no collect).
_BOOT_B = 64
_BOOT_T = [1580030168, 3160060337, 3950075421, 4213413783, 4279248373,
           4292415291, 4294609777, 4294923276, 4294962463]
_BOOT_LO_IDX = 1   # floor(0.025 * 64) -> 2nd smallest (0-based 1)
_BOOT_HI_IDX = 62  # B-1 - floor(0.025*64) -> 63rd (0-based 62)


def _boot_w_sql(b: int) -> str:
    # One md5 yields FOUR independent 32-bit buckets (hex chars 1-8,
    # 9-16, 17-24, 25-32), so 64 replicates cost 16 hashes per row,
    # not 64. Engine and oracle slice identically.
    seed, chunk = divmod(b, 4)
    h = (f"CAST(concat('0x', substr(md5(concat('boot{seed}:', "
         f"CAST(o_orderkey AS VARCHAR))), {1 + 8 * chunk}, 8)) AS BIGINT)")
    return "(" + " + ".join(
        f"CASE WHEN {h} >= {t} THEN 1 ELSE 0 END" for t in _BOOT_T
    ) + ")"


_BOOT_ORACLE = f"""
WITH base AS (
    SELECT CAST(round(CAST(o_totalprice AS DECIMAL(18,6)) * 100, 0) AS BIGINT)
               AS cents,
           o_orderkey
    FROM orders
),
s AS (
    SELECT CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS HUGEINT) AS tot,
           {", ".join(
               f"CAST(sum({_boot_w_sql(b)} * cents) AS HUGEINT) AS wc{b}, "
               f"CAST(sum({_boot_w_sql(b)}) AS HUGEINT) AS w{b}"
               for b in range(_BOOT_B)
           )}
    FROM base
),
m AS (
    SELECT n, tot,
           list_sort([{", ".join(
               f"CAST(wc{b} AS DOUBLE) / CAST(w{b} AS DOUBLE)"
               for b in range(_BOOT_B)
           )}]) AS means
    FROM s
)
SELECT n AS n_orders,
       CAST({_BOOT_B} AS BIGINT) AS b_replicates,
       CAST(tot AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0) AS mean_value,
       means[{_BOOT_LO_IDX + 1}] / 100.0 AS ci_lo,
       means[{_BOOT_HI_IDX + 1}] / 100.0 AS ci_hi
FROM m
"""


@query("poisson_bootstrap_order_value", oracle=_BOOT_ORACLE)
def poisson_bootstrap_order_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% percentile-bootstrap CI of the mean order value via the
    Poisson bootstrap (see the oracle comment block: the only
    bootstrap whose cost is one linear pass regardless of B — the
    standard trick for resampling statistics on cluster-scale data).

    Shape: replicates ride as exploded (seed, chunk) rows — a 64×
    fan-out of 2-long rows, map-side combined straight back down to
    the 64 replicate partials, so the shuffle carries 64 rows however
    big the fact is. Weights come from comparing 8-hex-char md5 SLICES
    against hex-string thresholds: for fixed-width lowercase hex,
    bytewise string order IS numeric order, so no hex→decimal
    conversion runs at all (measured: ``conv()`` cost more than the
    md5s themselves — 6.3 s vs 2.7 s for the scan at sf0.1 — and the
    wide-aggregate formulation re-evaluated it per threshold). The CI
    is in-plan array algebra on the 64 exact-ratio means."""
    base = Catalog(spark, sf_dir).orders.select(
        F.round(F.col("o_totalprice").cast("decimal(18,6)") * 100, 0)
        .cast("long")
        .alias("cents"),
        "o_orderkey",
    )
    hex_t = [format(t, "08x") for t in _BOOT_T]
    # The WHEN-tree below is an upper-bound binary search: it is only
    # equivalent to the linear threshold count when hex_t is sorted
    # ascending. True for the Poisson CDF cuts today — assert the
    # precondition so a reordered _BOOT_T fails loudly, not wrongly.
    assert hex_t == sorted(hex_t), "_BOOT_T must be ascending"
    n_seeds = _BOOT_B // 4
    md5c = F.md5(F.concat(F.col("s"), F.col("o_orderkey").cast("string")))
    ex = base.select(
        "cents",
        "o_orderkey",
        F.posexplode(
            F.array(*[F.lit(f"boot{i}:") for i in range(n_seeds)])
        ).alias("si", "s"),
    )
    # Project the md5 into a column BEFORE the chunk explode: inlined,
    # the hash expression is re-evaluated once per 8-hex-char slice
    # (4x per (row, seed) — ~9.6M hashes at sf0.1 instead of 2.4M;
    # Generate args get no common-subexpression elimination). Measured
    # 5.97 -> 2.60 s on this stage alone (guide §1.2 per-task work).
    ex = ex.withColumn("h", md5c)
    sl = ex.select(
        "cents",
        "si",
        F.posexplode(
            F.array(*[F.substring(F.col("h"), 1 + 8 * c, 8) for c in range(4)])
        ).alias("chunk", "hx"),
    )
    # w = |{t in thresholds : hx >= t}| — an upper-bound search over a
    # SORTED threshold list (ascending Poisson CDF cuts; fixed-width
    # lowercase hex compares bytewise == numerically). The linear form
    # evaluated all 64 comparisons per exploded row (~600M compares at
    # sf0.1); this balanced WHEN-tree decides in <= 7 (guide §1.2 "per-
    # task work"). Same integer w on every row — the replicate weights,
    # and therefore the CI, are bit-identical.
    def _wtree(lo: int, hi: int):
        # upper bound in [lo, hi]: thresholds below lo already known
        # satisfied, at/above hi known unsatisfied.
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(
            F.col("hx") >= hex_t[mid], _wtree(mid + 1, hi)
        ).otherwise(_wtree(lo, mid))

    wexpr = _wtree(0, len(hex_t))
    g = (
        sl.select(
            (F.col("si") * 4 + F.col("chunk")).alias("rep"),
            wexpr.alias("w"),
            "cents",
        )
        .groupBy("rep")
        .agg(
            F.sum(F.col("w") * F.col("cents"))
            .cast("decimal(38,0)")
            .alias("wc"),
            F.sum("w").cast("decimal(38,0)").alias("ws"),
        )
    )
    means = g.agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "rep",
                        (
                            F.col("wc").cast("double")
                            / F.col("ws").cast("double")
                        ).alias("m"),
                    )
                )
            ),
            lambda st: st["m"],
        ).alias("ms")
    ).select(F.array_sort("ms").alias("means"))
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("tot"),
    )
    return tot.crossJoin(F.broadcast(means)).select(
        F.col("n").alias("n_orders"),
        F.lit(_BOOT_B).cast("long").alias("b_replicates"),
        (
            F.col("tot").cast("double")
            / (F.col("n").cast("double") * F.lit(100.0))
        ).alias("mean_value"),
        (F.element_at(F.col("means"), _BOOT_LO_IDX + 1) / 100.0).alias("ci_lo"),
        (F.element_at(F.col("means"), _BOOT_HI_IDX + 1) / 100.0).alias("ci_hi"),
    )



# ---- spectral seasonality of daily revenue ------------------------------------

# Periodogram of the daily revenue series at the calendar periods that
# matter (7/30/91/365 days): amplitude_p = 2·|Σ_i x_i·e^{-2πi·(i mod p)/p}|/n
# with x the mean-centered series. The cross-engine trick: engines
# disagree in the last ulp of cos/sin (Java Math vs libm, argument
# reduction), so NO trig runs at query time — for integer periods the
# twiddle factors take only p distinct values, which are PRECOMPUTED
# driver-side and embedded as identical repr literals in both engines
# (the minhash-params / rbo-weights precedent). The inner sums
# g_m = Σ_{i≡m (mod p)} (n·c_i − T) are EXACT integer cents
# (mean-centering cleared of division), and the final Σ_m twiddle·g_m
# folds over m in pinned order — identical double ops on identical
# inputs, so the spectrum is bit-equal across engines with no rounding
# guard needed (sqrt is IEEE-exact).
_SPECTRAL_PERIODS = [7, 30, 91, 365]


def _twiddles(p: int) -> tuple[list[float], list[float]]:
    import math

    cos = [math.cos(2.0 * math.pi * m / p) for m in range(p)]
    sin = [math.sin(2.0 * math.pi * m / p) for m in range(p)]
    return cos, sin


def _spectral_oracle() -> str:
    # Literals ride as CAST('<repr>' AS DOUBLE): a BARE numeric literal
    # parses as DECIMAL in DuckDB and its decimal->double conversion is
    # 1 ulp off the repr round-trip for some values (measured:
    # -0.22252093395631434 -> ...143), which would break the bit-parity
    # the whole construction exists for. The string cast is exact.
    def dlit(v: float) -> str:
        return f"CAST('{v!r}' AS DOUBLE)"

    parts = []
    for p in _SPECTRAL_PERIODS:
        cos, sin = _twiddles(p)
        parts.append(f"""
g{p} AS (
    SELECT CAST(i0 % {p} AS BIGINT) AS m,
           CAST(sum(x) AS DOUBLE) AS g
    FROM x GROUP BY 1
),
s{p} AS (
    SELECT {p} AS period,
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list(g * ([{", ".join(dlit(v) for v in cos)}])[m + 1]
                        ORDER BY m)),
               (a, b) -> a + b) AS cs,
           list_reduce(
               list_prepend(CAST(0.0 AS DOUBLE),
                   list(g * ([{", ".join(dlit(v) for v in sin)}])[m + 1]
                        ORDER BY m)),
               (a, b) -> a + b) AS ss
    FROM g{p}
)""")
    unions = "\nUNION ALL\n".join(
        f"SELECT period, cs, ss FROM s{p}" for p in _SPECTRAL_PERIODS
    )
    return f"""
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) * 100
                AS BIGINT) AS c
    FROM lineitem GROUP BY 1
),
w AS (
    SELECT d, c,
           CAST(row_number() OVER (ORDER BY d) AS BIGINT) - 1 AS i0
    FROM daily
),
tot AS (
    SELECT CAST(count(*) AS HUGEINT) AS n, CAST(sum(c) AS HUGEINT) AS t
    FROM daily
),
x AS (
    SELECT i0, n * CAST(c AS HUGEINT) - t AS x, n FROM w, tot
),
{",".join(parts)},
spec AS ({unions})
SELECT period,
       2.0 * sqrt(cs * cs + ss * ss)
           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * 100.0) AS amplitude
FROM spec, tot
ORDER BY period
"""


@query("spectral_seasonality_daily", oracle=_spectral_oracle())
def spectral_seasonality_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-revenue periodogram at the 7/30/91/365-day calendar
    periods — the frequency-domain companion to
    `stl_decompose_daily_revenue` / `acf_daily_revenue` (see the
    oracle comment block: precomputed twiddle literals + exact-integer
    inner sums make the spectrum bit-equal across engines with zero
    query-time trig).

    Shape: the only fact-sized work is the daily cents pre-aggregation
    (map-side combined); the series itself is calendar-bounded, so the
    four per-period (i mod p) groupings, the pinned-order folds, and
    the amplitude algebra are all bounded-series work (≤ 493 groups
    total)."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        stable_global_index,
    )

    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    # Pin the fact-sized daily aggregation once: it feeds BOTH the
    # global index (whose range sampling would re-run it) and the
    # (n, t) totals — three lineitem aggregations become one
    # (guide §2.4).
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        (F.round(F.sum(FN.revenue_expr()), 2) * 100).cast("long").alias("c")
    ).localCheckpoint()
    idx = stable_global_index(daily, ["d"], out_col="i0", pin_input=False)
    tot = daily.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("c").cast("decimal(38,0)").alias("t"),
    )
    # The centered series x is consumed by all four period branches;
    # without pinning it, EACH branch re-aggregates lineitem (daily),
    # re-broadcasts tot, and re-derives x — 8 extra fact-sized passes
    # for a ~2,500-row series (guide §2.4: shared subtree, one
    # materialization). localCheckpoint costs one tiny write; the
    # branches then read bounded-series blocks. Measured 4.85 s -> ~2 s
    # isolated-warm at sf0.1; plan drops from 50 Exchanges to 14.
    x = (
        idx.crossJoin(F.broadcast(tot))
        .select(
            "i0",
            "n",
            (F.col("n") * F.col("c").cast("decimal(38,0)") - F.col("t")).alias("x"),
        )
        .localCheckpoint()
    )
    per = []
    for p in _SPECTRAL_PERIODS:
        cos, sin = _twiddles(p)
        g = (
            x.select(
                (F.col("i0") % p).cast("long").alias("m"),
                "x",
                "n",
            )
            .groupBy("m")
            .agg(
                F.sum("x").cast("double").alias("g"),
                F.first("n").alias("n"),
            )
        )
        # One array literal per list instead of element-wise F.lit +
        # F.array (365 py4j round-trips per array; build-time cost is
        # INSIDE the timed region since the plan is rebuilt per pass).
        # Same exact float64 values — py4j ships doubles losslessly.
        cos_arr = F.lit(list(cos))
        sin_arr = F.lit(list(sin))
        folded = g.select(
            F.lit(p).cast("long").alias("period"),
            (F.element_at(cos_arr, (F.col("m") + 1).cast("int")) * F.col("g"))
            .alias("tc"),
            (F.element_at(sin_arr, (F.col("m") + 1).cast("int")) * F.col("g"))
            .alias("ts"),
            "m",
            "n",
        ).groupBy("period").agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("m", "tc"))),
                F.lit(0.0),
                lambda acc, s: acc + s["tc"],
            ).alias("cs"),
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("m", "ts"))),
                F.lit(0.0),
                lambda acc, s: acc + s["ts"],
            ).alias("ss"),
            F.first("n").alias("n"),
        )
        per.append(folded)
    spec = per[0]
    for other in per[1:]:
        spec = spec.unionAll(other)
    nd = F.col("n").cast("double")
    return spec.select(
        "period",
        (
            F.lit(2.0)
            * F.sqrt(F.col("cs") * F.col("cs") + F.col("ss") * F.col("ss"))
            / (nd * nd * F.lit(100.0))
        ).alias("amplitude"),
    ).orderBy("period")


# ---- isotonic regression of daily revenue -------------------------------------

# The monotone (non-decreasing) least-squares fit of the daily revenue
# series WITHOUT the sequential PAVA loop: the minimax identity
#   fitted_i = max_{j≤i} min_{k≥i} avg(y_j..y_k)
# is a closed form over interval averages, and every interval average
# is a ratio of EXACT integers ((P_k − P_{j−1}) cents over k−j+1), so
# both engines compare identical doubles and the fit is bit-equal.
# The calendar bounds n (~2500 days at every SF), so the O(n²)
# interval table (~3M rows) is bounded-series work, not fact-sized
# work: suffix-min per start day (one keyed window), then max per end
# day (one grouped agg). PAVA is O(n) but inherently sequential; the
# minimax form trades bounded quadratic work for full parallelism —
# the right trade when n is calendar-bounded and the cluster is wide.
_ISO_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) * 100
                AS BIGINT) AS c
    FROM lineitem GROUP BY 1
),
w AS (
    SELECT d, c,
           CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS i,
           CAST(sum(c) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS pre
    FROM daily
),
pairs AS (
    SELECT a.i AS j, b.i AS k, b.d AS dk, b.c AS ck,
           CAST(b.pre - a.pre + a.c AS DOUBLE)
               / CAST(b.i - a.i + 1 AS DOUBLE) AS avg_jk
    FROM w a JOIN w b ON a.i <= b.i
),
smin AS (
    SELECT j, k, dk, ck,
           min(avg_jk) OVER (
               PARTITION BY j ORDER BY k DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS s
    FROM pairs
)
SELECT dk AS d,
       CAST(ck AS DOUBLE) / 100.0 AS revenue,
       max(s) / 100.0 AS iso_fitted
FROM smin WHERE j <= k
GROUP BY dk, ck
ORDER BY d
"""


@query("isotonic_regression_daily", oracle=_ISO_ORACLE)
def isotonic_regression_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone non-decreasing) regression of daily revenue
    via the minimax identity — see the oracle comment block for why
    this beats a sequential PAVA loop on a wide cluster and how the
    exact-integer interval averages make the fit bit-equal across
    engines.

    Shape: fact-sized work is only the daily pre-aggregation; the
    bounded O(n²) interval table builds from one range-join of the
    prefix-sum series with itself, then one keyed window (suffix min
    per start day) and one grouped max per end day."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        running_totals,
    )

    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        (F.round(F.sum(FN.revenue_expr()), 2) * 100).cast("long").alias("c")
    )
    # The 1-based day index is the prefix sum of a literal 1: one range
    # scan yields index and cents prefix together.
    pre = running_totals(
        daily.withColumn("i", F.lit(1)), ["d"], [("c", "pre"), ("i", "i")]
    )
    a = pre.select(
        F.col("i").alias("j"),
        (F.col("pre") - F.col("c")).alias("pj"),
    )
    b = pre.select(
        F.col("i").alias("k"),
        F.col("d").alias("dk"),
        F.col("c").alias("ck"),
        F.col("pre").alias("pk"),
    )
    pairs = a.join(b, a.j <= b.k).select(
        "j",
        "k",
        "dk",
        "ck",
        (
            (F.col("pk") - F.col("pj")).cast("double")
            / (F.col("k") - F.col("j") + 1).cast("double")
        ).alias("avg_jk"),
    )
    w = (
        Window.partitionBy("j")
        .orderBy(F.col("k").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    smin = pairs.withColumn("s", F.min("avg_jk").over(w))
    return (
        smin.groupBy("dk", "ck")
        .agg(F.max("s").alias("mx"))
        .select(
            F.col("dk").alias("d"),
            (F.col("ck").cast("double") / 100.0).alias("revenue"),
            (F.col("mx") / 100.0).alias("iso_fitted"),
        )
        .orderBy("d")
    )


# ---- Seasonal Mann-Kendall trend test ------------------------------------------

# The seasonal variant the climate literature actually applies to
# monthly-structured series (Hirsch & Slack): compare days only WITHIN
# the same month-of-year, so an annual cycle cannot masquerade as a
# monotone trend. S = Σ_m S_m and var18 = Σ_m [n_m(n_m−1)(2n_m+5) −
# tie_term_m] — all exact integers (per-season pair signs and
# within-season tie groups), so only the final z division touches
# floats, computed from identical integers on both engines. The pair
# join shrinks ~12× vs the unconditional test (month equality rides
# the join condition); everything stays calendar-bounded.
_SEASONAL_MK_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(month(l_shipdate) AS BIGINT) AS m,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem GROUP BY 1, 2
),
s AS (
    SELECT CAST(coalesce(sum(
               CASE WHEN b.x > a.x THEN 1
                    WHEN b.x < a.x THEN -1 ELSE 0 END), 0) AS BIGINT)
               AS s_stat
    FROM daily a JOIN daily b ON a.m = b.m AND a.d < b.d
),
per AS (
    SELECT m, CAST(count(*) AS BIGINT) AS nm FROM daily GROUP BY m
),
ties AS (
    SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
    FROM (SELECT CAST(count(*) AS BIGINT) AS t FROM daily GROUP BY m, x) g
),
v AS (
    SELECT (SELECT CAST(sum(nm) AS BIGINT) FROM per) AS n,
           s_stat,
           (SELECT CAST(sum(nm * (nm - 1) * (2 * nm + 5)) AS BIGINT)
            FROM per) - tie_term AS var18
    FROM s, ties
)
SELECT n AS n_days, s_stat, var18,
       CASE WHEN var18 <= 0 THEN 0.0
            WHEN s_stat > 0
                THEN (CAST(s_stat AS DOUBLE) - 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            WHEN s_stat < 0
                THEN (CAST(s_stat AS DOUBLE) + 1.0)
                     / sqrt(CAST(var18 AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_stat
FROM v
"""


@query("seasonal_mann_kendall_daily", oracle=_SEASONAL_MK_ORACLE)
def seasonal_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal (Hirsch-Slack) Mann-Kendall trend test on daily
    revenue: pairs compare only within the same month-of-year, so the
    annual cycle cannot read as a trend — the climate-series variant
    of `mann_kendall_trend_daily` (see the oracle comment block for
    the exact-integer decomposition)."""
    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(
        F.date_trunc("day", "l_shipdate").alias("d"),
        F.month("l_shipdate").cast("long").alias("m"),
    ).agg(
        F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x")
    ).localCheckpoint()  # reused: pairs (both sides), per-season, ties
    a, b = daily.alias("a"), daily.alias("b")
    s = a.join(
        F.broadcast(b),
        (F.col("a.m") == F.col("b.m")) & (F.col("a.d") < F.col("b.d")),
    ).agg(
        F.coalesce(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("s_stat")
    )
    nm = F.col("nm")
    per = (
        daily.groupBy("m")
        .agg(F.count(F.lit(1)).cast("long").alias("nm"))
        .agg(
            F.sum(nm).cast("long").alias("n"),
            F.sum(nm * (nm - 1) * (2 * nm + 5)).cast("long").alias("v0"),
        )
    )
    t = F.col("t")
    ties = (
        daily.groupBy("m", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("long")
            .alias("tie_term")
        )
    )
    v = per.crossJoin(s).crossJoin(ties).select(
        "n", "s_stat", (F.col("v0") - F.col("tie_term")).alias("var18")
    )
    sd, var18 = F.col("s_stat").cast("double"), F.col("var18")
    denom = F.sqrt(var18.cast("double") / F.lit(18.0))
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "var18",
        F.when(var18 <= 0, F.lit(0.0))
        .when(F.col("s_stat") > 0, (sd - F.lit(1.0)) / denom)
        .when(F.col("s_stat") < 0, (sd + F.lit(1.0)) / denom)
        .otherwise(F.lit(0.0))
        .alias("z_stat"),
    )


# ---- Wald-Wolfowitz runs test about the median ---------------------------------

# Randomness test on the daily revenue series: count the RUNS of
# consecutive above-median / below-median days (median-equal days
# dropped, the standard convention). Too few runs = persistence
# (anomalous regimes clump), too many = oscillation. Everything up to
# the final z is exact integers: the median is the LOWER median of
# integer cents (a deterministic order statistic — first distinct
# value whose cumulative count reaches ceil(n/2), via the distributed
# prefix-sum, identical on both engines), signs are integer
# comparisons, and the run count is 1 + Σ[sign_i ≠ sign_{i−1}] over
# date order — the lag comes from the distributed `global_lead`, never
# a single-partition window. μ and σ of R are closed forms of (n1, n2)
# computed from identical integers → bit-equal z.
_RUNS_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2) * 100
                AS BIGINT) AS c
    FROM lineitem GROUP BY 1
),
med AS (
    SELECT c AS median_c FROM (
        SELECT c,
               sum(cnt) OVER (
                   ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS cum,
               (SELECT CAST(ceil(count(*) / 2.0) AS BIGINT) FROM daily) AS k
        FROM (SELECT c, CAST(count(*) AS BIGINT) AS cnt FROM daily GROUP BY c)
    ) WHERE cum >= k ORDER BY c LIMIT 1
),
signs AS (
    SELECT d, CASE WHEN c > median_c THEN 1 ELSE -1 END AS sg
    FROM daily, med WHERE c <> median_c
),
seq AS (
    SELECT sg, lead(sg) OVER (ORDER BY d) AS nxt FROM signs
),
agg AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM signs WHERE sg = 1) AS n1,
           (SELECT CAST(count(*) AS BIGINT) FROM signs WHERE sg = -1) AS n2,
           1 + CAST(coalesce(sum(CASE WHEN nxt IS NOT NULL
                                       AND nxt <> sg THEN 1 ELSE 0 END), 0)
                    AS BIGINT) AS runs
    FROM seq
)
SELECT n1, n2, runs,
       CASE WHEN n1 = 0 OR n2 = 0 THEN 0.0 ELSE
           (CAST(runs AS DOUBLE)
            - (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               / CAST(n1 + n2 AS DOUBLE) + 1.0))
           / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                  / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 AS DOUBLE)
                     * (CAST(n1 + n2 AS DOUBLE) - 1.0)))
       END AS z_stat
FROM agg
"""


@query("runs_test_daily_revenue", oracle=_RUNS_ORACLE)
def runs_test_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test about the median on daily revenue —
    the regime-persistence check that complements the trend tests
    (see the oracle comment block for the exact-integer construction).

    Shape: daily cents pre-agg (the only fact-sized work), distributed
    prefix-sum median over the distinct-cents histogram, one
    :func:`global_lead` pass in date order for the switch count, and
    closed-form z from identical integers."""
    from climate_anomaly_bigdata_pipeline_spark.operators.relational import (
        global_lead,
        running_totals,
    )

    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        (F.round(F.sum(FN.revenue_expr()), 2) * 100).cast("long").alias("c")
    ).localCheckpoint()  # reused: histogram + signs
    hist = daily.groupBy("c").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum, (n_total,) = running_totals(
        hist, ["c"], [("cnt", "cum")], return_totals=True
    )
    k = (int(n_total) + 1) // 2  # ceil(n/2) as an integer
    med = (
        cum.filter(F.col("cum") >= k)
        .orderBy("c")
        .limit(1)
        .select(F.col("c").alias("median_c"))
    )
    signs = (
        daily.crossJoin(F.broadcast(med))
        .filter(F.col("c") != F.col("median_c"))
        .select(
            "d",
            F.when(F.col("c") > F.col("median_c"), 1).otherwise(-1).alias("sg"),
        )
    )
    seq = global_lead(signs, ["d"], "sg", out_col="nxt")
    agg = seq.agg(
        F.sum(F.when(F.col("sg") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("sg") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        (
            F.lit(1)
            + F.coalesce(
                F.sum(
                    F.when(
                        F.col("nxt").isNotNull()
                        & (F.col("nxt") != F.col("sg")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            )
        )
        .cast("long")
        .alias("runs"),
    )
    n1, n2, runs = (
        F.col("n1").cast("double"),
        F.col("n2").cast("double"),
        F.col("runs").cast("double"),
    )
    nt = n1 + n2
    mu = F.lit(2.0) * n1 * n2 / nt + F.lit(1.0)
    sig = F.sqrt(
        F.lit(2.0) * n1 * n2 * (F.lit(2.0) * n1 * n2 - n1 - n2)
        / (nt * nt * (nt - F.lit(1.0)))
    )
    return agg.select(
        "n1",
        "n2",
        "runs",
        F.when(
            (F.col("n1") == 0) | (F.col("n2") == 0), F.lit(0.0)
        ).otherwise((runs - mu) / sig).alias("z_stat"),
    )


# ---- Ljung-Box portmanteau test on daily revenue -----------------------------

# Q_h = n(n+2) * sum_{j<=h} rho_j^2/(n-j): the standard whiteness test
# over the first h autocorrelations (Ljung & Box 1978) — the residual
# diagnostic that closes the ACF/Holt/STL family (is anything LEFT in
# the series after the model?). Rides the acf_daily_revenue posture
# verbatim: calendar-bounded series as ONE in-row array after the
# distributed daily pre-agg; every rho_j and the cumulative Q fold in
# pinned (date, then lag) order on both engines, so the check is
# bit-exact with no rounding guard.
_LB_MAX_LAG = 14

_LJUNG_BOX_ORACLE = f"""
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem GROUP BY 1
),
ser AS (
    SELECT list(x ORDER BY d) AS xs,
           CAST(sum(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(count(*) AS DOUBLE) AS m,
           count(*) AS n
    FROM daily
),
base AS (
    SELECT xs, m, n,
           list_reduce(
               list_transform(generate_series(1, CAST(n AS BIGINT)),
                              i -> (xs[i] - m) * (xs[i] - m)),
               (acc, t) -> acc + t
           ) AS den
    FROM ser
),
rho AS (
    SELECT n,
           list_transform(generate_series(1, {_LB_MAX_LAG}), k ->
               list_reduce(
                   list_transform(generate_series(1, CAST(n - k AS BIGINT)),
                                  i -> (xs[i] - m) * (xs[i + k] - m)),
                   (acc, t) -> acc + t
               ) / den
           ) AS rhos
    FROM base
),
lags AS (SELECT unnest(generate_series(1, {_LB_MAX_LAG})) AS k)
SELECT CAST(l.k AS INTEGER) AS lag,
       r.rhos[l.k] AS acf,
       (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0))
           * list_reduce(
                 list_transform(generate_series(1, l.k), j ->
                     r.rhos[j] * r.rhos[j] / (CAST(n AS DOUBLE) - j)),
                 (acc, t) -> acc + t
             ) AS q_stat,
       CAST(n AS BIGINT) AS n_days
FROM rho r, lags l
ORDER BY lag
"""


@query("ljung_box_daily_revenue", oracle=_LJUNG_BOX_ORACLE)
def ljung_box_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box Q statistic of the daily-revenue series at lags
    1..14 — per-lag rows (lag, acf, cumulative q_stat, n_days). See
    the oracle comment block; scale posture and exactness contract are
    acf_daily_revenue's (bounded in-row series, pinned folds)."""
    import climate_anomaly_bigdata_pipeline_spark.functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x")
    )
    ser = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("sd"),
        (
            F.sum(FN.dec("x")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("m"),
        F.count(F.lit(1)).alias("n"),
    ).select(F.transform("sd", lambda s: s["x"]).alias("xs"), "m", "n")

    def dev(i: Column) -> Column:
        return F.element_at("xs", i.cast("int")) - F.col("m")

    den = F.aggregate(
        F.transform(
            F.sequence(F.lit(1).cast("long"), F.col("n")),
            lambda i: dev(i) * dev(i),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    rhos = F.transform(
        F.sequence(F.lit(1).cast("long"), F.lit(_LB_MAX_LAG).cast("long")),
        lambda k: F.aggregate(
            F.transform(
                F.sequence(F.lit(1).cast("long"), F.col("n") - k),
                lambda i: dev(i) * dev(i + k),
            ),
            F.lit(0.0),
            lambda acc, t: acc + t,
        )
        / F.col("den"),
    )
    # localCheckpoint (1 row): keep CollapseProject from inlining the
    # den / 14-lag rho folds into every output column (holt posture).
    base = ser.select("xs", "m", "n", den.alias("den")).localCheckpoint()
    withr = base.select("n", rhos.alias("rhos")).localCheckpoint()
    nd = F.col("n").cast("double")
    terms = F.transform(
        F.sequence(F.lit(1), F.col("k")),
        lambda j: F.element_at("rhos", j.cast("int"))
        * F.element_at("rhos", j.cast("int"))
        / (nd - j.cast("double")),
    )
    q = (nd * (nd + F.lit(2.0))) * F.aggregate(
        terms, F.lit(0.0), lambda acc, t: acc + t
    )
    return (
        withr.select(
            "*",
            F.explode(
                F.sequence(F.lit(1), F.lit(_LB_MAX_LAG))
            ).alias("k"),
        )
        .select(
            F.col("k").cast("int").alias("lag"),
            F.element_at("rhos", F.col("k").cast("int")).alias("acf"),
            q.alias("q_stat"),
            F.col("n").cast("long").alias("n_days"),
        )
        .orderBy("lag")
    )


# ---- population stability index: train/serve drift ---------------------------

# The drift gate every production scoring pipeline runs between its
# reference (training) window and the serving window: PSI =
# Σ_bins (q_i − p_i)·ln(q_i/p_i) over a PINNED 25-bin spine (the
# histogram_event_values bucketing — fixed range, no quantile pre-pass
# whose cross-engine interpolation would be its own exactness fight),
# with add-one smoothing so empty bins are defined. Reference = events
# before Jan 16, target = after (the corpus spans January). p/q are
# integer-ratio doubles (exact inputs, one division each); the 25
# ln-terms fold in PINNED bucket order (the ccf/list_reduce recipe) and
# the single PSI lands under round(6) — the standing guard for libm ln
# ulp. Rule-of-thumb thresholds (0.1 watch / 0.25 act) belong to the
# reader, not the query. Scale shape: one scan, one 25-key partial
# agg, a 25-row fold.
_PSI_BINS = 25
_PSI_SPLIT = "2024-01-16"

_PSI_ORACLE = f"""
WITH b AS (
    SELECT CAST(least(greatest(floor((value - 0.0) / 20.0), 0),
                      {_PSI_BINS - 1}) AS INT) AS bucket,
           CASE WHEN ts < TIMESTAMP '{_PSI_SPLIT}' THEN 1 ELSE 0 END AS is_ref
    FROM events WHERE value IS NOT NULL
),
spine AS (SELECT CAST(range AS INT) AS bucket FROM range({_PSI_BINS})),
h AS (
    SELECT s.bucket,
           COALESCE(sum(b.is_ref), 0) AS rn,
           COALESCE(sum(1 - b.is_ref), 0) AS tn
    FROM spine s LEFT JOIN b ON b.bucket = s.bucket
    GROUP BY s.bucket
),
tot AS (SELECT sum(rn) AS r, sum(tn) AS t FROM h),
terms AS (
    SELECT h.bucket,
           CAST(h.rn + 1 AS DOUBLE) / CAST(tot.r + {_PSI_BINS} AS DOUBLE) AS p,
           CAST(h.tn + 1 AS DOUBLE) / CAST(tot.t + {_PSI_BINS} AS DOUBLE) AS q
    FROM h, tot
)
SELECT CAST(tot.r AS BIGINT) AS n_ref,
       CAST(tot.t AS BIGINT) AS n_target,
       round(list_reduce(
           list_prepend(CAST(0.0 AS DOUBLE),
               (SELECT list((q - p) * ln(q / p) ORDER BY bucket)
                FROM terms)),
           (a, x) -> a + x), 6) AS psi
FROM tot
"""


@query("psi_event_value_drift", oracle=_PSI_ORACLE)
def psi_event_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index of events.value between the first and
    second half of January (pinned 25-bin spine, add-one smoothing,
    pinned-order ln fold; see the comment block)."""
    ev = Catalog(spark, sf_dir).events.filter(F.col("value").isNotNull())
    bucket = F.least(
        F.greatest(F.floor((F.col("value") - 0.0) / 20.0), F.lit(0)),
        F.lit(_PSI_BINS - 1),
    ).cast("int")
    is_ref = F.when(
        F.col("ts") < F.lit(_PSI_SPLIT).cast("timestamp"), 1
    ).otherwise(0)
    b = ev.select(bucket.alias("bucket"), is_ref.alias("is_ref"))
    spine = spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bucket"))
    h = (
        spine.join(
            b.groupBy("bucket").agg(
                F.sum("is_ref").alias("rn"),
                F.sum(1 - F.col("is_ref")).alias("tn"),
            ),
            "bucket",
            "left",
        )
        .select(
            "bucket",
            F.coalesce("rn", F.lit(0)).alias("rn"),
            F.coalesce("tn", F.lit(0)).alias("tn"),
        )
    )
    tot = Window.partitionBy()
    terms = h.select(
        "bucket",
        (
            (F.col("rn") + 1).cast("double")
            / (F.sum("rn").over(tot) + _PSI_BINS).cast("double")
        ).alias("p"),
        (
            (F.col("tn") + 1).cast("double")
            / (F.sum("tn").over(tot) + _PSI_BINS).cast("double")
        ).alias("q"),
        F.sum("rn").over(tot).alias("r"),
        F.sum("tn").over(tot).alias("t"),
    )
    term = (F.col("q") - F.col("p")) * F.log(F.col("q") / F.col("p"))
    return terms.select(
        "r", "t", F.struct(F.col("bucket"), term.alias("v")).alias("s")
    ).agg(
        F.max("r").cast("long").alias("n_ref"),
        F.max("t").cast("long").alias("n_target"),
        F.round(
            F.aggregate(
                F.array_sort(F.collect_list("s")),
                F.lit(0.0),
                lambda acc, s: acc + s.getField("v"),
            ),
            6,
        ).alias("psi"),
    )


# ---- split-conformal prediction interval coverage ----------------------------

# The distribution-free uncertainty contract (Vovk et al.; Lei et al.
# 2018, public): fit a predictor on a TRAIN split, take the
# ceil((n_cal+1)·(1−alpha))-th smallest absolute residual on a held-out
# CALIBRATION split as the interval half-width q_hat, and report the
# empirical coverage of |y − ŷ| ≤ q_hat on a TEST split — finite-sample
# guaranteed ≥ 1−alpha in expectation, and the number every deployed
# regression dashboard should show. Engine recipe: splits are the
# standing md5-bucket hash (a row's split never changes under growth);
# the OLS moments accumulate through floor-fixed-point DECIMAL(38,0)
# sums (order-free bit-exact — the whitening-audit posture), so slope/
# intercept are the SAME doubles in both engines and every residual is
# too; q_hat is an EXACT order statistic (no quantile interpolation to
# fight cross-engine): Spark side selects it with the distributed
# two-phase stable_global_index (range exchange + local row_number —
# no single-task global sort), the oracle with a plain row_number.
# Scale shape: one moments scan, one range exchange over the ~20%
# calibration split, one broadcast of the 1-row q_hat onto the test
# scan. (At 100 TB one would md5-sample the calibration split to ~1M
# rows first — the guarantee only needs exchangeability, and the same
# bucket filter composes.)
_CONF_ALPHA = 0.1
# 2^30, NOT the engine-wide 2^53: Spark's floor(double) returns BIGINT,
# and y*2^53 ~ 4.5e20 overflows long. 2^30 keeps every per-row scaled
# moment under 2^63 (x*y < 2^23 here) while truncation stays IDENTICAL
# in both engines -- the sums remain order-free and bit-exact, just at
# 1e-9 moment granularity (far below the regression's own noise).
_CONF_FIX = 1073741824.0

_CONFORMAL_ORACLE = f"""
WITH b AS (
    SELECT l_quantity AS x, l_extendedprice AS y,
           CAST(concat('0x', substr(md5(concat('conf:', l_orderkey, ':',
                                               l_linenumber)), 1, 8))
                AS BIGINT) % 10 AS bkt,
           l_orderkey, l_linenumber
    FROM lineitem
),
tr AS (
    SELECT CAST(count(*) AS DOUBLE) AS n,
           CAST(sum(CAST(floor(x * {_CONF_FIX!r}) AS DECIMAL(38,0)))
                AS DOUBLE) / {_CONF_FIX!r} AS sx,
           CAST(sum(CAST(floor(y * {_CONF_FIX!r}) AS DECIMAL(38,0)))
                AS DOUBLE) / {_CONF_FIX!r} AS sy,
           CAST(sum(CAST(floor(x * y * {_CONF_FIX!r}) AS DECIMAL(38,0)))
                AS DOUBLE) / {_CONF_FIX!r} AS sxy,
           CAST(sum(CAST(floor(x * x * {_CONF_FIX!r}) AS DECIMAL(38,0)))
                AS DOUBLE) / {_CONF_FIX!r} AS sxx
    FROM b WHERE bkt <= 5
),
fit AS (
    SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
               AS intercept
    FROM tr
),
cal AS (
    SELECT abs(y - (intercept + slope * x)) AS r,
           l_orderkey, l_linenumber
    FROM b, fit WHERE bkt IN (6, 7)
),
kk AS (
    SELECT CAST(least(count(*),
                      ceil((count(*) + 1) * {1.0 - _CONF_ALPHA})) AS BIGINT)
               AS k,
           CAST(count(*) AS BIGINT) AS n_cal
    FROM cal
),
q AS (
    SELECT r AS q_hat FROM (
        SELECT r, row_number() OVER (
            ORDER BY r, l_orderkey, l_linenumber) AS rn
        FROM cal
    ) WHERE rn = (SELECT k FROM kk)
),
te AS (
    SELECT CAST(count(*) AS BIGINT) AS n_test,
           CAST(sum(CASE WHEN abs(y - (intercept + slope * x)) <= q_hat
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
    FROM b, fit, q WHERE bkt >= 8
)
SELECT (SELECT CAST(n AS BIGINT) FROM tr) AS n_train,
       (SELECT n_cal FROM kk) AS n_cal,
       te.n_test,
       round((SELECT slope FROM fit), 6) AS slope,
       round((SELECT intercept FROM fit), 6) AS intercept,
       round((SELECT q_hat FROM q), 6) AS q_hat,
       round(CAST(te.n_covered AS DOUBLE) / CAST(te.n_test AS DOUBLE), 6)
           AS coverage
FROM te
"""


@query("conformal_interval_coverage", oracle=_CONFORMAL_ORACLE)
def conformal_interval_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal 90% prediction interval for extendedprice ~
    quantity: train/calibration/test md5 splits, exact order-statistic
    half-width on calibration, empirical coverage on test (see the
    comment block)."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    li = Catalog(spark, sf_dir).lineitem
    fix = F.lit(_CONF_FIX)
    bkt = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("conf:"),
                        F.col("l_orderkey"),
                        F.lit(":"),
                        F.col("l_linenumber"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10
    )
    b = li.select(
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
        bkt.alias("bkt"),
        "l_orderkey",
        "l_linenumber",
    )

    def fxsum(col):
        return F.sum(F.floor(col * fix).cast("decimal(38,0)")).cast(
            "double"
        ) / fix

    tr = b.filter(F.col("bkt") <= 5).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        fxsum(F.col("x")).alias("sx"),
        fxsum(F.col("y")).alias("sy"),
        fxsum(F.col("x") * F.col("y")).alias("sxy"),
        fxsum(F.col("x") * F.col("x")).alias("sxx"),
    )
    trr = tr.first()
    n, sx, sy, sxy, sxx = trr["n"], trr["sx"], trr["sy"], trr["sxy"], trr["sxx"]
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    intercept = (sy - slope * sx) / n
    resid = F.abs(F.col("y") - (F.lit(intercept) + F.lit(slope) * F.col("x")))
    cal = b.filter(F.col("bkt").isin(6, 7)).select(
        resid.alias("r"), "l_orderkey", "l_linenumber"
    )
    idx, n_cal = R.stable_global_index(
        cal,
        ["r", "l_orderkey", "l_linenumber"],
        out_col="rn",
        return_total=True,
    )
    k = min(n_cal, math.ceil((n_cal + 1) * (1.0 - _CONF_ALPHA)))
    q = idx.filter(F.col("rn") == k - 1).select(F.col("r").alias("q_hat"))
    te = (
        b.filter(F.col("bkt") >= 8)
        .join(F.broadcast(q))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(resid <= F.col("q_hat"), 1).otherwise(0)
            ).cast("long").alias("n_covered"),
            F.first("q_hat").alias("q_hat"),
        )
    )
    return te.select(
        F.lit(int(n)).cast("long").alias("n_train"),
        F.lit(n_cal).cast("long").alias("n_cal"),
        "n_test",
        F.round(F.lit(slope), 6).alias("slope"),
        F.round(F.lit(intercept), 6).alias("intercept"),
        F.round("q_hat", 6).alias("q_hat"),
        F.round(
            F.col("n_covered").cast("double") / F.col("n_test").cast("double"),
            6,
        ).alias("coverage"),
    )


# ---- seasonal-naive forecast backtest -----------------------------------------

# The forecast-evaluation contract the timeseries family was missing
# (ANN has recall@k, the quantizer has silhouette — forecasting gets a
# BACKTEST): walk the daily-revenue series and score the two standard
# baselines every production forecaster must beat — naive (tomorrow =
# today) and seasonal-naive (tomorrow = same weekday last week,
# Hyndman-Athanasopoulos's benchmark pair, public) — by MAE and MAPE
# over all days where the forecast is defined. Exactness recipe: the
# daily series is the ACF family's exact-DECIMAL cents-rounded
# revenue, so each absolute error is a difference of cent-exact
# doubles cast back to DECIMAL(18,2) and summed EXACTLY (MAE needs no
# fixed-point); MAPE's per-day ratio is a double folded through the
# 2^30 floor fixed-point sum (the conformal recipe — ratios < 2^33).
# Scale shape: one lineitem scan into a days-sized series, one
# days-sized window (the documented ACF single-partition posture —
# the series is bounded by the calendar), a 2-row rollup.
_BT_FIX = 1073741824.0  # 2^30 (ratio-magnitude fixed point)

_BACKTEST_ORACLE = f"""
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem GROUP BY 1
),
w AS (
    SELECT d, x,
           lag(x, 1) OVER (ORDER BY d) AS naive_fc,
           lag(x, 7) OVER (ORDER BY d) AS snaive_fc
    FROM daily
),
m AS (
    SELECT 'naive' AS method, x, naive_fc AS fc FROM w WHERE naive_fc IS NOT NULL
    UNION ALL
    SELECT 'seasonal_naive' AS method, x, snaive_fc AS fc
    FROM w WHERE snaive_fc IS NOT NULL
)
SELECT method,
       CAST(count(*) AS BIGINT) AS n_days,
       round(CAST(sum(CAST(abs(x - fc) AS DECIMAL(18,2))) AS DOUBLE)
             / count(*), 4) AS mae,
       round(CAST(sum(CAST(floor(abs(x - fc) / x * {_BT_FIX!r})
                           AS DECIMAL(38,0))) AS DOUBLE) / {_BT_FIX!r}
             / count(*), 6) AS mape
FROM m
GROUP BY method
ORDER BY method
"""


@query("seasonal_naive_backtest", oracle=_BACKTEST_ORACLE)
def seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAE/MAPE backtest of the naive and seasonal-naive forecasting
    baselines over the exact daily-revenue series (see the comment
    block) — the benchmark pair every forecaster must beat."""
    from pyspark.sql import Window as W

    from climate_anomaly_bigdata_pipeline_spark import functions as FN

    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(
        F.date_trunc("day", "l_shipdate").alias("d")
    ).agg(F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x"))
    w = W.orderBy("d")
    lagged = daily.select(
        "x",
        F.lag("x", 1).over(w).alias("naive_fc"),
        F.lag("x", 7).over(w).alias("snaive_fc"),
    )
    m = lagged.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("naive").alias("method"),
                    F.col("x").alias("x"),
                    F.col("naive_fc").alias("fc"),
                ),
                F.struct(
                    F.lit("seasonal_naive").alias("method"),
                    F.col("x").alias("x"),
                    F.col("snaive_fc").alias("fc"),
                ),
            )
        ).alias("r")
    ).select("r.*").filter(F.col("fc").isNotNull())
    fix = F.lit(_BT_FIX)
    err = F.abs(F.col("x") - F.col("fc"))
    return (
        m.groupBy("method")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.round(
                F.sum(err.cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mae"),
            F.round(
                F.sum(
                    F.floor(err / F.col("x") * fix).cast("decimal(38,0)")
                ).cast("double")
                / fix
                / F.count(F.lit(1)),
                6,
            ).alias("mape"),
        )
        .orderBy("method")
    )
