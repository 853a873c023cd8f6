"""Coverage queries rounding out SURVEY §2's engine additions: CUBE,
deterministic sampling, multi-source union, approximate distinct."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.queries import query, sql_query

_CUBE_ORACLE = """
SELECT
    l_returnflag, l_linestatus,
    round(sum(l_quantity), 2) AS sum_qty,
    count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


@query("cube_lineitem", oracle=_CUBE_ORACLE)
def cube_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE totals over (flag, status): all four grouping combinations
    in one pass (Expand + single aggregation, not four scans)."""
    li = Catalog(spark, sf_dir).lineitem
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


_SAMPLE_ORACLE = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE CAST(concat('0x', substr(md5(concat('sample:', o_orderkey)), 1, 8)) AS BIGINT)
      % 100 < 10
"""


@query("deterministic_sample", oracle=_SAMPLE_ORACLE)
def deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% reproducible sample via md5 bucketing on the key.

    Deviation from the reference's ``df.sample`` (SURVEY §2.6 O3):
    random sampling isn't oracle-checkable or stable across runs —
    hash-mod sampling is deterministic, engine-portable, and stable
    under data growth (a row's membership never changes)."""
    od = Catalog(spark, sf_dir).orders
    bucket = F.conv(
        F.substring(F.md5(F.concat(F.lit("sample:"), F.col("o_orderkey"))), 1, 8),
        16,
        10,
    ).cast("long") % 100
    return od.filter(bucket < 10).select("o_orderkey", "o_custkey", "o_totalprice")


_UNION_ORACLE = """
WITH activity AS (
    SELECT user_id AS actor_id, 'event' AS kind FROM events
    UNION ALL
    SELECT o_custkey AS actor_id, 'order' AS kind FROM orders
)
SELECT kind, count(*) AS n, count(DISTINCT actor_id) AS n_actors
FROM activity
GROUP BY kind
"""


@query("union_multi_source", oracle=_UNION_ORACLE)
def union_multi_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unionByName over two differently-shaped sources projected to a
    shared activity schema (SURVEY §2.6: union as the natural
    multi-source ingest generalization)."""
    c = Catalog(spark, sf_dir)
    ev = c.events.select(F.col("user_id").alias("actor_id"), F.lit("event").alias("kind"))
    od = c.orders.select(F.col("o_custkey").alias("actor_id"), F.lit("order").alias("kind"))
    return (
        ev.unionByName(od)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("actor_id").alias("n_actors"),
        )
    )


_INTERSECT_ORACLE = """
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'O'
"""


@query("intersect_customers", oracle=_INTERSECT_ORACLE)
def intersect_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers holding both finished and open
    orders — completes the set-operation trio with union/except."""
    od = Catalog(spark, sf_dir).orders
    f = od.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("c_custkey")
    )
    o = od.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("c_custkey")
    )
    return f.intersect(o)


# The HLL estimate itself is engine-specific, so it stays OUT of the
# hashed columns: the query emits the exact count plus a boolean
# asserting the sketch landed within tolerance, and the oracle asserts
# the exact count and TRUE. A broken/absent sketch flips the boolean
# and fails the hash — the approx path IS verified, portably.
_APPROX_DISTINCT_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events
GROUP BY event_type
"""


@query("approx_distinct_users", oracle=_APPROX_DISTINCT_ORACLE)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct per event type, verified against the exact
    count: within_tol = |approx − exact| / exact <= 0.05 (HLL++ with
    rsd=0.02 is well inside 5% at any cardinality)."""
    ev = Catalog(spark, sf_dir).events
    agg = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users"),
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users"),
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
    ) <= 0.05
    return agg.select("event_type", "exact_users", within.alias("within_tol"))


# GROUPING SETS totals: one Expand and a single aggregation over the
# three sets, the same plan family as rollup/cube, no multi-scan.
sql_query("grouping_sets_lineitem", """
SELECT
    l_returnflag, l_linestatus,
    round(sum(l_quantity), 2) AS sum_qty,
    count(*) AS n_rows
FROM {lineitem}
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""")


_STRAT_SAMPLE_ORACLE = """
SELECT event_id, event_type, user_id
FROM events
WHERE CAST(concat('0x', substr(md5(concat('strat:', event_id)), 1, 8)) AS BIGINT)
      % 10000 <
      CASE event_type
           WHEN 'view' THEN 500
           WHEN 'click' THEN 2000
           ELSE 10000
      END
"""


@query("stratified_sample_events", oracle=_STRAT_SAMPLE_ORACLE)
def stratified_sample_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum deterministic sampling — the training-mix rebalance:
    downsample dominant event types (5% of views, 20% of clicks), keep
    everything else. md5-bucket membership is reproducible and stable
    under corpus growth; pure row-local expression, scales with the
    scan."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    ev = Catalog(spark, sf_dir).events
    return R.stratified_sample(
        ev.select("event_id", "event_type", "user_id"),
        strata_col="event_type",
        rates={"view": 0.05, "click": 0.20},
        key_col="event_id",
        default_rate=1.0,
        seed="strat",
    ).select("event_id", "event_type", "user_id")


# ---- per-source quota cap ---------------------------------------------------

_QUOTA_ORACLE = """
WITH ranked AS (
    SELECT doc_id, source,
           row_number() OVER (
               PARTITION BY source
               ORDER BY md5(concat('quota:', CAST(doc_id AS VARCHAR))), doc_id
           ) AS quota_rank
    FROM documents
)
SELECT doc_id, source, CAST(quota_rank AS BIGINT) AS quota_rank
FROM ranked WHERE quota_rank <= 25
"""


@query("quota_sample_per_source", oracle=_QUOTA_ORACLE)
def quota_sample_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota cap (<=25 docs per source, md5-ordered): the
    per-domain cap a crawl-derived training mix applies so one host
    can't dominate. Deterministic, partitioning-independent selection;
    one shuffle by source."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    return R.quota_per_group(docs, ["source"], "doc_id", 25).select(
        "doc_id", "source", F.col("quota_rank").cast("long").alias("quota_rank")
    )


# ---- approximate quantiles, verified against exact --------------------------

# Same verification shape as approx_distinct_users: the sketch value is
# engine-specific so it stays OUT of the hash — the query emits the
# exact quantiles plus booleans asserting the approx landed within a
# value-space tolerance, and the oracle asserts the exact values + TRUE.
_APPROX_QUANTILE_ORACLE = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50_exact,
       round(quantile_cont(value, 0.99), 4) AS p99_exact,
       TRUE AS p50_within_tol,
       TRUE AS p99_within_tol
FROM events
GROUP BY event_type
"""


@query("approx_quantiles_events", oracle=_APPROX_QUANTILE_ORACLE)
def approx_quantiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (Greenwald-Khanna sketch, the mergeable
    one-pass path that replaces exact sort-based quantiles at scale)
    per event type, verified against exact interpolated quantiles:
    within_tol = |approx − exact| / (max − min) <= 0.02 per group.
    The sketch is what you'd run at 100 TB; the exact value is the
    small-SF certificate that it's wired correctly."""
    ev = Catalog(spark, sf_dir).events
    agg = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("p50x"),
        F.expr("percentile(value, 0.99)").alias("p99x"),
        F.expr("percentile_approx(value, 0.5, 1000)").alias("p50a"),
        F.expr("percentile_approx(value, 0.99, 1000)").alias("p99a"),
        F.count("value").alias("nv"),
    )
    # The certificate is GK's ACTUAL contract — rank, not value: the
    # returned element's rank must be within n/accuracy of the target
    # (+1 for the ceil-vs-interpolated rank-convention difference).
    # A value-space tolerance is unprincipled here: in a sparse tail
    # the two order statistics bracketing the target rank can sit an
    # arbitrary fraction of the value range apart, so a correct sketch
    # would "fail" any fixed value band at small n. One extra
    # groups-sized pass computes the ranks exactly at any SF.
    j = ev.select("event_type", "value").join(
        F.broadcast(agg.select("event_type", "p50a", "p99a")), "event_type"
    )
    cert = j.groupBy("event_type").agg(
        F.count(F.when(F.col("value") < F.col("p50a"), 1)).alias("lt50"),
        F.count(F.when(F.col("value") <= F.col("p50a"), 1)).alias("le50"),
        F.count(F.when(F.col("value") < F.col("p99a"), 1)).alias("lt99"),
        F.count(F.when(F.col("value") <= F.col("p99a"), 1)).alias("le99"),
    )
    out = agg.join(cert, "event_type")
    slack = F.col("nv") / 1000.0 + 1.0

    def rank_ok(lt, le, q):
        target = F.lit(q) * F.col("nv")
        return (F.col(lt) < target + slack) & (F.col(le) >= target - slack)

    return out.select(
        "event_type",
        F.round("p50x", 4).alias("p50_exact"),
        F.round("p99x", 4).alias("p99_exact"),
        rank_ok("lt50", "le50", 0.5).alias("p50_within_tol"),
        rank_ok("lt99", "le99", 0.99).alias("p99_within_tol"),
    )


# ---- training-mix rebalance to target proportions ---------------------------

_MIX_ORACLE = """
WITH counts AS (
    SELECT source, count(*) AS n FROM documents GROUP BY source
),
tot AS (SELECT CAST(sum(n) AS DOUBLE) AS t FROM counts),
targets AS (
    SELECT source, n,
           CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
                       WHEN 'src1' THEN CAST(0.1 AS DOUBLE)
                       WHEN 'src2' THEN CAST(0.02 AS DOUBLE)
           END AS target
    FROM counts
),
rates AS (
    -- least() ignores NULLs, so guard the absent-target case explicitly
    SELECT source,
           CASE WHEN target IS NOT NULL
                THEN least(CAST(1.0 AS DOUBLE), target * t / CAST(n AS DOUBLE))
           END AS rate
    FROM targets, tot
)
SELECT d.doc_id, d.source
FROM documents d JOIN rates r USING (source)
WHERE r.rate IS NOT NULL
  AND CAST(concat('0x', substr(md5(concat('mix:', CAST(d.doc_id AS VARCHAR))),
                               1, 8)) AS BIGINT) % 10000 < r.rate * 10000
"""


@query("mix_rebalance_sources", oracle=_MIX_ORACLE)
def mix_rebalance_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rebalance the corpus toward target source shares (src0 -> 50%,
    src1 -> 10%, src2 -> 2%, everything else dropped): over-target
    sources thin deterministically, under-target sources keep every
    row. The domain-mixing knob of a training pipeline; groups-sized
    rate table broadcast, row-local md5-Bernoulli filter."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    docs = Catalog(spark, sf_dir).documents.select("doc_id", "source")
    return R.mix_to_target(
        docs, "source", {"src0": 0.5, "src1": 0.1, "src2": 0.02}, "doc_id"
    ).select("doc_id", "source")


# --- Wide → long reshape (unpivot/melt) --------------------------------------

_UNPIVOT_ORACLE = """
WITH wide AS (
    SELECT
        year(l_shipdate) AS ship_year,
        round(sum(l_quantity), 4) AS sum_qty,
        round(sum(l_extendedprice), 4) AS sum_price,
        round(sum(l_discount), 4) AS sum_disc
    FROM lineitem
    GROUP BY year(l_shipdate)
)
SELECT ship_year, measure, value
FROM wide UNPIVOT (value FOR measure IN (sum_qty, sum_price, sum_disc))
"""


@query("unpivot_lineitem_yearly", oracle=_UNPIVOT_ORACLE)
def unpivot_lineitem_yearly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yearly shipment sums reshaped wide → long: the inverse of pivot.
    The Expand node emits one row per (year × measure) in-place — no
    shuffle beyond the grouping aggregation itself."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    li = Catalog(spark, sf_dir).lineitem
    wide = li.groupBy(F.year("l_shipdate").alias("ship_year")).agg(
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 4).alias("sum_price"),
        F.round(F.sum("l_discount"), 4).alias("sum_disc"),
    )
    return R.unpivot_long(
        wide, ["ship_year"], ["sum_qty", "sum_price", "sum_disc"]
    )


# --- Full-outer reconciliation audit -----------------------------------------

_RECONCILE_ORACLE = """
WITH l AS (
    SELECT c_custkey, round(c_acctbal, 4) AS c_acctbal
    FROM customer WHERE c_acctbal > 0
), r AS (
    SELECT o_custkey AS c_custkey,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS total_spent
    FROM orders GROUP BY o_custkey
)
SELECT
    coalesce(l.c_custkey, r.c_custkey) AS c_custkey,
    l.c_acctbal, r.n_orders, r.total_spent,
    CASE WHEN l.c_custkey IS NOT NULL AND r.c_custkey IS NOT NULL THEN 'both'
         WHEN r.c_custkey IS NULL THEN 'left_only'
         ELSE 'right_only' END AS presence
FROM l FULL OUTER JOIN r ON l.c_custkey = r.c_custkey
"""


@query("full_outer_reconcile_customers", oracle=_RECONCILE_ORACLE)
def full_outer_reconcile_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audit join: positive-balance customers vs per-customer order
    rollups, keeping every key from either side with a presence tag
    (both / left_only / right_only). One shuffle on the key; presence
    derives from null-side detection in the same pass."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    c = Catalog(spark, sf_dir)
    left = (
        c.customer.filter(F.col("c_acctbal") > 0)
        .select("c_custkey", F.round("c_acctbal", 4).alias("c_acctbal"))
    )
    right = c.orders.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 4).alias("total_spent"),
    )
    return R.full_outer_reconcile(left, right, "c_custkey")


# --- Distribution position (percent_rank / cume_dist) ------------------------

_PCT_RANK_ORACLE = """
SELECT
    o_orderkey, o_orderstatus, round(o_totalprice, 4) AS o_totalprice,
    round(percent_rank() OVER w, 6) AS pct_rank,
    round(cume_dist() OVER w, 6) AS cume_dist
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice)
"""


@query("pct_rank_orders", oracle=_PCT_RANK_ORACLE)
def pct_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every order's distribution position (percent_rank + cume_dist)
    within its status group — one window, one sort per partition; ties
    share ranks identically in both engines."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    o = Catalog(spark, sf_dir).orders.select(
        "o_orderkey", "o_orderstatus", F.round("o_totalprice", 4).alias("o_totalprice")
    )
    return R.rank_distribution(
        o, "o_totalprice", partition_cols=["o_orderstatus"]
    )


# ---- stable global index (distributed zipWithIndex) -------------------------

_GLOBAL_INDEX_ORACLE = """
SELECT event_id,
       CAST(row_number() OVER (ORDER BY event_id) - 1 AS BIGINT) AS idx
FROM events
"""


@query("stable_global_index_events", oracle=_GLOBAL_INDEX_ORACLE)
def stable_global_index_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 0-based global index over events by event_id — computed
    with the two-phase partition-offset recipe (range exchange +
    bounded per-partition count collect + local row_number), NOT the
    oracle's single-task global window: every stage stays parallel at
    any scale. Values are identical; only the physical plan differs."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    ev = Catalog(spark, sf_dir).events.select("event_id")
    # pin_input=False: the input is a bare one-column fact scan —
    # pinning would materialize a fact-sized copy to save re-reading
    # a columnar scan that costs less than the copy (ADVICE r13).
    return R.stable_global_index(
        ev, ["event_id"], out_col="idx", pin_input=False
    )


# ---- mergeable HLL sketch rollup (Apache DataSketches) ----------------------

_HLL_ROLLUP_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events
GROUP BY event_type
UNION ALL
SELECT '__total__' AS event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM events
"""


@query("hll_sketch_rollup", oracle=_HLL_ROLLUP_ORACLE)
def hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count rollup via DataSketches HLL
    (hll_sketch_agg / hll_union_agg, Spark 3.5+): per-type sketches are
    built in one scan, and the GRAND-TOTAL estimate comes from MERGING
    those sketches — no second scan, the property approx_count_distinct
    lacks (its partials aren't first-class values). At 100 TB this is
    how distinct-count dashboards roll up: store sketch bytes per
    partition/day, union at query time. The estimate itself is
    engine-specific, so the hashed contract is the exact count plus a
    within-5% accuracy flag (HLL lgK=12 keeps ~1.6% rse; 5% is a safe
    certificate) — same pattern as approx_distinct_users."""
    ev = Catalog(spark, sf_dir).events
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    total = per.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.sum(F.lit(0)).alias("_z"),  # placeholder keeps agg non-empty on 0 rows
    ).select("est")
    exact_total = ev.agg(F.countDistinct("user_id").alias("exact_users"))
    per_out = per.select(
        "event_type",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.hll_sketch_estimate("sk") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )
    total_out = exact_total.crossJoin(total).select(
        F.lit("__total__").alias("event_type"),
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )
    return per_out.unionByName(total_out)


# ---- mergeable quantile-digest rollup ---------------------------------------

_QDIGEST_ORACLE = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50_exact,
       round(quantile_cont(value, 0.95), 4) AS p95_exact,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol
FROM events
GROUP BY event_type
UNION ALL
SELECT '__total__' AS event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(quantile_cont(value, 0.5), 4) AS p50_exact,
       round(quantile_cont(value, 0.95), 4) AS p95_exact,
       TRUE AS p50_within_tol,
       TRUE AS p95_within_tol
FROM events
"""


@query("quantile_digest_rollup", oracle=_QDIGEST_ORACLE)
def quantile_digest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup — the quantile member of the sketch
    family (HLL: hll_sketch_rollup, CMS: cms_heavy_hitters). Per-type
    fixed-edge histogram digests are built in one scan and the
    GRAND-TOTAL quantiles come from MERGING those digests (sum counts
    by bin) — the property percentile_approx lacks, since Spark never
    exposes its GK partials as values. Estimates carry a DETERMINISTIC
    value-space bound (≤ bin width; 512 bins), so the hashed contract
    is the exact quantile + an always-true certificate flag
    (|digest − exact| ≤ 3 bins ≪ the bound's safety margin), the
    approx_distinct pattern. At 100 TB: digests stored per
    partition/day, merged at query time — no raw re-scan."""
    from climate_anomaly_bigdata_pipeline_spark.operators import sketches as SK

    ev = Catalog(spark, sf_dir).events
    row = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx")).first()
    est = SK.quantile_digest_rollup(
        ev, "event_type", "value", quantiles=[0.5, 0.95], n_bins=512,
        bounds=(row["mn"], row["mx"]),
    )
    spread = float(row["mx"]) - float(row["mn"])
    # 3 bins of digest error, plus an order-statistic-gap allowance of
    # O(spread/n): exact quantiles interpolate between order statistics
    # that can sit in different (possibly distant) bins when a group's
    # tail is sparse — a small-n artifact, negligible at real SFs.
    tol = 3 * spread / 512 + F.lit(8.0 * spread) / F.col("n")

    per = ev.groupBy(F.col("event_type").alias("g")).agg(
        F.expr("percentile(value, 0.5)").alias("p50x"),
        F.expr("percentile(value, 0.95)").alias("p95x"),
    )
    tot = ev.agg(
        F.expr("percentile(value, 0.5)").alias("p50x"),
        F.expr("percentile(value, 0.95)").alias("p95x"),
    ).select(F.lit("__total__").alias("g"), "p50x", "p95x")
    exact = per.unionByName(tot)
    return est.join(exact, "g").select(
        F.col("g").alias("event_type"),
        F.col("n").cast("long").alias("n"),
        F.round("p50x", 4).alias("p50_exact"),
        F.round("p95x", 4).alias("p95_exact"),
        (F.abs(F.col("q_50") - F.col("p50x")) <= tol).alias("p50_within_tol"),
        (F.abs(F.col("q_95") - F.col("p95x")) <= tol).alias("p95_within_tol"),
    )


# ---- deterministic weighted sampling (Efraimidis-Spirakis A-ES) -------------

_WEIGHTED_SAMPLE_K = 100

_WEIGHTED_SAMPLE_ORACLE = f"""
WITH keyed AS (
    SELECT c_custkey, round(c_acctbal, 4) AS c_acctbal,
           ln((CAST(concat('0x', substr(md5(concat('ws:',
                   CAST(c_custkey AS VARCHAR))), 1, 8)) AS BIGINT) + 1.0)
              / 4294967296.0) / c_acctbal AS k
    FROM customer
    WHERE c_acctbal > 0
)
SELECT c_custkey, c_acctbal
FROM keyed
ORDER BY round(k, 9) DESC, c_custkey
LIMIT {_WEIGHTED_SAMPLE_K}
"""


@query("weighted_sample_customers", oracle=_WEIGHTED_SAMPLE_ORACLE)
def weighted_sample_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement via Efraimidis-Spirakis
    exponential keys: each row draws u from a deterministic md5 stream
    and ranks by ln(u)/w — the top-k under that key is an exact
    weighted sample, computed as one scan + TakeOrdered (no shuffle of
    the full table, no rejection loop; reproducible at any
    parallelism because u depends only on the key). Keys are rounded
    to 9 decimals with a c_custkey tiebreak so cross-engine float
    ordering can't flip the selection."""
    c = Catalog(spark, sf_dir).customer.filter(F.col("c_acctbal") > 0)
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ws:"), F.col("c_custkey").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("double")
            + 1.0
        )
        / F.lit(4294967296.0)
    )
    keyed = c.select(
        "c_custkey",
        F.round("c_acctbal", 4).alias("c_acctbal"),
        F.round(F.log(u) / F.col("c_acctbal"), 9).alias("__k"),
    )
    return (
        keyed.orderBy(F.col("__k").desc(), "c_custkey")
        .limit(_WEIGHTED_SAMPLE_K)
        .drop("__k")
    )


# ---- Count-Min sketch heavy hitters -----------------------------------------

_CMS_EPS = 0.001
_CMS_CONF = 0.99
_CMS_SEED = 42

_CMS_ORACLE = """
WITH counts AS (
    SELECT user_id, CAST(count(*) AS BIGINT) AS exact_cnt
    FROM events GROUP BY user_id
)
SELECT user_id, exact_cnt, TRUE AS within_bound
FROM counts
ORDER BY exact_cnt DESC, user_id
LIMIT 10
"""


@query("cms_heavy_hitters", oracle=_CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters certified by a Count-Min sketch: the exact top-10
    event users, each annotated with whether the CMS estimate respects
    the sketch contract (never under, over by at most eps*N). The
    sketch is mergeable constant-size state built in one pass
    (df.stat.countMinSketch — Spark merges per-partition sketches);
    point queries are driver-side against the bounded sketch, the
    same shape a streaming heavy-hitter monitor serves. The estimate
    itself is hash-seed-specific, so the hashed contract is the exact
    count + the bound certificate (the approx_distinct pattern)."""
    from climate_anomaly_bigdata_pipeline_spark.operators import sketches as SK

    ev = Catalog(spark, sf_dir).events.select("user_id")
    n_total = ev.count()
    # Distributed one-pass sketch build: count_min_sketch is a true
    # aggregate (per-partition sketches merged), returning the sketch
    # bytes; point queries read them via the JVM sketch class behind a
    # guarded wrapper — if the private `_jvm` surface moves in a Spark
    # minor, the estimates rebuild from a portable DataFrame CMS with
    # the same contract (operators/sketches.py).
    sk_bytes = ev.agg(
        F.count_min_sketch(
            "user_id", F.lit(_CMS_EPS), F.lit(_CMS_CONF), F.lit(_CMS_SEED)
        ).alias("sk")
    ).first()["sk"]
    slack = int(_CMS_EPS * n_total) + 1
    top = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
        .orderBy(F.col("exact_cnt").desc(), "user_id")
        .limit(10)
        .collect()
    )
    est = SK.cms_estimates(
        spark,
        sk_bytes,
        [r["user_id"] for r in top],
        fallback=(ev, "user_id"),
        eps=_CMS_EPS,
        confidence=_CMS_CONF,
        seed=_CMS_SEED,
    )
    rows = [
        (
            r["user_id"],
            r["exact_cnt"],
            bool(r["exact_cnt"] <= est[r["user_id"]] <= r["exact_cnt"] + slack),
        )
        for r in top
    ]
    return spark.createDataFrame(
        rows, "user_id long, exact_cnt long, within_bound boolean"
    )


# ---- NTILE deciles without the single-task sort -----------------------------

_NTILE_ORACLE = """
WITH t AS (
    SELECT o_orderkey, o_totalprice,
           ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
    FROM orders
)
SELECT CAST(decile AS BIGINT) AS decile,
       CAST(count(*) AS BIGINT) AS n,
       round(min(o_totalprice), 2) AS min_total,
       round(max(o_totalprice), 2) AS max_total
FROM t GROUP BY decile
"""


@query("ntile_deciles_orders", oracle=_NTILE_ORACLE)
def ntile_deciles_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile assignment with exact NTILE semantics but NO single-task
    sort: a global-window ntile() plans every row through one
    partition, so instead the engine's distributed zipWithIndex
    (stable_global_index: range exchange + bounded offset collect)
    produces the global rank and NTILE's tile arithmetic — the first
    n%k tiles one row larger — is a row-local expression on it. Values
    are identical to the oracle's ntile(); every stage stays parallel
    at 100 TB."""
    from climate_anomaly_bigdata_pipeline_spark.operators import relational as R

    orders = Catalog(spark, sf_dir).orders.select("o_orderkey", "o_totalprice")
    # pin_input=False: bare two-column fact scan (ADVICE r13), and
    # return_total=True reuses the operator's per-partition counts for
    # N — one fewer full scan than a separate orders.count().
    idx, n = R.stable_global_index(
        orders,
        ["o_totalprice", "o_orderkey"],
        out_col="idx",
        pin_input=False,
        return_total=True,
    )
    k = 10
    q, r = n // k, n % k
    big = q + 1
    decile = (
        F.when(F.col("idx") < r * big, F.floor(F.col("idx") / big))
        .otherwise(r + F.floor((F.col("idx") - r * big) / q))
        + 1
    )
    return (
        idx.withColumn("decile", decile.cast("long"))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("min_total"),
            F.round(F.max("o_totalprice"), 2).alias("max_total"),
        )
    )


# ---- order-independent table fingerprint ------------------------------------

# Row repr uses only integer-exact pieces (keys, codes, epoch micros,
# integer cents) so the concatenated string is byte-identical across
# engines — no double formatting in the hash input.
_FINGERPRINT_ORACLE = """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(concat('0x', substr(md5(concat('0:',
            CAST(o_orderkey AS VARCHAR), '|',
            CAST(o_custkey AS VARCHAR), '|',
            o_orderstatus, '|',
            o_orderpriority, '|',
            CAST(epoch_us(CAST(o_orderdate AS TIMESTAMP)) AS VARCHAR), '|',
            CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR)
       )), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum
FROM orders
"""


@query("table_fingerprint_orders", oracle=_FINGERPRINT_ORACLE)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum: sum of a portable 32-bit md5
    over a canonical per-row string — one scan, no sort, partials
    combine map-side, so two replicas/snapshots compare with one scalar
    each at any scale (the anti-entropy check behind CDC validation and
    migration sign-off; compose with cdc_snapshot_diff to locate rows
    once a mismatch fires). Doubles enter the hash as integer cents —
    engine-neutral bytes, no float formatting."""
    from climate_anomaly_bigdata_pipeline_spark.operators.dedup import md5_hash32

    o = Catalog(spark, sf_dir).orders
    row_repr = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        "o_orderstatus",
        "o_orderpriority",
        F.unix_micros("o_orderdate").cast("string"),
        F.round(F.col("o_totalprice") * 100, 0).cast("long").cast("string"),
    )
    return o.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(md5_hash32(row_repr, 0)).cast("long").alias("checksum"),
    )


# ---- sliding distinct-users from merged tumbling HLL sketches ---------------

_HLL_SLIDING_ORACLE = """
WITH hours AS (
    SELECT DISTINCT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events
)
SELECT h.h AS window_start,
       CAST((
           SELECT count(DISTINCT e.user_id) FROM events e
           WHERE CAST(e.ts AS TIMESTAMP) >= h.h
             AND CAST(e.ts AS TIMESTAMP) < h.h + INTERVAL 2 HOUR
       ) AS BIGINT) AS exact_users,
       TRUE AS within_5pct
FROM hours h
"""


@query("hll_sliding_from_tumbling", oracle=_HLL_SLIDING_ORACLE)
def hll_sliding_from_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counts WITHOUT rescanning: store one HLL
    sketch per tumbling hour, then answer every 2-hour sliding window
    by MERGING the two adjacent hourly sketches (``hll_union``) — the
    time-axis twin of hll_sketch_rollup's group-axis merge, and the
    reason mergeable sketches beat approx_count_distinct for telemetry
    (store per hour once, answer any window later). The left join keeps
    hours whose successor hour is silent (window = one sketch).
    Contract: exact distinct count + a within-5% certificate on the
    merged estimate (lgK=12 ≈ 1.6% rse)."""
    ev = Catalog(spark, sf_dir).events
    # hourly feeds both join sides — checkpoint so the scan + sketch
    # shuffle runs once, not per branch.
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.hll_sketch_agg("user_id").alias("sk")).localCheckpoint()
    nxt = hourly.select(
        (F.col("h") - F.expr("INTERVAL 1 HOUR")).alias("h"),
        F.col("sk").alias("sk_next"),
    )
    merged = hourly.join(nxt, "h", "left").select(
        F.col("h").alias("window_start"),
        F.when(
            F.col("sk_next").isNull(), F.hll_sketch_estimate("sk")
        ).otherwise(
            F.hll_sketch_estimate(F.hll_union("sk", "sk_next"))
        ).alias("est"),
    )
    # Exact side stays keyed (no inequality join): an event in hour h
    # belongs to exactly the sliding windows starting at h and h-1h —
    # explode to those two starts, keep starts that are observed hours
    # (the oracle's window set), one countDistinct by window.
    hour = F.date_trunc("hour", F.col("ts"))
    cover = ev.select(
        "user_id",
        F.explode(
            F.array(hour, hour - F.expr("INTERVAL 1 HOUR"))
        ).alias("window_start"),
    )
    observed = ev.select(hour.alias("window_start")).distinct()
    exact = (
        cover.join(observed, "window_start", "left_semi")
        .groupBy("window_start")
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return exact.join(merged, "window_start").select(
        "window_start",
        F.col("exact_users").cast("long").alias("exact_users"),
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("within_5pct"),
    )


# ---- HLL precision sweep: the sketch family's tuning curve --------------------

# The rsd-vs-cost tuning curve for approximate distinct counting —
# the sketch analogue of ivf_recall_vs_nprobe: one
# approx_count_distinct per requested relative standard deviation
# (0.05 / 0.02 / 0.01 — each rsd picks an HLL register count, so this
# IS the memory/accuracy lever), certified against the exact count.
# The estimate itself is engine-specific and stays OUT of the hashed
# columns (the hll_sketch_rollup contract): each row carries the
# exact count and a within-5-rsd boolean certificate (a sound
# certificate, not a tautology: a broken sketch fails it). KNOWN
# COUPLING (ADVICE r11): the oracle hardcodes TRUE for the
# certificate because the bound is PROBABILISTIC, not analytic — a
# >5-sigma excursion (a different sf, a Spark upgrade changing HLL++
# internals) surfaces as a cross-engine diff on this row rather than
# a failed value. 5 sigma puts routine HLL variance ~6 orders of
# magnitude away from flipping it (P < 6e-7 per row under the usual
# normal approximation), while a genuinely broken sketch still lands
# far outside.
_HLL_RSDS = (0.05, 0.02, 0.01)

_HLL_SWEEP_ORACLE = f"""
WITH x AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
           FROM events),
r AS (SELECT * FROM (VALUES {", ".join(f"({v!r})" for v in _HLL_RSDS)})
      AS v(rsd))
SELECT r.rsd, x.exact_users, TRUE AS within_5rsd
FROM r, x
ORDER BY r.rsd
"""


@query("hll_rsd_sweep", oracle=_HLL_SWEEP_ORACLE)
def hll_rsd_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user estimates at three HLL precisions with exact-count
    certificates (see the comment block): the accuracy/memory tuning
    curve of the sketch family."""
    ev = Catalog(spark, sf_dir).events
    agg = ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        *[
            F.approx_count_distinct("user_id", rsd=v).alias(f"est_{i}")
            for i, v in enumerate(_HLL_RSDS)
        ],
    )
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(v).alias("rsd"),
                        F.col("exact_users").alias("exact_users"),
                        (
                            F.abs(
                                F.col(f"est_{i}").cast("double")
                                - F.col("exact_users").cast("double")
                            )
                            <= 5.0 * v * F.col("exact_users").cast("double")
                        ).alias("within_5rsd"),
                    )
                    for i, v in enumerate(_HLL_RSDS)
                ]
            )
        ).alias("r")
    ).select("r.*")
    return rows.orderBy("rsd")


# ---- approximate-percentile accuracy sweep -------------------------------------

# The quantile-sketch analogue of hll_rsd_sweep: one approx_percentile
# per requested accuracy (100 / 1000 / 10000 — accuracy IS the
# memory/error lever of Spark's Greenwald-Khanna-style sketch),
# certified against the exact interpolated quantile by RANK: the
# engine recomputes the approx value's true rank in a second scan and
# checks |rank − q·N| ≤ N/accuracy + 1 (the published GK guarantee
# plus one tie slack). The approx VALUES are engine-specific and stay
# OUT of the hashed columns (the hll_sketch_rollup contract); the
# hashed row carries the exact quantile and the boolean certificate.
# KNOWN COUPLING (the hll_rsd_sweep posture, documented there): the
# oracle hardcodes TRUE for the certificate — the bound is the
# sketch's analytic guarantee, so a violation surfaces as a
# cross-engine diff, which is exactly what it would mean (a broken
# sketch implementation).
_APCT_QS = (0.5, 0.95, 0.99)
_APCT_ACCS = (100, 1000, 10000)

_APCT_ORACLE = f"""
WITH e AS (
    SELECT {", ".join(f"round(quantile_cont(value, {q}), 4) AS e{int(q * 100)}"
                      for q in _APCT_QS)}
    FROM events
),
grid AS (
    SELECT * FROM (VALUES {", ".join(f"({a}, {q!r})" for a in _APCT_ACCS
                                     for q in _APCT_QS)}) AS v(accuracy, q)
)
SELECT g.accuracy,
       CAST(g.q AS DOUBLE) AS q,
       CASE {" ".join(f"WHEN g.q = {q!r} THEN e.e{int(q * 100)}"
                      for q in _APCT_QS)} END AS exact_value,
       TRUE AS within_rank_bound
FROM grid g, e
ORDER BY g.accuracy, g.q
"""


@query("approx_percentile_accuracy_sweep", oracle=_APCT_ORACLE)
def approx_percentile_accuracy_sweep(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quantile-sketch accuracy/memory tuning curve (see the comment
    block): exact quantiles of events.value with a per-accuracy rank
    certificate for the approx_percentile sketch."""
    ev = Catalog(spark, sf_dir).events.select("value")
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for q in _APCT_QS:
        aggs.append(
            F.round(F.expr(f"percentile(value, {q})"), 4).alias(
                f"e{int(q * 100)}"
            )
        )
        for a in _APCT_ACCS:
            aggs.append(
                F.expr(f"approx_percentile(value, {q}, {a})").alias(
                    f"a{a}_{int(q * 100)}"
                )
            )
    st = ev.agg(*aggs)
    # second scan: the true rank of every approx value (9 conditional
    # sums in ONE pass over the broadcast 1-row stats)
    ranked = ev.crossJoin(F.broadcast(st)).agg(
        *[
            F.sum(
                F.when(
                    F.col("value") <= F.col(f"a{a}_{int(q * 100)}"), 1
                ).otherwise(0)
            )
            .cast("double")
            .alias(f"r{a}_{int(q * 100)}")
            for a in _APCT_ACCS
            for q in _APCT_QS
        ],
        F.max("n").alias("n"),
        *[
            F.max(f"e{int(q * 100)}").alias(f"e{int(q * 100)}")
            for q in _APCT_QS
        ],
    )
    rows = ranked.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).cast("int").alias("accuracy"),
                        F.lit(q).alias("q"),
                        F.col(f"e{int(q * 100)}").alias("exact_value"),
                        (
                            F.abs(
                                F.col(f"r{a}_{int(q * 100)}")
                                - F.lit(q) * F.col("n")
                            )
                            <= F.col("n") / F.lit(float(a)) + F.lit(1.0)
                        ).alias("within_rank_bound"),
                    )
                    for a in _APCT_ACCS
                    for q in _APCT_QS
                ]
            )
        ).alias("r")
    ).select("r.*")
    return rows.orderBy("accuracy", "q")


# ---- KMV sketch set operations --------------------------------------------------

# The distinct sketch HLL cannot be: K-minimum-values (Bar-Yossef et
# al. 2002; Beyer et al. 2007, public) keeps the k smallest hash
# values of a set — mergeable like HLL (union = merge + re-truncate)
# but ALSO supporting intersection/Jaccard estimates, and, because the
# engine hash is the portable md5 recipe, fully DETERMINISTIC: the
# estimates themselves are reproducible numbers both engines compute
# bit-identically (pinned double arithmetic on identical integers), so
# unlike approx_count_distinct they sit directly in the hashed output
# next to their exact counterparts and relative errors. Estimator:
# |S| ≈ (k−1)·2^32 / h_k on the 32-bit md5 space when |S| > k (exact
# below — the sketch holds the whole set); |A∪B| from the merged
# sketch; J ≈ |KMV_k(A∪B) ∩ A_sk ∩ B_sk| / k and |A∩B| ≈ J·|A∪B|.
# Scale shape: each sketch is one distinct-shuffle + an ascending
# TakeOrdered(k) (per-partition heaps, no global sort); set algebra
# runs on three k-sized in-row arrays. Exact sides are the usual
# distinct counts (the certificate cost a production sweep drops).
_KMV_K = 256
_KMV_SPACE = 4294967296.0  # 2^32

# Sets are USER-DAY pairs (the "active entity-period" grain a real
# audience-overlap sketch runs on): the user domain alone sits under
# k at the test sfs, which would leave the estimator path dead.
_KMV_ORACLE = f"""
WITH ua AS (
    SELECT DISTINCT user_id,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
    FROM events WHERE event_type = 'purchase'
),
ub AS (
    SELECT DISTINCT user_id,
           CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
    FROM events WHERE event_type = 'click'
),
ha AS (
    SELECT CAST(concat('0x', substr(md5(concat('kmv:',
        concat(CAST(user_id AS VARCHAR), ':', CAST(d AS VARCHAR)))),
        1, 8)) AS BIGINT) AS h
    FROM ua
),
hb AS (
    SELECT CAST(concat('0x', substr(md5(concat('kmv:',
        concat(CAST(user_id AS VARCHAR), ':', CAST(d AS VARCHAR)))),
        1, 8)) AS BIGINT) AS h
    FROM ub
),
ska AS (SELECT list_sort(list(h)) AS s FROM
        (SELECT DISTINCT h FROM ha ORDER BY h LIMIT {_KMV_K})),
skb AS (SELECT list_sort(list(h)) AS s FROM
        (SELECT DISTINCT h FROM hb ORDER BY h LIMIT {_KMV_K})),
sku AS (
    SELECT list_slice(list_sort(list_distinct(list_concat(a.s, b.s))),
                      1, {_KMV_K}) AS s
    FROM ska a, skb b
),
exact AS (
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ua) AS na,
           (SELECT CAST(count(*) AS BIGINT) FROM ub) AS nb,
           (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT user_id, d FROM ua UNION SELECT user_id, d FROM ub))
               AS nu,
           (SELECT CAST(count(*) AS BIGINT) FROM
               (SELECT user_id, d FROM ua
                INTERSECT SELECT user_id, d FROM ub)) AS ni
),
est AS (
    SELECT
        CASE WHEN e.na <= {_KMV_K} THEN CAST(e.na AS DOUBLE)
             ELSE {_KMV_K - 1}.0 * {_KMV_SPACE!r}
                  / CAST(a.s[{_KMV_K}] AS DOUBLE) END AS ea,
        CASE WHEN e.nb <= {_KMV_K} THEN CAST(e.nb AS DOUBLE)
             ELSE {_KMV_K - 1}.0 * {_KMV_SPACE!r}
                  / CAST(b.s[{_KMV_K}] AS DOUBLE) END AS eb,
        CASE WHEN e.nu <= {_KMV_K} THEN CAST(e.nu AS DOUBLE)
             ELSE {_KMV_K - 1}.0 * {_KMV_SPACE!r}
                  / CAST(u.s[{_KMV_K}] AS DOUBLE) END AS eu,
        CASE WHEN e.nu <= {_KMV_K} THEN CAST(e.ni AS DOUBLE)
             ELSE (CAST(len(list_intersect(list_intersect(u.s, a.s), b.s))
                        AS DOUBLE) / {_KMV_K}.0)
                  * ({_KMV_K - 1}.0 * {_KMV_SPACE!r}
                     / CAST(u.s[{_KMV_K}] AS DOUBLE)) END AS ei,
        e.na, e.nb, e.nu, e.ni
    FROM ska a, skb b, sku u, exact e
)
SELECT m.measure,
       m.exact_count,
       round(m.kmv_estimate, 6) AS kmv_estimate,
       CASE WHEN m.exact_count = 0 THEN CAST(0.0 AS DOUBLE)
            ELSE round(abs(m.kmv_estimate - CAST(m.exact_count AS DOUBLE))
                       / CAST(m.exact_count AS DOUBLE), 6) END AS rel_err
FROM (
    SELECT 'a_purchasers' AS measure, na AS exact_count, ea AS kmv_estimate
    FROM est
    UNION ALL SELECT 'b_clickers', nb, eb FROM est
    UNION ALL SELECT 'union', nu, eu FROM est
    UNION ALL SELECT 'intersection', ni, ei FROM est
) m
ORDER BY m.measure
"""


@query("kmv_set_operations", oracle=_KMV_ORACLE)
def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV distinct-sketch estimates for purchaser/clicker user sets —
    cardinalities, union, and intersection — next to their exact
    counts and relative errors (see the comment block)."""
    ev = Catalog(spark, sf_dir).events
    from climate_anomaly_bigdata_pipeline_spark.operators import dedup as DD

    def pairs(etype: str):
        return (
            ev.filter(F.col("event_type") == etype)
            .select("user_id", F.to_date("ts").alias("d"))
            .distinct()
        )

    def sketch(u):
        # KMV is defined over DISTINCT hash values (ADVICE r12): a
        # 32-bit collision inside the bottom-k would bias the
        # estimator and could shrink the merged union sketch below k
        # (NULL element_at). distinct → TakeOrdered(k), same as the
        # union sketch's list_distinct.
        h = u.select(
            DD.md5_hash32(
                F.concat_ws(":", F.col("user_id"), F.col("d")), seed="kmv"
            ).alias("h")
        ).distinct()
        return (
            h.orderBy("h")
            .limit(_KMV_K)
            .agg(F.array_sort(F.collect_list("h")).alias("s"))
        )

    ua = pairs("purchase")
    ub = pairs("click")
    exact = (
        ua.agg(F.count(F.lit(1)).cast("long").alias("na"))
        .crossJoin(ub.agg(F.count(F.lit(1)).cast("long").alias("nb")))
        .crossJoin(
            ua.unionByName(ub)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("nu"))
        )
        .crossJoin(
            ua.intersect(ub).agg(F.count(F.lit(1)).cast("long").alias("ni"))
        )
    )
    ska = sketch(ua).select(F.col("s").alias("sa"))
    skb = sketch(ub).select(F.col("s").alias("sb"))
    j = (
        ska.crossJoin(skb)
        .withColumn(
            "su",
            F.slice(
                F.array_sort(
                    F.array_distinct(F.concat(F.col("sa"), F.col("sb")))
                ),
                1,
                _KMV_K,
            ),
        )
        .crossJoin(F.broadcast(exact))
    )
    km1 = F.lit(float(_KMV_K - 1))
    space = F.lit(_KMV_SPACE)

    def est(arr: str, n: str):
        return F.when(
            F.col(n) <= _KMV_K, F.col(n).cast("double")
        ).otherwise(
            km1 * space / F.element_at(F.col(arr), _KMV_K).cast("double")
        )

    jacc = (
        F.size(
            F.array_intersect(
                F.array_intersect(F.col("su"), F.col("sa")), F.col("sb")
            )
        ).cast("double")
        / F.lit(float(_KMV_K))
    )
    ei = F.when(F.col("nu") <= _KMV_K, F.col("ni").cast("double")).otherwise(
        jacc * (km1 * space / F.element_at(F.col("su"), _KMV_K).cast("double"))
    )
    rows = j.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("a_purchasers").alias("measure"),
                    F.col("na").alias("exact_count"),
                    est("sa", "na").alias("kmv_estimate"),
                ),
                F.struct(
                    F.lit("b_clickers").alias("measure"),
                    F.col("nb").alias("exact_count"),
                    est("sb", "nb").alias("kmv_estimate"),
                ),
                F.struct(
                    F.lit("union").alias("measure"),
                    F.col("nu").alias("exact_count"),
                    est("su", "nu").alias("kmv_estimate"),
                ),
                F.struct(
                    F.lit("intersection").alias("measure"),
                    F.col("ni").alias("exact_count"),
                    ei.alias("kmv_estimate"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    rel = F.when(F.col("exact_count") == 0, F.lit(0.0)).otherwise(
        F.round(
            F.abs(
                F.col("kmv_estimate") - F.col("exact_count").cast("double")
            )
            / F.col("exact_count").cast("double"),
            6,
        )
    )
    return rows.select(
        "measure",
        "exact_count",
        F.round("kmv_estimate", 6).alias("kmv_estimate"),
        rel.alias("rel_err"),
    ).orderBy("measure")
