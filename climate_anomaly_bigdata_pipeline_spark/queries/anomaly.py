"""Flagship queries: the reference's z-score anomaly analytic on testdata.

Re-targets the Gold-layer pipeline (``jobs/03_silver_to_gold.py:113-153``)
at the driver corpus: per-(user, event-type) standardization of event
values and per-supplier standardization of lineitem prices.

All three use :func:`operators.anomaly.zscore_exact` — moment sums in
exact DECIMAL so the z-scores are bit-identical across engines AND
across Spark parallelism levels (a plain windowed avg/stddev
accumulates doubles in shuffle order, which changes with the partition
count; rounding can then flip on boundary values).

Threshold notes: events.value has heavy tails (max |z| ≈ 4), so the
reference's 2.5 threshold is kept there; l_extendedprice is uniform-ish
within supplier (max |z| < 2), so the lineitem variant uses 1.5 to stay
non-degenerate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import anomaly as A
from climate_anomaly_bigdata_pipeline_spark.queries import query


def _moment_zscore_sql(
    table: str,
    keys: list[str],
    value: str,
    out_cols: list[str],
    scale: int = 4,
) -> tuple[str, str]:
    """(stats-CTE, z-expression) mirroring anomaly.zscore_exact:
    s1 = Σ dec(x), s2 = Σ dec(x)² over the partition, then fixed-order
    double math. DECIMAL(19,4) forces DuckDB onto INT128 (exact) while
    Spark uses DECIMAL(15,4) — both land on the same scale-4/scale-8
    exact values."""
    d = f"CAST({value} AS DECIMAL(19,4))"
    part = ", ".join(keys)
    cols = ", ".join(out_cols)
    cte = f"""
stats AS (
    SELECT {cols},
        CAST(sum({d}) OVER w AS DOUBLE) AS s1,
        CAST(sum({d} * {d}) OVER w AS DOUBLE) AS s2,
        CAST(count({value}) OVER w AS DOUBLE) AS n
    FROM {table}
    WINDOW w AS (PARTITION BY {part})
)"""
    std = "sqrt(greatest((s2 - (s1 * s1) / n) / (n - 1), 0.0))"
    z = (
        f"CASE WHEN n < 2 OR {std} = 0 THEN 0.0 "
        f"ELSE round(({value} - s1 / n) / {std}, {scale}) END"
    )
    return cte, z


_EV_CTE, _EV_Z = _moment_zscore_sql(
    "events",
    ["user_id", "event_type"],
    "value",
    ["event_id", "user_id", "event_type", "value"],
)

_ZSCORE_ANOMALY_ORACLE = f"""
WITH {_EV_CTE},
scored AS (
    SELECT event_id, user_id, event_type, value, {_EV_Z} AS z_score
    FROM stats
)
SELECT
    event_id, user_id, event_type, value, z_score,
    CASE WHEN z_score > 0 THEN 'EXTREME_HIGH' ELSE 'EXTREME_LOW' END AS anomaly_class
FROM scored
WHERE abs(z_score) >= 2.5
"""


@query("zscore_anomaly", oracle=_ZSCORE_ANOMALY_ORACLE)
def zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(user, event_type) value outliers: |z| >= 2.5, classified.

    The reference's entire Gold analytic (W1 window stats + W2 guarded
    z-score + P9 threshold filter + when/otherwise classification,
    ``jobs/03_silver_to_gold.py:113-153``) on the events table. One
    shuffle (hash by the partition keys); only 4 columns reach the
    window, so the parquet scan prunes the rest.
    """
    ev = Catalog(spark, sf_dir).events.selectExpr(
        "event_id", "user_id", "event_type", "value"
    )
    scored = A.zscore_exact(ev, "value", ["user_id", "event_type"])
    return A.classify_extremes(scored, threshold=2.5, label_name="anomaly_class")


_ZSCORE_EVENTS_ORACLE = f"""
WITH {_EV_CTE}
SELECT event_id, user_id, event_type, value, {_EV_Z} AS z_score
FROM stats
"""


@query("zscore_events", oracle=_ZSCORE_EVENTS_ORACLE)
def zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Guarded z-score over a composite partition key (user_id, event_type).

    Exercises the zero/null-stddev guard (``jobs/03_silver_to_gold.py:
    118-121``) on real data: single-row (user, type) groups have no
    sample stddev and must standardize to exactly 0.0.
    """
    ev = Catalog(spark, sf_dir).events.select(
        "event_id", "user_id", "event_type", "value"
    )
    return A.zscore_exact(ev, "value", ["user_id", "event_type"])


_LI_CTE, _LI_Z = _moment_zscore_sql(
    "lineitem",
    ["l_suppkey"],
    "l_extendedprice",
    ["l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"],
)

_ZSCORE_LINEITEM_ORACLE = f"""
WITH {_LI_CTE},
scored AS (
    SELECT l_orderkey, l_linenumber, l_suppkey, l_extendedprice,
           {_LI_Z} AS z_score
    FROM stats
)
SELECT
    l_orderkey, l_linenumber, l_suppkey, l_extendedprice, z_score,
    CASE WHEN z_score > 0 THEN 'EXTREME_HIGH' ELSE 'EXTREME_LOW' END AS anomaly_class
FROM scored
WHERE abs(z_score) >= 1.5
"""


@query("zscore_lineitem", oracle=_ZSCORE_LINEITEM_ORACLE)
def zscore_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-supplier price outliers (threshold 1.5 for the uniform-ish
    price distribution), same operator composition as the flagship."""
    li = Catalog(spark, sf_dir).lineitem.select(
        "l_orderkey", "l_linenumber", "l_suppkey", "l_extendedprice"
    )
    scored = A.zscore_exact(li, "l_extendedprice", ["l_suppkey"])
    return A.classify_extremes(scored, threshold=1.5, label_name="anomaly_class")


# --- Tukey/IQR outlier fences (the notebook's boxplot-whisker rule) ---------

_IQR_ORACLE = """
WITH fences AS (
    SELECT event_type,
           round(quantile_cont(value, 0.25)
                 - 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)),
                 4) AS lo_fence,
           round(quantile_cont(value, 0.75)
                 + 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)),
                 4) AS hi_fence
    FROM events
    GROUP BY event_type
)
SELECT e.event_type, f.lo_fence, f.hi_fence,
       count(*) AS n_total,
       CAST(sum(CASE WHEN e.value < f.lo_fence OR e.value > f.hi_fence
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM events e JOIN fences f USING (event_type)
GROUP BY e.event_type, f.lo_fence, f.hi_fence
"""


@query("iqr_outliers_events", oracle=_IQR_ORACLE)
def iqr_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence (boxplot-whisker) outlier profile per event type:
    exact interpolated quartiles -> k=1.5 fences, fences broadcast back
    onto the rows, outliers counted per group. The notebook's boxplot
    rule (notebooks/climate_analysis.ipynb) as an operator, second
    anomaly family beside the z-score."""
    ev = Catalog(spark, sf_dir).events.select("event_type", "value")
    flagged = A.iqr_outliers(ev, "value", ["event_type"], k=1.5)
    return flagged.groupBy("event_type", "lo_fence", "hi_fence").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("is_outlier").cast("int")).cast("long").alias("n_outliers"),
    )


# --- robust (median/MAD) z-score --------------------------------------------

_ROBUST_Z_ORACLE = """
WITH med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS m
    FROM events GROUP BY event_type
),
mad AS (
    SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type
)
SELECT e.event_id, e.event_type, e.value,
       CASE WHEN mad.d <> 0
            THEN CAST(round(CAST(CAST(0.6745 * (e.value - med.m) / mad.d AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE)
            ELSE NULL END AS robust_z
FROM events e JOIN med USING (event_type) JOIN mad USING (event_type)
"""


@query("robust_zscore_events", oracle=_ROBUST_Z_ORACLE)
def robust_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD robust z-score per event type — the outlier-resistant
    third anomaly family (mean/std z-score, IQR fences, now MAD):
    contamination that inflates stddev and masks itself barely moves
    the medians. Two groups-sized percentile aggregates broadcast back;
    the events never shuffle."""
    ev = Catalog(spark, sf_dir).events.select("event_id", "event_type", "value")
    return A.robust_zscore(ev, "value", ["event_type"])


# ---- seasonal-baseline anomaly (day-of-week × hour profile) -----------------

_SEASONAL_CTE, _SEASONAL_Z = _moment_zscore_sql(
    "ev",
    ["dow", "hr"],
    "value",
    ["event_id", "dow", "hr", "value"],
)

# DuckDB dayofweek is 0-6 (Sun=0); Spark is 1-7 (Sun=1) — shift to match.
_SEASONAL_ORACLE = f"""
WITH ev AS (
    SELECT event_id,
           CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS INTEGER) AS dow,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INTEGER) AS hr,
           value
    FROM events
),
{_SEASONAL_CTE.lstrip()},
scored AS (
    SELECT event_id, dow, hr, value, {_SEASONAL_Z} AS seasonal_z FROM stats
)
SELECT event_id, dow, hr, value, seasonal_z,
       abs(seasonal_z) >= 3.0 AS is_seasonal_outlier
FROM scored
"""


@query("seasonal_zscore_events", oracle=_SEASONAL_ORACLE)
def seasonal_zscore_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-baseline anomaly: each event scored against the
    (day-of-week × hour-of-day) profile instead of a per-entity one —
    the fourth anomaly family (mean/std, IQR, median/MAD, now
    seasonal), catching values normal globally but abnormal for
    3 AM Sunday. The profile has at most 168 cells, so the exact-moment
    window shuffle is tiny and at 100 TB the profile would broadcast
    back instead; z is bit-identical across engines via the DECIMAL
    moment recipe shared with the flagship."""
    ev = Catalog(spark, sf_dir).events.select(
        "event_id",
        F.dayofweek("ts").alias("dow"),
        F.hour("ts").alias("hr"),
        "value",
    )
    scored = A.zscore_exact(ev, "value", ["dow", "hr"], z_name="seasonal_z")
    return scored.withColumn(
        "is_seasonal_outlier", F.abs(F.col("seasonal_z")) >= 3.0
    )


# ---- detector-ensemble anomaly votes -----------------------------------------

# The production rule for "is this point actually anomalous": no
# single detector — the mean/std z-score (masks itself under heavy
# contamination), the Tukey fences (blind inside the whiskers) and the
# median/MAD robust z (the resistant one) VOTE, and only points two of
# three agree on surface. Composes the engine's three per-type anomaly
# operators in ONE chained pipeline — each appends its flag via a
# groups-sized broadcast join, so the events scan never shuffles and
# the plan is three tiny aggregates + three broadcast joins. Flag
# thresholds sit on the proven rounded(4) scores (bit-identical across
# engines), so boundary comparisons cannot flip: |z| >= 2.5 (the
# flagship's), Tukey k = 1.5, |robust z| >= 3.5 (Iglewicz-Hoaglin).
_ENS_CTE, _ENS_Z = _moment_zscore_sql(
    "events",
    ["event_type"],
    "value",
    ["event_id", "event_type", "value"],
)

_ENSEMBLE_ORACLE = f"""
WITH {_ENS_CTE},
scored AS (
    SELECT event_id, event_type, value, {_ENS_Z} AS z FROM stats
),
fences AS (
    SELECT event_type,
           round(quantile_cont(value, 0.25)
                 - 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)),
                 4) AS lo_fence,
           round(quantile_cont(value, 0.75)
                 + 1.5 * (quantile_cont(value, 0.75) - quantile_cont(value, 0.25)),
                 4) AS hi_fence
    FROM events GROUP BY event_type
),
med AS (
    SELECT event_type, quantile_cont(value, 0.5) AS m
    FROM events GROUP BY event_type
),
mad AS (
    SELECT e.event_type, quantile_cont(abs(e.value - med.m), 0.5) AS d
    FROM events e JOIN med USING (event_type)
    GROUP BY e.event_type
),
j AS (
    SELECT s.event_id, s.event_type, s.value,
           abs(s.z) >= 2.5 AS z_flag,
           (s.value < f.lo_fence OR s.value > f.hi_fence) AS iqr_flag,
           coalesce(abs(CASE WHEN mad.d <> 0
                THEN CAST(round(CAST(CAST(0.6745 * (s.value - med.m) / mad.d
                     AS VARCHAR) AS DECIMAL(38,18)), 4) AS DOUBLE)
                END) >= 3.5, FALSE) AS mad_flag
    FROM scored s
    JOIN fences f USING (event_type)
    JOIN med USING (event_type)
    JOIN mad USING (event_type)
)
SELECT event_id, event_type, value, z_flag, iqr_flag, mad_flag,
       CAST(CAST(z_flag AS INT) + CAST(iqr_flag AS INT)
            + CAST(mad_flag AS INT) AS INTEGER) AS votes
FROM j
WHERE CAST(z_flag AS INT) + CAST(iqr_flag AS INT) + CAST(mad_flag AS INT) >= 2
"""


@query("anomaly_ensemble_votes", oracle=_ENSEMBLE_ORACLE)
def anomaly_ensemble_votes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events at least two of the three per-type anomaly detectors
    agree on (mean/std z, Tukey fences, median/MAD robust z — see the
    comment block), with each detector's flag and the vote count."""
    ev = Catalog(spark, sf_dir).events.select("event_id", "event_type", "value")
    d = A.zscore_exact(ev, "value", ["event_type"], z_name="z")
    d = A.iqr_outliers(d, "value", ["event_type"], k=1.5)
    d = A.robust_zscore(d, "value", ["event_type"], out="robust_z")
    z_flag = F.abs(F.col("z")) >= 2.5
    iqr_flag = F.col("is_outlier")
    mad_flag = F.coalesce(F.abs(F.col("robust_z")) >= 3.5, F.lit(False))
    votes = (
        z_flag.cast("int") + iqr_flag.cast("int") + mad_flag.cast("int")
    )
    return (
        d.select(
            "event_id",
            "event_type",
            "value",
            z_flag.alias("z_flag"),
            iqr_flag.alias("iqr_flag"),
            mad_flag.alias("mad_flag"),
            votes.cast("int").alias("votes"),
        )
        .filter(F.col("votes") >= 2)
    )
