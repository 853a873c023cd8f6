"""Time-series queries over events/orders (SURVEY §2.5 W3, §2.8, §7 step 5)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark import functions as FN
from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import timeseries as TS
from climate_anomaly_bigdata_pipeline_spark.queries import query

# --- W3: trailing rolling mean over a pre-aggregated daily series -----------

# The daily pre-agg is an UNORDERED groupBy -> exact decimal sum so the
# daily means are identical doubles in both engines regardless of
# accumulation order. The rolling mean runs over an ORDERED frame
# (accumulation order defined), so a plain windowed avg + round(4) is
# stable; casting the full-precision daily mean back to decimal would
# reintroduce the string-vs-binary rounding tie.
_ROLLING_ORACLE = """
WITH daily AS (
    SELECT CAST(ts AS DATE) AS event_date,
           CAST(sum(CAST(value AS DECIMAL(19,4))) AS DOUBLE) / count(value)
               AS daily_avg
    FROM events
    GROUP BY CAST(ts AS DATE)
)
SELECT
    event_date,
    daily_avg,
    CASE WHEN count(*) OVER w >= 7
         THEN round(avg(daily_avg) OVER w, 4)
    END AS rolling_avg_7d
FROM daily
WINDOW w AS (ORDER BY event_date ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
"""


@query("rolling_daily_mean", oracle=_ROLLING_ORACLE)
def rolling_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing mean of the daily value series with pandas
    ``rolling(7)`` null semantics (notebook cell 11's 12-month rolling
    mean, re-grained to this corpus's one-month event span).

    The global (unpartitioned) window is safe because the daily
    pre-aggregation reduces the data to |days| rows first — the shuffle
    moves day-grain aggregates, never raw events.
    """
    ev = Catalog(spark, sf_dir).events
    daily = ev.groupBy(F.to_date("ts").alias("event_date")).agg(
        (
            F.sum(F.col("value").cast("decimal(15,4)")).cast("double")
            / F.count("value")
        ).alias("daily_avg")
    )
    return TS.rolling_mean(
        daily, "event_date", "daily_avg", 7, out_name="rolling_avg_7d"
    )


# --- Engine-added lag/delta trend (SURVEY §2.5 extension) -------------------

_LAG_ORACLE = """
WITH monthly AS (
    SELECT date_trunc('month', o_orderdate) AS order_month,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY 1
)
SELECT
    order_month,
    revenue,
    round(revenue - lag(revenue) OVER (ORDER BY order_month), 2) AS delta
FROM monthly
"""


@query("monthly_revenue_delta", oracle=_LAG_ORACLE)
def monthly_revenue_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue delta via lag (first month null)."""
    od = Catalog(spark, sf_dir).orders
    monthly = od.groupBy(
        F.date_trunc("month", "o_orderdate").alias("order_month")
    ).agg(FN.dec_sum("o_totalprice", 2, "revenue"))
    out = TS.lag_delta(monthly, ["order_month"], "revenue", out_name="delta", scale=2)
    return out.select("order_month", "revenue", "delta")


# --- Batch tumbling / sliding time windows (SURVEY §2.8) --------------------

_TUMBLING_ORACLE = """
SELECT
    time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS window_start,
    count(*)             AS n_events,
    CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1
"""


@query("tumbling_hourly_events", oracle=_TUMBLING_ORACLE)
def tumbling_hourly_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Epoch-aligned 1-hour tumbling window counts/sums over events —
    the batch equivalent of the streaming groupBy-window."""
    ev = Catalog(spark, sf_dir).events
    out = TS.tumbling_window_agg(
        ev,
        "ts",
        "1 hour",
        [
            F.count(F.lit(1)).alias("n_events"),
            FN.dec_sum("value", 4, "sum_value"),
        ],
    )
    return out.select("window_start", "n_events", "sum_value")


_SLIDING_ORACLE = """
WITH bucketed AS (
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS b, value
    FROM events
), expanded AS (
    SELECT b AS window_start, value FROM bucketed
    UNION ALL
    SELECT b - INTERVAL '1 hour' AS window_start, value FROM bucketed
)
SELECT window_start, count(*) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE) AS sum_value
FROM expanded
GROUP BY window_start
"""


@query("sliding_2h_events", oracle=_SLIDING_ORACLE)
def sliding_2h_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour: every event lands in exactly
    two overlapping windows (the oracle expands each hourly bucket into
    its two covering window starts)."""
    ev = Catalog(spark, sf_dir).events
    out = TS.sliding_window_agg(
        ev,
        "ts",
        "2 hours",
        "1 hour",
        [
            F.count(F.lit(1)).alias("n_events"),
            FN.dec_sum("value", 4, "sum_value"),
        ],
    )
    return out.select("window_start", "n_events", "sum_value")


# --- As-of join (engine addition; SURVEY §2.3 'not present: as-of') ---------

_ASOF_ORACLE = """
WITH c AS (
    SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts
    FROM events WHERE event_type = 'click'
),
p AS (
    SELECT event_id AS purchase_id, user_id,
           CAST(ts AS TIMESTAMP) AS purchase_ts, value
    FROM events WHERE event_type = 'purchase'
)
SELECT p.purchase_id, p.user_id, p.purchase_ts, p.value, c.click_ts,
       epoch_us(p.purchase_ts) - epoch_us(c.click_ts) AS gap_us
FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.click_ts <= p.purchase_ts
"""


@query("asof_click_before_purchase", oracle=_ASOF_ORACLE)
def asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the same user's most recent
    click at-or-before it (DuckDB's native ASOF JOIN is the oracle).
    Implemented as tag+union+window — one shuffle by user, no
    inequality join."""
    ev = Catalog(spark, sf_dir).events
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    joined = TS.asof_join(
        purchases, clicks, by=["user_id"], left_ts="purchase_ts", right_ts="click_ts"
    )
    return joined.withColumn(
        "gap_us", F.unix_micros("purchase_ts") - F.unix_micros("click_ts")
    )


# --- Sessionization (engine addition; 'Common OLAP patterns') ---------------

_SESSION_ORACLE = """
WITH flagged AS (
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
)
SELECT
    user_id, session_id,
    count(*) AS n_events,
    epoch_us(max(ts_us)) - epoch_us(min(ts_us)) AS duration_us
FROM sessions
GROUP BY user_id, session_id
"""


@query("sessionize_events", oracle=_SESSION_ORACLE)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessions (30-min inactivity) per user: lag + running
    sum, then per-session stats. One shuffle by user_id shared by both
    windows and the final aggregation."""
    ev = Catalog(spark, sf_dir).events
    sess = TS.sessionize(ev, "ts", "user_id", gap_minutes=30, tiebreak_col="event_id")
    return sess.groupBy("user_id", "session_id").agg(
        F.expr("count(1) AS n_events"),
        F.expr("unix_micros(max(ts)) - unix_micros(min(ts)) AS duration_us"),
    )


# --- Banded range (interval) join (engine addition; SURVEY §2.3 'range
# joins not present in reference') ------------------------------------------

_RANGE_JOIN_ORACLE = """
SELECT a.event_id,
       b.event_id AS next_event_id,
       a.user_id,
       epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
           AS gap_us
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND CAST(b.ts AS TIMESTAMP) > CAST(a.ts AS TIMESTAMP)
 AND epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP))
     <= CAST(3600 AS BIGINT) * 1000000
"""


@query("range_join_next_hour", oracle=_RANGE_JOIN_ORACLE)
def range_join_next_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All same-user event pairs at most one hour apart: banded range
    join — both sides bucket time into interval-width bands, the left
    probes its (<=2) touchable bands, the equi-join key is (user_id,
    band), and the exact predicate re-filters. Per-task fan-in is
    bounded by time density, not user skew — the plan that survives a
    hot key at 100 TB (vs the naive equi-join + filter, which is
    quadratic per user)."""
    ev = Catalog(spark, sf_dir).events
    left = ev.select("user_id", "event_id", "ts")
    right = ev.select(
        "user_id",
        F.col("event_id").alias("next_event_id"),
        F.col("ts").alias("next_ts"),
    )
    out = TS.range_join(
        left,
        right,
        by=["user_id"],
        left_ts="ts",
        right_ts="next_ts",
        lower_seconds=0.0,
        upper_seconds=3600.0,
        strict_lower=True,
    )
    return out.select(
        "event_id",
        "next_event_id",
        "user_id",
        (F.unix_micros("next_ts") - F.unix_micros("ts")).alias("gap_us"),
    )


# --- trailing 7-day RANGE window per customer -------------------------------

_ROLLING_7D_ORACLE = """
SELECT o_orderkey, o_custkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,6))) OVER w, 2) AS DOUBLE)
           AS rev_7d,
       count(*) OVER w AS n_7d
FROM orders
WINDOW w AS (
    PARTITION BY o_custkey
    ORDER BY CAST(o_orderdate AS DATE)
    RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW
)
"""


@query("rolling_7d_customer_revenue", oracle=_ROLLING_7D_ORACLE)
def rolling_7d_customer_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day revenue + order count per customer as a true
    RANGE frame over event time (days-since-epoch order key ≡ ANSI
    INTERVAL bounds): same-day peers share frames and calendar gaps
    shrink them, which a ROWS frame gets wrong. Money summed in exact
    decimal inside the frame, rounded once at the edge."""
    od = Catalog(spark, sf_dir).orders
    out = TS.trailing_range_agg(
        od.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
        keys=["o_custkey"],
        date_col="o_orderdate",
        aggs=[
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")),
            F.count(F.lit(1)),
        ],
        days=7,
        names=["rev_7d_raw", "n_7d"],
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        F.to_date("o_orderdate").alias("order_date"),
        F.round("rev_7d_raw", 2).cast("double").alias("rev_7d"),
        "n_7d",
    )


# ---- ordered conversion funnel ---------------------------------------------

_FUNNEL_ORACLE = """
WITH s1 AS (
    SELECT user_id, min(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s1 USING (user_id)
    WHERE e.event_type = 'click' AND e.ts > s1.t
    GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS t
    FROM events e JOIN s2 USING (user_id)
    WHERE e.event_type = 'purchase' AND e.ts > s2.t
    GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'view' AS stage,
       CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_users
UNION ALL
SELECT 2, 'click', CAST((SELECT count(*) FROM s2) AS BIGINT)
UNION ALL
SELECT 3, 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT)
"""


@query("funnel_view_click_purchase", oracle=_FUNNEL_ORACLE)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered conversion funnel view -> click -> purchase:
    users reaching stage i must have a stage-i event strictly after
    their stage-(i-1) arrival. Engine side is the one-shuffle
    sorted-array fold (funnel_stages); the oracle is the classic
    k-chained-joins formulation — identical counts, k fewer shuffles."""
    ev = Catalog(spark, sf_dir).events
    return TS.funnel_stages(
        ev.select("user_id", "ts", "event_type"),
        stages=["view", "click", "purchase"],
    )


# --- LOCF gap fill (engine addition; sensor-feed repair) ---------------------

_LOCF_ORACLE = """
SELECT
    event_id, user_id,
    round(CASE WHEN event_type <> 'click' THEN value END, 4) AS raw_value,
    round(last_value(CASE WHEN event_type <> 'click' THEN value END IGNORE NULLS)
        OVER (PARTITION BY user_id
              ORDER BY CAST(ts AS TIMESTAMP), event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS filled
FROM events
"""


@query("locf_gap_fill_events", oracle=_LOCF_ORACLE)
def locf_gap_fill_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-fill repair of a sparse reading stream: 'click' events
    stand in for readings with a missing value; each takes the user's
    most recent non-null value (running last-non-null — one shuffle by
    user, one ordered pass, no self-join)."""
    ev = Catalog(spark, sf_dir).events
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(
            F.when(F.col("event_type") != "click", F.col("value")), 4
        ).alias("raw_value"),
    )
    filled = TS.gap_fill_locf(
        sparse, ["ts", "event_id"], "raw_value", ["user_id"], out_name="filled"
    )
    return filled.select("event_id", "user_id", "raw_value", "filled")


# --- EWMA (recursive smoothing; the canonical applyInPandas shape) -----------

_EWMA_ORACLE = """
SELECT
    user_id,
    round(list_reduce(
        list(value ORDER BY CAST(ts AS TIMESTAMP), event_id),
        (acc, x) -> 0.7 * acc + 0.3 * x
    ), 4) AS ewma,
    count(*) AS n_obs
FROM events
GROUP BY user_id
"""


@query("ewma_user_value", oracle=_EWMA_ORACLE)
def ewma_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final EWMA (alpha=0.3, pandas adjust=False recurrence) of each
    user's event values. Recursive state has no ANSI window frame, so
    the engine runs it as grouped Arrow-batched pandas (`ewm` is
    bit-identical to the explicit fold the oracle's list_reduce runs —
    verified: pandas special-cases weights summing to 1)."""
    ev = Catalog(spark, sf_dir).events
    return TS.ewma_by_key(
        ev.select("user_id", "ts", "event_id", "value"),
        key_cols=["user_id"],
        order_cols=["ts", "event_id"],
        value_col="value",
        alpha=0.3,
    )


# --- Native session windows (Spark session_window; streaming-capable) --------

_SESSION_WINDOW_ORACLE = """
WITH flagged AS (
    SELECT
        user_id, event_id, CAST(ts AS TIMESTAMP) AS ts_us,
        CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
               OR epoch_us(CAST(ts AS TIMESTAMP))
                  - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                  >= 30 * 60 * 1000000
             THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), sessions AS (
    SELECT user_id, ts_us,
           CAST(sum(is_new) OVER (
               PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS sid
    FROM flagged
)
SELECT
    user_id,
    min(ts_us) AS session_start,
    max(ts_us) + INTERVAL 30 MINUTE AS session_end,
    count(*) AS n_events
FROM sessions
GROUP BY user_id, sid
"""


@query("session_window_stats", oracle=_SESSION_WINDOW_ORACLE)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user session stats via Spark's NATIVE ``session_window``
    (dynamic gap-merging windows, 30-min gap) — the streaming-capable
    twin of the explicit lag+running-sum ``sessionize_events``: the
    identical groupBy works under ``readStream`` + watermark, where the
    state store merges windows incrementally. Semantics note: native
    session windows close when the gap is >= the duration (window end =
    last event + gap), hence the oracle's >= break vs sessionize's >.
    One shuffle by (user_id); the window merge is state-local."""
    ev = Catalog(spark, sf_dir).events
    out = ev.groupBy(
        "user_id", F.session_window("ts", "30 minutes").alias("w")
    ).agg(F.count(F.lit(1)).alias("n_events"))
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
    )


# --- Interval×interval overlap join (banded; two-sided range join) -----------

_OVERLAP_ORACLE = """
WITH flagged AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts_us,
        CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
               OR epoch_us(CAST(ts AS TIMESTAMP))
                  - epoch_us(lag(CAST(ts AS TIMESTAMP)) OVER w)
                  > 30 * 60 * 1000000
             THEN 1 ELSE 0 END AS is_new
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
), sess AS (
    SELECT user_id,
           min(ts_us) AS s_start,
           max(ts_us) + INTERVAL 1 MINUTE AS s_end
    FROM (
        SELECT user_id, ts_us,
               sum(is_new) OVER (
                   -- event_id tiebreak mirrors the flagged CTE and the
                   -- Spark sessionize(tiebreak_col="event_id") ordering, so
                   -- duplicate timestamps at a session boundary can't flip
                   -- session assignment between the two engines.
                   PARTITION BY user_id ORDER BY ts_us, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS sid
        FROM flagged
    )
    GROUP BY user_id, sid
), days AS (
    SELECT DISTINCT CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                         + INTERVAL 12 HOUR AS TIMESTAMP) AS m_start,
           CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                + INTERVAL 13 HOUR AS TIMESTAMP) AS m_end
    FROM events
)
SELECT s.user_id, s.s_start, s.s_end, d.m_start, d.m_end,
       (least(epoch_us(s.s_end), epoch_us(d.m_end))
        - greatest(epoch_us(s.s_start), epoch_us(d.m_start))) / 1000000.0
           AS overlap_seconds
FROM sess s JOIN days d
  ON s.s_start < d.m_end AND d.m_start < s.s_end
"""


@query("interval_overlap_sessions_noon", oracle=_OVERLAP_ORACLE)
def interval_overlap_sessions_noon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which user sessions overlap the daily 12:00-13:00 window, and by
    how much — an interval×interval overlap join (banded equi-join +
    exact refilter; the oracle runs the quadratic inequality join).
    Left intervals are 30-min-gap sessions padded 1 minute past the
    last event; right intervals are one noon hour per active day."""
    ev = Catalog(spark, sf_dir).events
    sess = TS.sessionize(ev, "ts", "user_id", gap_minutes=30, tiebreak_col="event_id")
    sessions = sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s_start"),
        (F.timestamp_micros(F.unix_micros(F.max("ts")) + 60_000_000)).alias("s_end"),
    ).drop("session_id")
    days = (
        ev.select(F.date_trunc("day", "ts").alias("d"))
        .distinct()
        .select(
            F.timestamp_micros(F.unix_micros(F.col("d")) + 12 * 3600 * 1_000_000).alias(
                "m_start"
            ),
            F.timestamp_micros(F.unix_micros(F.col("d")) + 13 * 3600 * 1_000_000).alias(
                "m_end"
            ),
        )
    )
    return TS.interval_overlap_join(
        sessions, days, "s_start", "s_end", "m_start", "m_end", band_seconds=3600
    )


# ---- STL-style seasonal decomposition of daily revenue ----------------------

_STL_ORACLE = """
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem GROUP BY 1
),
tr AS (
    SELECT d, x,
           CASE WHEN count(*) OVER w = 7
                THEN CAST(sum(CAST(x AS DECIMAL(18,6))) OVER w AS DOUBLE) / 7.0
           END AS trend
    FROM daily
    WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
det AS (
    SELECT d, x, trend, dayofweek(d) AS dow, x - trend AS detrended
    FROM tr
),
seas AS (
    SELECT dow,
           list_reduce(list(detrended ORDER BY d), (acc, t) -> acc + t)
               / CAST(count(detrended) AS DOUBLE) AS seasonal
    FROM det WHERE detrended IS NOT NULL GROUP BY dow
)
SELECT det.d AS day, det.x AS revenue, det.trend,
       s.seasonal,
       det.detrended - s.seasonal AS residual
FROM det JOIN seas s ON s.dow = det.dow
ORDER BY day
"""


@query("stl_decompose_daily_revenue", oracle=_STL_ORACLE)
def stl_decompose_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style additive decomposition of the daily revenue series:
    trend = centered 7-observation moving average (null at the edges),
    seasonal = per-day-of-week mean of the detrended values, residual
    = the rest — the classical-decomposition backbone behind
    `seasonal_zscore_events`' calendar baselines.

    Scale posture: the series is calendar-bounded after the
    distributed daily pre-agg (same contract as `acf_daily_revenue`),
    the trend is a 7-row frame window over the date order (a
    single-partition exchange, safe ONLY because the input is the
    calendar-bounded pre-agg — same posture as `rolling_daily_mean`),
    and the 7-row seasonal profile broadcasts back.
    Exactness: trend divides an exact DECIMAL window sum by 7; the
    per-dow seasonal mean folds its bounded group in date order on
    both engines (a plain AVG would sum doubles in engine order); the
    subtraction chain is then per-row deterministic.
    """
    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x")
    )
    from pyspark.sql import Window

    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "x",
        F.when(
            F.count(F.lit(1)).over(w) == 7,
            F.sum(FN.dec("x")).over(w).cast("double") / F.lit(7.0),
        ).alias("trend"),
    )
    det = tr.select(
        "d", "x", "trend",
        F.dayofweek("d").alias("dow"),
        (F.col("x") - F.col("trend")).alias("detrended"),
    )
    seas = (
        det.filter(F.col("detrended").isNotNull())
        .groupBy("dow")
        .agg(
            (
                F.aggregate(
                    F.array_sort(
                        F.collect_list(F.struct("d", "detrended"))
                    ),
                    F.lit(0.0),
                    lambda acc, s: acc + s["detrended"],
                )
                / F.count("detrended").cast("double")
            ).alias("seasonal")
        )
    )
    return (
        det.join(F.broadcast(seas), "dow")
        .select(
            F.col("d").alias("day"),
            F.col("x").alias("revenue"),
            "trend",
            "seasonal",
            (F.col("detrended") - F.col("seasonal")).alias("residual"),
        )
        .orderBy("day")
    )


# ---- Holt linear-trend forecast ----------------------------------------------

# Double exponential smoothing (Holt's linear trend) over the daily
# revenue series, forecasting 7 days past the end:
#   l_1 = y_1,  b_1 = y_2 - y_1
#   l_t = α·y_t + (1-α)·(l_{t-1} + b_{t-1})
#   b_t = β·(l_t - l_{t-1}) + (1-β)·b_{t-1}
#   ŷ_{T+h} = l_T + h·b_T
# α = β = 1/2: exact halvings, and every recurrence step below is
# written with IDENTICAL parenthesization in the Spark fold and the
# recursive-CTE oracle, so the smoothed state is bit-equal across
# engines (the fold is sequential by definition — no distributed-sum
# reordering anywhere). NOTE: DuckDB 1.0's list_reduce evaluates struct
# fields against an in-place-mutated accumulator (the 'b' expression
# would see the NEW 'l'), so the oracle recursion uses WITH RECURSIVE,
# which has well-defined snapshot semantics. The series rides ONE
# MATERIALIZED list row indexed by the recursion counter — the prior
# per-step join against an un-materialized idx CTE re-ran the full
# lineitem daily aggregate every one of the ~2,500 steps (measured
# 137.6 s at sf0.1 in the committed sweep; VERDICT r9 #5).
_HOLT_ORACLE = """
WITH RECURSIVE daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS y
    FROM lineitem GROUP BY 1
),
ser AS MATERIALIZED (
    SELECT list(y ORDER BY d) AS v, count(*) AS n FROM daily
),
holt(i, l, b) AS (
    SELECT 1, v[1], v[2] - v[1] FROM ser
    UNION ALL
    SELECT h.i + 1,
           0.5 * s.v[h.i + 1] + 0.5 * (h.l + h.b),
           0.5 * ((0.5 * s.v[h.i + 1] + 0.5 * (h.l + h.b)) - h.l)
               + 0.5 * h.b
    FROM holt h, ser s WHERE h.i + 1 <= s.n
),
fin AS (SELECT l, b FROM holt ORDER BY i DESC LIMIT 1)
SELECT CAST(h AS BIGINT) AS horizon,
       round(l + h * b, 4) AS forecast,
       round(l, 4) AS level_end,
       round(b, 4) AS trend_end
FROM fin, UNNEST(range(1, 8)) AS t(h)
"""


@query("holt_forecast_daily_revenue", oracle=_HOLT_ORACLE)
def holt_forecast_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day Holt linear-trend forecast of daily revenue (α = β = ½).

    Shape: the heavy lifting is the distributed daily pre-agg (exact
    DECIMAL sums); the smoothing recursion then runs over the
    calendar-bounded series as ONE Catalyst ``aggregate`` fold over the
    date-sorted array — inherently sequential math kept JVM-side (no
    Python, no per-row UDF), the same single-array posture as
    `acf_daily_revenue`/`stl_decompose_daily_revenue`. Spark's
    higher-order-function lambda evaluates the state struct with
    snapshot semantics, matching the oracle's recursive CTE exactly."""
    li = Catalog(spark, sf_dir).lineitem
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("y")
    )
    ser = daily.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "y"))), lambda s: s["y"]
        ).alias("ys")
    )
    ys = F.col("ys")
    init = F.struct(
        ys[0].alias("l"), (ys[1] - ys[0]).alias("b")
    )
    half = F.lit(0.5)

    def step(acc, y):
        new_l = half * y + half * (acc["l"] + acc["b"])
        new_b = (
            half * ((half * y + half * (acc["l"] + acc["b"])) - acc["l"])
            + half * acc["b"]
        )
        return F.struct(new_l.alias("l"), new_b.alias("b"))

    # localCheckpoint (1 row): CollapseProject would otherwise inline
    # the interpreted fold expression into all 4 output columns × 7
    # horizon rows (28 re-evaluations of the whole recursion).
    state = ser.select(
        F.aggregate(
            F.slice(ys, 2, F.size(ys) - 1), init, step
        ).alias("st")
    ).localCheckpoint()
    return state.select(
        F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h"), "st"
    ).select(
        F.col("h").cast("long").alias("horizon"),
        F.round(
            F.col("st")["l"] + F.col("h") * F.col("st")["b"], 4
        ).alias("forecast"),
        F.round(F.col("st")["l"], 4).alias("level_end"),
        F.round(F.col("st")["b"], 4).alias("trend_end"),
    )


# ---- seasonal-adjusted anomaly detection: STL residual outliers ---------------

# The anomaly detector the reference's domain actually wants (its
# z-score flags raw extremes; a CLIMATE-style anomaly is a deviation
# from trend + seasonality): top-10 days by |robust z| of the STL
# residual, robust z = (r − median) / (1.4826·MAD) — median/MAD
# instead of mean/std so the anomalies themselves don't inflate the
# yardstick. Exactness: the STL residuals are bit-identical in both
# engines (the stl_decompose_daily_revenue contract); median and MAD
# are ELEMENT PICKS from the sorted residual list (exact-halving
# midpoint for even n), not engine aggregates, so the chain is
# deterministic; 1.4826 is one correctly-rounded literal in both
# parsers; derived columns sit under round(6). Scale shape: the series
# is the calendar-bounded daily pre-agg (the acf/stl contract), so the
# sorted-list fold is a bounded one-row collect — never a corpus-sized
# sort.
_STL_ANOM_K = 10

_PICK_MID = (
    "CASE WHEN n % 2 = 1 THEN {a}[(n + 1) // 2]"
    " ELSE ({a}[n // 2] + {a}[n // 2 + 1]) / 2.0 END"
)

_STL_ANOM_ORACLE = f"""
WITH stl AS ({_STL_ORACLE}),
res AS (
    SELECT day, revenue, residual FROM stl WHERE residual IS NOT NULL
),
lst AS (
    SELECT list(residual ORDER BY residual) AS r,
           CAST(count(*) AS BIGINT) AS n
    FROM res
),
med AS (SELECT {_PICK_MID.format(a="r")} AS m FROM lst),
ad AS (
    SELECT list(abs(residual - m) ORDER BY abs(residual - m)) AS r,
           CAST(count(*) AS BIGINT) AS n
    FROM res, med
),
mad AS (SELECT {_PICK_MID.format(a="r")} AS s FROM ad)
SELECT day, revenue,
       round(residual, 6) AS residual,
       round((residual - m) / (1.4826 * s), 6) AS robust_z
FROM res, med, mad
ORDER BY round(abs((residual - m) / (1.4826 * s)), 6) DESC, day
LIMIT {_STL_ANOM_K}
"""


@query("stl_residual_anomalies", oracle=_STL_ANOM_ORACLE)
def stl_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 seasonal-adjusted daily-revenue anomalies: |robust z| of
    the STL residual under a median/MAD yardstick (see the comment
    block). Composes `stl_decompose_daily_revenue` exactly as
    `pca_projection_outliers` composes the PCA moments."""
    res = (
        stl_decompose_daily_revenue(spark, sf_dir)
        .filter(F.col("residual").isNotNull())
        .select("day", "revenue", "residual")
        .localCheckpoint()  # bounded daily series; reused 3x
    )

    def _mid(arr, n):
        odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
        even = (
            F.element_at(arr, (n / 2).cast("int"))
            + F.element_at(arr, (n / 2 + 1).cast("int"))
        ) / 2.0
        return F.when(n % 2 == 1, odd).otherwise(even)

    lst = res.agg(
        F.array_sort(F.collect_list("residual")).alias("r"),
        F.count(F.lit(1)).alias("n"),
    )
    med = lst.select(_mid(F.col("r"), F.col("n")).alias("m"))
    ad = res.crossJoin(F.broadcast(med)).agg(
        F.array_sort(
            F.collect_list(F.abs(F.col("residual") - F.col("m")))
        ).alias("r"),
        F.count(F.lit(1)).alias("n"),
        F.max("m").alias("m"),
    )
    scale = ad.select("m", _mid(F.col("r"), F.col("n")).alias("s"))
    rz = (F.col("residual") - F.col("m")) / (F.lit(1.4826) * F.col("s"))
    return (
        res.crossJoin(F.broadcast(scale))
        .select(
            "day",
            "revenue",
            F.round("residual", 6).alias("residual"),
            F.round(rz, 6).alias("robust_z"),
            F.round(F.abs(rz), 6).alias("__az"),
        )
        .orderBy(F.col("__az").desc(), "day")
        .limit(_STL_ANOM_K)
        .drop("__az")
    )


# ---- matrix-profile discords on the daily revenue series -----------------------

# The motif/discord detector of the matrix-profile family (Yeh et al.
# 2016, public): for every length-7 window of the daily revenue
# series, the z-normalized Euclidean distance to its nearest
# NON-OVERLAPPING window (exclusion zone |i−j| ≥ m) — the windows
# whose nearest neighbor is FARTHEST are the series' discords, the
# subsequence-level anomaly the pointwise z-score family cannot see
# (a week that is individually in-range but shaped like nothing else).
# Scale posture: the calendar-bounded daily pre-aggregation (the acf
# contract) reduces the data to |days| rows; windows then pair via an
# EXPLODE of the j index + one equi-join on j — O(n²) day-grain rows
# through a keyed shuffle, never a cartesian join node and never raw
# lineitem rows. Exactness: daily revenues are exact 2-decimal
# doubles; μ/σ/distance all fold in pinned index order on both
# engines; the nearest-neighbor argmin and the final ordering use the
# round(6)-guarded distance with index tiebreaks.
_MP_M = 7  # window length = exclusion-zone radius
_MP_K = 10  # discords reported

# One pinned calendar year (366-day cap) bounds the pair join: the
# profile is O(n^2) in the series length by definition, and a
# multi-year series would put ~6M non-equi pairs through the DuckDB
# oracle (measured 357 s at sf0.01). A year of days is the analysis
# window a weekly-shape discord scan actually uses; larger horizons
# run the same query per year.
_MP_YEAR = 1996

_MP_ORACLE = f"""
WITH daily AS (
    SELECT date_trunc('day', l_shipdate) AS d,
           CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                          * (1 - CAST(l_discount AS DECIMAL(18,6)))), 2)
                AS DOUBLE) AS x
    FROM lineitem
    WHERE date_part('year', l_shipdate) = {_MP_YEAR}
    GROUP BY 1
),
ser AS (
    SELECT list(x ORDER BY d) AS xs, list(d ORDER BY d) AS ds,
           CAST(count(*) AS BIGINT) AS n
    FROM daily
),
win AS (
    SELECT i, s.ds[i] AS d, w,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), w),
                       (a, b) -> a + b) / {float(_MP_M)!r} AS mu
    FROM (
        SELECT CAST(t.i AS BIGINT) AS i,
               list_slice(s0.xs, t.i, t.i + {_MP_M - 1}) AS w,
               s0.xs, s0.ds
        FROM ser s0,
             unnest(generate_series(1, CAST(s0.n - {_MP_M - 1} AS BIGINT))) AS t(i)
    ) s
),
zwin AS (
    SELECT i, d,
           CASE WHEN sig = 0.0 THEN list_transform(w, v -> CAST(0.0 AS DOUBLE))
                ELSE list_transform(w, v -> (v - mu) / sig) END AS z
    FROM (
        SELECT i, d, w, mu,
               sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                        list_transform(w, v -> v * v)), (a, b) -> a + b)
                    / {float(_MP_M)!r} - mu * mu) AS sig
        FROM win
    )
),
pairs AS (
    SELECT a.i, a.d, b.i AS j, b.d AS nn_d,
           round(sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               list_transform(generate_series(1, {_MP_M}),
                              k -> (a.z[k] - b.z[k]) * (a.z[k] - b.z[k]))),
               (acc, t) -> acc + t)), 6) AS dist
    FROM zwin a JOIN zwin b ON abs(a.i - b.i) >= {_MP_M}
),
profile AS (
    SELECT i, d, nn_d, dist
    FROM pairs
    QUALIFY row_number() OVER (PARTITION BY i ORDER BY dist, j) = 1
)
SELECT d AS day, nn_d AS nn_day, dist AS mp_dist
FROM profile
ORDER BY dist DESC, d
LIMIT {_MP_K}
"""


@query("matrix_profile_discords_daily", oracle=_MP_ORACLE)
def matrix_profile_discords_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 matrix-profile discords of the daily revenue series
    (see the comment block): the 7-day windows farthest from their
    nearest non-overlapping neighbor, with that neighbor's date."""
    from pyspark.sql import Window

    li = Catalog(spark, sf_dir).lineitem.filter(
        F.year("l_shipdate") == _MP_YEAR
    )
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.round(F.sum(FN.revenue_expr()), 2).cast("double").alias("x")
    )
    ser = daily.agg(
        F.array_sort(F.collect_list(F.struct("d", "x"))).alias("sd"),
        F.count(F.lit(1)).alias("n"),
    ).select(
        F.transform("sd", lambda s: s["x"]).alias("xs"),
        F.transform("sd", lambda s: s["d"]).alias("ds"),
        "n",
    ).filter(
        # need two non-overlapping windows; also keeps sequence(1, n-6)
        # ascending (Spark's sequence(1, 0) descends into index 0)
        F.col("n") >= 2 * _MP_M
    )
    md = float(_MP_M)
    win = ser.select(
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.col("n") - F.lit(_MP_M - 1))
        ).alias("i"),
        "xs",
        "ds",
    ).select(
        "i",
        F.element_at("ds", F.col("i").cast("int")).alias("d"),
        F.slice("xs", F.col("i").cast("int"), _MP_M).alias("w"),
    ).withColumn(
        "mu",
        F.aggregate("w", F.lit(0.0), lambda a, b: a + b) / F.lit(md),
    )
    sig = F.sqrt(
        F.aggregate(
            F.transform("w", lambda v: v * v), F.lit(0.0), lambda a, b: a + b
        )
        / F.lit(md)
        - F.col("mu") * F.col("mu")
    )
    zwin = win.withColumn("sig", sig).select(
        "i",
        "d",
        F.when(
            F.col("sig") == 0.0,
            F.transform("w", lambda v: F.lit(0.0)),
        )
        .otherwise(
            F.transform("w", lambda v: (v - F.col("mu")) / F.col("sig"))
        )
        .alias("z"),
    ).localCheckpoint()
    # pair generation: explode the j index per i row (row-local fanout,
    # no cartesian node), then ONE equi-join on j brings z_j in
    nwin = zwin.count()
    a = zwin.select(
        "i",
        F.col("d"),
        F.col("z").alias("za"),
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.lit(nwin).cast("long"))
        ).alias("j"),
    ).filter(F.abs(F.col("i") - F.col("j")) >= _MP_M)
    b = zwin.select(
        F.col("i").alias("j"), F.col("d").alias("nn_d"), F.col("z").alias("zb")
    )
    dist = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("za", "zb", lambda x, y: (x - y) * (x - y)),
                F.lit(0.0),
                lambda acc, t: acc + t,
            )
        ),
        6,
    )
    pairs = a.join(b, "j").select("i", "d", "j", "nn_d", dist.alias("dist"))
    w_nn = Window.partitionBy("i").orderBy("dist", "j")
    return (
        pairs.withColumn("rn", F.row_number().over(w_nn))
        .filter(F.col("rn") == 1)
        .select(
            F.col("d").alias("day"),
            F.col("nn_d").alias("nn_day"),
            F.col("dist").alias("mp_dist"),
        )
        .orderBy(F.desc("mp_dist"), "day")
        .limit(_MP_K)
    )


# ---- watermark late-data audit --------------------------------------------------

# The number a `withWatermark` choice should be based on: given an
# ARRIVAL order and the event-time column, how many rows would a
# W-hour watermark drop? A row is late for watermark W iff its event
# time is more than W behind the high-watermark — the STRICT prefix
# max of event time over arrival order — at the moment it arrives.
# The events fixture arrives pre-sorted (zero disorder), so the audit
# runs against the standing deterministic md5 arrival shuffle
# (`md5('arr:' || event_id)`, the deterministic_sample recipe) — a
# pessimistic worst-case-disorder simulation that exercises the real
# mechanism; on production data the arrival column is the ingest
# sequence. Scale shape: the strict prefix max is the DISTRIBUTED
# range-partition recipe (`relational.running_max_strict`), never a
# single-partition global window; per-watermark tallies are one
# conditional aggregation over exact integer microseconds.
_WM_HOURS = (1, 6, 24)

_WM_ORACLE = f"""
WITH arr AS (
    SELECT event_id,
           epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
           CAST(concat('0x', substr(md5(concat('arr:', CAST(event_id
                AS VARCHAR))), 1, 8)) AS BIGINT) AS ak
    FROM events
),
m AS (
    SELECT ts_us,
           max(ts_us) OVER (
               ORDER BY ak, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) AS hwm
    FROM arr
)
SELECT w.watermark_hours,
       (SELECT CAST(count(*) AS BIGINT) FROM m) AS n_events,
       CAST(count(*) FILTER (
           WHERE m.hwm IS NOT NULL
             AND m.ts_us < m.hwm - w.watermark_hours * 3600000000
       ) AS BIGINT) AS n_late,
       round(CAST(count(*) FILTER (
           WHERE m.hwm IS NOT NULL
             AND m.ts_us < m.hwm - w.watermark_hours * 3600000000
       ) AS DOUBLE) / CAST((SELECT count(*) FROM m) AS DOUBLE), 6)
           AS late_frac
FROM m, (VALUES {", ".join(f"({h})" for h in _WM_HOURS)})
     AS w(watermark_hours)
GROUP BY w.watermark_hours
ORDER BY w.watermark_hours
"""


@query("watermark_late_audit", oracle=_WM_ORACLE)
def watermark_late_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows a 1/6/24-hour watermark would drop under the simulated
    worst-case arrival order (see the comment block) — the audit that
    prices a `withWatermark` setting before it ships."""
    from climate_anomaly_bigdata_pipeline_spark.operators import dedup as DD
    from climate_anomaly_bigdata_pipeline_spark.operators import (
        relational as R,
    )

    ev = Catalog(spark, sf_dir).events.select(
        "event_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        DD.md5_hash32(F.col("event_id"), seed="arr").alias("ak"),
    )
    m = R.running_max_strict(ev, ["ak", "event_id"], "ts_us", out_col="hwm")
    late = [
        F.sum(
            F.when(
                F.col("hwm").isNotNull()
                & (F.col("ts_us") < F.col("hwm") - h * 3600000000),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias(f"late_{h}")
        for h in _WM_HOURS
    ]
    agg = m.agg(F.count(F.lit(1)).cast("long").alias("n_events"), *late)
    rows = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(h).cast("int").alias("watermark_hours"),
                        F.col("n_events"),
                        F.col(f"late_{h}").alias("n_late"),
                        F.round(
                            F.col(f"late_{h}").cast("double")
                            / F.col("n_events").cast("double"),
                            6,
                        ).alias("late_frac"),
                    )
                    for h in _WM_HOURS
                ]
            )
        ).alias("r")
    ).select("r.*")
    return rows.orderBy("watermark_hours")
