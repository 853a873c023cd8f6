"""Round-13: the Structured Streaming surface under the driver's
oracle contract (SURVEY §2.8).

The reference is a batch-only spark-submit ETL (its three jobs rerun
from scratch; there is no streaming surface to port — SURVEY §2.8).
The engine added streaming twins of its batch operators in earlier
rounds, verified by pytest parity subprocesses only. These queries
promote that surface into the DRIVER's correctness gate: each one
builds a real ``readStream`` graph over the scale-dir parquet, drives
it to completion through a memory sink (``processAllAvailable`` — the
bounded-drain harness; on a cluster the same graph runs unbounded
against Kafka with a real sink and checkpoint), and returns the
drained result as a static DataFrame the driver can diff against a
DuckDB oracle.

Determinism discipline (the r12 whitening lesson applies here too):
every hashed value is either an exact integer (counts, ``floor(value·
100)`` cents), an exact-DECIMAL sum under the engine's ``dec_sum``
recipe, or a key — nothing order- or build-sensitive. Streaming state
is fold-of-monoid everywhere (min-struct, integer sums), so
micro-batch boundaries cannot change the drained result; the pytest
parity suite (tests/test_round13_ops.py) additionally forces
multi-batch execution via ``maxFilesPerTrigger`` on split inputs.

Scale notes per query are in the docstrings — the common shape: keyed
streaming state is O(live keys) and shuffles once by the state key;
complete-mode output here is a verification-harness artifact (bounded
drain), not the production sink mode (update/append + watermark keep
state and sink writes bounded on an unbounded stream).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from climate_anomaly_bigdata_pipeline_spark import functions as FN
from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE, query
from climate_anomaly_bigdata_pipeline_spark.queries.timeseries import (
    _SLIDING_ORACLE,
    _TUMBLING_ORACLE,
)
from climate_anomaly_bigdata_pipeline_spark.streaming import windows as SW


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events as a stream, with the batch Catalog's session confs
    pinned first (the driver builds a vanilla session; the nanos-ts
    repair and ANSI posture live in Catalog.REQUIRED_CONFS)."""
    Catalog(spark, sf_dir)  # pins required confs on this session
    return SW.read_events_stream(spark, sf_dir)


def _drain(df: DataFrame, name: str, mode: str) -> DataFrame:
    """Run a bounded stream to completion into memory table ``name``
    (dropped first so the query is rerunnable in one session).

    Shuffle partitions are clamped to 8 for the stream's lifetime:
    every stateful streaming operator instantiates ONE STATE STORE PER
    SHUFFLE PARTITION (a stream-stream join keeps four), so a vanilla
    200-partition session pays ~800 store initializations to join 10k
    rows — measured 73 s vs 4.8 s warm at 8 partitions, pure fixed
    cost. The clamp is scoped to the drain and restored after; on a
    real deployment the partition count is a capacity decision made
    once per stream at the checkpoint's first start, not per query.
    """
    spark = df.sparkSession
    try:
        spark.catalog.dropTempView(name)
    except Exception:  # noqa: BLE001 — absent on first run
        pass
    prev = spark.conf.get("spark.sql.shuffle.partitions", "200")
    clamp = str(min(int(prev), 8))
    spark.conf.set("spark.sql.shuffle.partitions", clamp)
    try:
        return SW.run_stream_to_memory(df, name, mode)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# ---- streaming keep-first dedup (batch twin: dedup_first_event) -------------

# State per (user_id, event_type) is ONE min-struct — (ts, event_id,
# value) ordered lexicographically, and (ts, event_id) is unique, so
# `value` never breaks a tie. min is associative/commutative: arrival
# order and micro-batch boundaries cannot change the drained winner,
# which is exactly the batch row_number()-rn=1 row. One shuffle by the
# dedup key; state O(distinct keys). At 100 TB: update mode + RocksDB
# store + TTL on retired keys replaces the complete-mode drain.


@query("streaming_dedup_first_event", oracle=ORACLE["dedup_first_event"])
def streaming_dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first exact dedup as a CONTINUOUS query: earliest event
    per (user, type), event_id tiebreak — same contract as the batch
    ``dedup_first_event`` row, same oracle."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("user_id", "event_type").agg(
        F.min(F.struct("ts", "event_id", "value")).alias("w")
    )
    res = _drain(agg, "s13_dedup", "complete")
    return res.select(
        F.col("w.event_id").alias("event_id"),
        "user_id",
        "event_type",
        F.col("w.value").alias("value"),
    )


# ---- streaming tumbling / sliding windows (batch twins: tumbling_hourly_events
# / sliding_2h_events) --------------------------------------------------------

# Identical F.window expressions and identical dec_sum aggregates as
# the batch twins — the point of the row is that the STREAMING graph
# (watermark + windowed state + drain) lands on the same bytes. The
# 2-hour watermark bounds state on an unbounded stream (windows older
# than max-event-time − 2 h finalize and evict); under the bounded
# complete-mode drain it is carried but nothing is evicted, so the
# drained table equals the batch aggregation.


@query("streaming_tumbling_hourly", oracle=_TUMBLING_ORACLE)
def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked 1-hour tumbling count/sum over the events stream —
    streaming twin of ``tumbling_hourly_events``, same oracle."""
    ev = _events_stream(spark, sf_dir)
    out = SW.windowed_counts_stream(
        ev,
        "1 hour",
        None,
        "2 hours",
        [
            F.count(F.lit(1)).alias("n_events"),
            FN.dec_sum("value", 4, "sum_value"),
        ],
    )
    return _drain(out, "s13_tumbling", "complete").select(
        "window_start", "n_events", "sum_value"
    )


@query("streaming_sliding_2h", oracle=_SLIDING_ORACLE)
def streaming_sliding_2h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding by 1 hour over the events stream —
    streaming twin of ``sliding_2h_events``, same oracle."""
    ev = _events_stream(spark, sf_dir)
    out = SW.windowed_counts_stream(
        ev,
        "2 hours",
        "1 hour",
        "2 hours",
        [
            F.count(F.lit(1)).alias("n_events"),
            FN.dec_sum("value", 4, "sum_value"),
        ],
    )
    return _drain(out, "s13_sliding", "complete").select(
        "window_start", "n_events", "sum_value"
    )


# ---- custom stateful operator under the contract (applyInPandasWithState) ---

# The v1 arbitrary-state API: the transformWithStateInPandas v2 API
# needs a google.protobuf runtime on the workers, which this engine
# does not depend on. State per user is (n, cents): both exact
# integers, so the fold is a commutative monoid and the drained result
# is micro-batch-invariant AND engine-exact (floor(value·100) is one
# IEEE multiply + floor, identical in numpy and DuckDB; integer
# addition is order-free — the whitening-audit discipline). Update
# mode emits a row per key per touched batch; the drain keeps each
# key's last emit (n_events strictly increases per emit, so max-n is
# the final state).

_TOTALS_OUT = "user_id long, n_events long, total_cents long"
_TOTALS_STATE = "n long, cents long"


def _totals_cents_update(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import numpy as np

    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        if not len(pdf):
            continue
        n += len(pdf)
        cents += int(
            np.floor(pdf["value"].to_numpy(dtype="float64") * 100.0)
            .astype("int64")
            .sum()
        )
    state.update((n, cents))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_cents": [cents]}
    )


_TOTALS_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
FROM events
GROUP BY user_id
"""


@query("streaming_user_totals_cents", oracle=_TOTALS_ORACLE)
def streaming_user_totals_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-user (event count, exact cents total) maintained in
    keyed arbitrary state across micro-batches — the custom-stateful-
    operator surface (``applyInPandasWithState``) under the driver's
    oracle gate."""
    from pyspark.sql import Window

    ev = _events_stream(spark, sf_dir)
    out = (
        ev.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _totals_cents_update,
            outputStructType=_TOTALS_OUT,
            stateStructType=_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    res = _drain(out, "s13_totals", "update")
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        res.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_cents")
    )


# ---- stream-static enrichment join + aggregation ---------------------------

# The medallion enrichment pattern as a stream: purchase events joined
# to the STATIC customer→nation dims (broadcast on the stream side —
# no state, no shuffle of the stream beyond the final agg), then a
# keyed revenue rollup in exact integer cents. At 100 TB the static
# side is a slowly-changing broadcast refreshed per trigger; the
# stream never re-shuffles for the join.

_NATION_REV_ORACLE = """
SELECT n.n_name,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CAST(floor(e.value * 100) AS BIGINT)) AS BIGINT)
           AS revenue_cents
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
WHERE e.event_type = 'purchase'
GROUP BY n.n_name
"""


@query("streaming_nation_revenue", oracle=_NATION_REV_ORACLE)
def streaming_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase-event revenue by customer nation: stream-static
    broadcast join + complete-mode rollup in exact cents."""
    cat = Catalog(spark, sf_dir)
    dim = F.broadcast(
        cat.customer.join(
            cat.nation,
            cat.customer.c_nationkey == cat.nation.n_nationkey,
        ).select(F.col("c_custkey").alias("user_id"), "n_name")
    )
    ev = SW.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    agg = (
        ev.join(dim, "user_id")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.floor(F.col("value") * 100).cast("long")).alias(
                "revenue_cents"
            ),
        )
    )
    return _drain(agg, "s13_nationrev", "complete").select(
        "n_name", "n_purchases", "revenue_cents"
    )


# ---- stream-stream interval self-join ---------------------------------------

# The attribution join as two LIVE streams: purchases matched to the
# same user's clicks in the preceding hour. Both sides carry event-time
# watermarks and the join predicate bounds c_ts to a closed interval
# around p_ts, so each side's state evicts once the other side's
# watermark passes the interval — state is O(events in the watermark
# horizon), not O(stream). Inner stream-stream joins emit a match as
# soon as both rows exist (append mode), so the bounded drain yields
# the complete batch interval-join result; the post-drain rollup
# (count + min gap in exact integer micros) keeps the hashed contract
# compact and order-free.

_SS_JOIN_ORACLE = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       CAST(count(*) AS BIGINT) AS n_clicks_1h,
       CAST(min(epoch_us(CAST(p.ts AS TIMESTAMP))
                - epoch_us(CAST(c.ts AS TIMESTAMP))) AS BIGINT)
           AS min_gap_us
FROM events p
JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click'
 AND CAST(c.ts AS TIMESTAMP) >= CAST(p.ts AS TIMESTAMP) - INTERVAL 1 HOUR
 AND CAST(c.ts AS TIMESTAMP) <= CAST(p.ts AS TIMESTAMP)
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
"""


@query("streaming_click_purchase_interval_join", oracle=_SS_JOIN_ORACLE)
def streaming_click_purchase_interval_join(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Purchases joined to same-user clicks within the preceding hour
    as a watermarked stream-stream self-join; per purchase the click
    count and the minimum gap in exact integer microseconds."""
    ev = _events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    j = purchases.join(
        clicks,
        F.expr(
            "p_user = c_user AND "
            "c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
        "inner",
    )
    res = _drain(j, "s13_ssjoin", "append")
    gap = F.unix_micros("p_ts") - F.unix_micros("c_ts")
    return res.groupBy(
        "purchase_id", F.col("p_user").alias("user_id")
    ).agg(
        F.count(F.lit(1)).alias("n_clicks_1h"),
        F.min(gap).alias("min_gap_us"),
    )


# ---- foreachBatch incremental gold under the contract -----------------------

# The exactly-once incremental-maintenance surface
# (streaming/incremental.py: per-batch partial agg, monoid merge into
# versioned parquet state, atomic pointer flip, replay-idempotent by
# batch_id) driven end-to-end and diffed against the from-scratch
# batch aggregate. Values stream as floor(value·100) cents, so the
# folded sum is an exact integer in double headroom (< 2^53 at any
# plausible scale) and min/max are exact selections — nothing
# arrival-order-sensitive reaches the hash. The state root is wiped
# per invocation (this is a verification row; production keeps the
# root and checkpoint across runs — that continuity IS the feature,
# tested in test_incremental_gold.py).

_INCR_GOLD_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS total_cents,
       CAST(min(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS min_cents,
       CAST(max(CAST(floor(value * 100) AS BIGINT)) AS BIGINT)
           AS max_cents
FROM events
GROUP BY user_id
"""


@query("streaming_incremental_gold_totals", oracle=_INCR_GOLD_ORACLE)
def streaming_incremental_gold_totals(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-user gold aggregate maintained incrementally by the
    foreachBatch versioned-state sink, then read back from the
    committed pointer — equals the from-scratch batch aggregate."""
    import os
    import shutil

    from climate_anomaly_bigdata_pipeline_spark.sources.artifacts import (
        artifact_dir,
    )
    from climate_anomaly_bigdata_pipeline_spark.streaming import (
        incremental as INC,
    )

    root = os.path.join(artifact_dir(), "s13_incr_gold")
    shutil.rmtree(root, ignore_errors=True)
    ev = _events_stream(spark, sf_dir).select(
        "user_id", F.floor(F.col("value") * 100).cast("double").alias("value")
    )
    INC.run_incremental_agg(ev, root)
    state = INC.read_gold_state(spark, root)
    return state.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("sum_value").cast("long").alias("total_cents"),
        F.col("min_value").cast("long").alias("min_cents"),
        F.col("max_value").cast("long").alias("max_cents"),
    )


# ---- streaming sketch state (HLL) with a tolerance certificate --------------

# approx_count_distinct as STREAMING state: the per-group HLL sketch
# folds across micro-batches (sketch merge is the monoid), complete
# mode drains the merged estimate. The estimate is engine- AND
# path-specific, so it follows the approx_distinct_users posture:
# hash the exact count (computed batch-side) + a within-tolerance
# boolean; the sketch value itself never reaches the hash.

_STREAM_HLL_ORACLE = """
SELECT event_type,
       CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_tol
FROM events
GROUP BY event_type
"""


@query("streaming_approx_users_by_type", oracle=_STREAM_HLL_ORACLE)
def streaming_approx_users_by_type(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distinct users per event type from streaming HLL state, gated
    within 5% of the exact batch count (rsd=0.02)."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("approx_users")
    )
    res = _drain(agg, "s13_hll", "complete")
    exact = (
        Catalog(spark, sf_dir)
        .events.groupBy("event_type")
        .agg(F.countDistinct("user_id").cast("long").alias("exact_users"))
    )
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
    ) <= 0.05
    return res.join(F.broadcast(exact), "event_type").select(
        "event_type", "exact_users", within.alias("within_tol")
    )
