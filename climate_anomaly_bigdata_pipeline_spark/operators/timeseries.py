"""Time-series operators (SURVEY.md §2.5 W3, §2.8 batch windows, §7 step 5).

Covers the reference notebook's rolling-mean trend analysis
(``notebooks/climate_analysis.ipynb`` cell 11) and generalizes the
`events` table's temporal analytics: tumbling/sliding time windows and
gap-based sessionization — all as batch DataFrame ops with exact ANSI
equivalents (streaming variants live in ``streaming/``).

Scale notes: rolling/lag over an *unpartitioned* order column puts all
rows in one window partition — only do that after a grain-reducing
pre-aggregation (e.g. daily rollup first, then a 12-row window over
days). Partitioned variants (per user/station) shuffle once by the
partition key and scale linearly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.functions import ident


def rolling_mean(
    df: DataFrame,
    order_col: str | Column,
    value_col: str,
    window: int,
    partition_cols: Sequence[str] = (),
    min_periods: int | None = None,
    out_name: str = "rolling_mean",
    scale: int = 4,
) -> DataFrame:
    """Trailing k-row rolling mean with pandas ``rolling(k)`` semantics.

    Replicates notebook cell 11 (``rolling(window=12).mean()``): rows
    before ``min_periods`` (default = window) observations yield null —
    a count guard over the same frame, not a second window.
    """
    min_periods = window if min_periods is None else min_periods
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(-(window - 1), 0)
    )
    mean = F.when(
        F.count(value_col).over(w) >= min_periods,
        F.round(F.avg(value_col).over(w), scale),
    )
    return df.withColumn(out_name, mean)


def lag_delta(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    value_col: str,
    partition_cols: Sequence[str] = (),
    out_name: str = "delta",
    scale: int = 4,
) -> DataFrame:
    """Period-over-period delta: value − lag(value) (null for the first
    row of each partition). The engine-added trend operator (SURVEY
    §2.5 'not present: lag/lead')."""
    w = Window.partitionBy(*partition_cols).orderBy(*order_cols)
    return df.withColumn(
        out_name, F.round(F.col(value_col) - F.lag(value_col).over(w), scale)
    )


def trailing_range_agg(
    df: DataFrame,
    keys: Sequence[str],
    date_col: str,
    aggs: Sequence[Column],
    days: int = 7,
    names: Sequence[str] = (),
) -> DataFrame:
    """Trailing ``days``-day windowed aggregates per key over an
    event-time column, as a true RANGE frame (event-time distance, not
    row count): irregular gaps and same-day peers are handled exactly —
    unlike a ROWS frame, which silently counts rows instead of time.

    The order key is days-since-epoch (``datediff``) so Spark's numeric
    ``rangeBetween(-(days-1), 0)`` matches ANSI ``RANGE BETWEEN
    INTERVAL days-1 DAY PRECEDING AND CURRENT ROW`` row-for-row.
    One shuffle by ``keys``; per-partition sort is the per-key order —
    at 100 TB this is the standard "trailing 7-day metric per entity"
    shape, linear in rows per key.
    """
    day_idx = F.datediff(F.to_date(F.col(date_col)), F.lit("1970-01-01"))
    w = (
        Window.partitionBy(*keys)
        .orderBy(day_idx)
        .rangeBetween(-(days - 1), Window.currentRow)
    )
    named = [
        a.over(w).alias(n if n else f"agg_{i}")
        for i, (a, n) in enumerate(
            zip(aggs, list(names) + [""] * (len(aggs) - len(names)))
        )
    ]
    return df.select("*", *named)


def tumbling_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    aggs: Sequence[Column],
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Epoch-aligned tumbling time-window aggregation (batch form of
    the streaming groupBy-window; SURVEY §2.8).

    Emits ``window_start``/``window_end`` columns. One shuffle on
    (window, extra_keys); the window expression is pure (no UDF), so
    partial aggregation happens map-side.
    """
    win = F.window(ts_col, duration)
    return (
        df.groupBy(win.alias("w"), *extra_keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def sliding_window_agg(
    df: DataFrame,
    ts_col: str,
    duration: str,
    slide: str,
    aggs: Sequence[Column],
    extra_keys: Sequence[str] = (),
) -> DataFrame:
    """Sliding (hopping) time-window aggregation: each row contributes
    to duration/slide overlapping windows."""
    win = F.window(ts_col, duration, slide)
    return (
        df.groupBy(win.alias("w"), *extra_keys)
        .agg(*aggs)
        .withColumn("window_start", F.col("w.start"))
        .withColumn("window_end", F.col("w.end"))
        .drop("w")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_tiebreak: str | None = None,
) -> DataFrame:
    """As-of (backward) join: for each left row, the right row with the
    greatest ``right_ts`` <= ``left_ts`` within the same ``by`` keys.

    Spark has no native ASOF JOIN; the naive inequality join is
    O(left×right) per key. This is the scalable composition instead:
    tag + union both sides, then one window pass per key carrying the
    last-seen right payload forward — O((L+R) log(L+R)) with a single
    hash shuffle on ``by``, the plan that survives 100 TB.

    Right rows sort before left rows at equal timestamps, so an exact
    tie matches (<= semantics, like DuckDB ``ASOF JOIN``). Inner
    semantics: left rows with no prior right row are dropped. Output:
    all left columns + right's non-key columns (name collisions must be
    resolved by the caller beforehand).
    """
    by = list(by)
    right_payload = [c for c in right.columns if c not in by]
    lk = left.select(
        *by,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in left.columns]).alias("__l"),
    )
    rk = right.select(
        *by,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.struct(*[F.col(c) for c in right_payload]).alias("__r"),
    )
    u = lk.unionByName(rk, allowMissingColumns=True)
    order = [F.col("__ts"), F.col("__is_left")]
    if right_tiebreak is not None:
        order.append(F.col("__r").getField(right_tiebreak))
    w = (
        Window.partitionBy(*by)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        u.withColumn("__m", F.last("__r", ignorenulls=True).over(w))
        .filter((F.col("__is_left") == 1) & F.col("__m").isNotNull())
    )
    out_cols = [F.col(f"__l.{c}").alias(c) for c in left.columns] + [
        F.col(f"__m.{c}").alias(c) for c in right_payload
    ]
    return matched.select(*out_cols)


def range_join(
    left: DataFrame,
    right: DataFrame,
    by: Sequence[str],
    left_ts: str,
    right_ts: str,
    lower_seconds: float,
    upper_seconds: float,
    strict_lower: bool = False,
) -> DataFrame:
    """Banded interval (range) join: pair each left row with right rows
    whose ``right_ts`` lies in ``[left_ts + lower, left_ts + upper]``
    (lower bound exclusive when ``strict_lower``) within the same
    ``by`` keys.

    Spark has no native range join; a plain equi-join on ``by`` followed
    by the time predicate degenerates to O(n_k x m_k) per key — fatal on
    a hot key at 100 TB. Banding bounds it: both sides bucket time into
    bands as wide as the interval, the left side probes the (<= 2) bands
    its interval can touch via ``sequence``+``explode``, and the join key
    becomes (by..., band) — per-task fan-in is then governed by time
    density, not key skew. The exact predicate re-filters after the
    bucketed equi-join, so results are identical to the naive join.

    Both inputs must have disjoint non-key column names (caller renames
    beforehand); output = by keys + left payload + right payload.
    """
    by = list(by)
    band_us = max(int(round((upper_seconds - lower_seconds) * 1_000_000)), 1)
    lo_us = int(round(lower_seconds * 1_000_000))
    hi_us = int(round(upper_seconds * 1_000_000))

    l_payload = [c for c in left.columns if c not in by]
    r_payload = [c for c in right.columns if c not in by]
    overlap = set(l_payload) & set(r_payload)
    if overlap:
        raise ValueError(f"column collision between sides: {sorted(overlap)}")

    l_us = F.unix_micros(F.col(left_ts))
    lk = left.withColumn(
        "__band",
        F.explode(
            F.sequence(
                F.floor((l_us + lo_us) / band_us).cast("long"),
                F.floor((l_us + hi_us) / band_us).cast("long"),
            )
        ),
    )
    r_us = F.unix_micros(F.col(right_ts))
    rk = right.withColumn("__band", F.floor(r_us / band_us).cast("long"))

    joined = lk.join(rk, on=[*by, "__band"])
    delta = F.unix_micros(F.col(right_ts)) - F.unix_micros(F.col(left_ts))
    lower_pred = (delta > lo_us) if strict_lower else (delta >= lo_us)
    return joined.filter(lower_pred & (delta <= hi_us)).drop("__band")


def sessionize(
    df: DataFrame,
    ts_col: str,
    user_col: str,
    gap_minutes: float,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the gap
    since the user's previous event exceeds ``gap_minutes``.

    Classic lag + cumulative-sum window composition (one shuffle by
    user). Adds ``session_id`` (1-based per user, deterministic given
    a tiebreak column for equal timestamps).
    """
    ts = ident(ts_col)
    order = ts + (f", {ident(tiebreak_col)}" if tiebreak_col else "")
    w_order = f"PARTITION BY {ident(user_col)} ORDER BY {order}"
    gap_us = int(gap_minutes * 60 * 1_000_000)
    prev_ts = f"lag({ts}) OVER ({w_order})"
    is_new = (
        f"CASE WHEN {prev_ts} IS NULL"
        f" OR unix_micros({ts}) - unix_micros({prev_ts}) > {gap_us} THEN 1 ELSE 0 END"
    )
    w_running = f"{w_order} ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    return df.withColumn("session_id", F.expr(f"sum({is_new}) OVER ({w_running})"))


def funnel_stages(
    df: DataFrame,
    stages: Sequence[str],
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strictly-ordered funnel: for each user, stage *i* counts only if
    an event of ``stages[i]`` occurs at a strictly later timestamp than
    the user's stage *i-1* arrival. Returns one row per stage with the
    number of users reaching it (classic conversion funnel, e.g.
    view -> click -> purchase).

    One shuffle total: events of funnel types are grouped per user,
    time-sorted in-row, and the stage-arrival vector is computed with a
    single ``F.aggregate`` fold over the sorted array — equivalent to k
    chained self-joins (min ts of stage i after stage i-1) but without
    the k join shuffles. Per-user event counts are session-scale, so
    the in-row array is small; a pathological hot user degrades to one
    big array, not a skewed join.
    """
    stage_arr = F.array(*[F.lit(s) for s in stages])
    k = len(stages)
    per_user = (
        df.filter(F.col(type_col).isin(list(stages)))
        .groupBy(user_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col(ts_col).alias("ts"),
                                        F.col(type_col).alias("tp")))
            ).alias("seq")
        )
    )
    init = F.array(*[F.lit(None).cast("timestamp") for _ in range(k)])
    state = F.aggregate(
        F.col("seq"),
        init,
        lambda acc, x: F.transform(
            acc,
            lambda s, j: F.when(
                s.isNull()
                & (x["tp"] == F.element_at(stage_arr, j + 1))
                & (
                    (j == F.lit(0))
                    # F.get is 0-indexed and null-safe: j-1 = previous
                    # stage's arrival; -1 (first stage) yields null and
                    # the branch is never taken, so no ANSI index error
                    | (
                        F.get(acc, j - 1).isNotNull()
                        & (x["ts"] > F.get(acc, j - 1))
                    )
                ),
                x["ts"],
            ).otherwise(s),
        ),
    )
    reached = per_user.select(
        F.size(F.filter(state, lambda t: t.isNotNull())).alias("depth")
    )
    counts = reached.groupBy("depth").agg(F.count(F.lit(1)).alias("n"))
    stages_df = df.sparkSession.createDataFrame(
        [(i + 1, s) for i, s in enumerate(stages)], "stage_idx int, stage string"
    )
    # users at depth d reached every stage <= d: suffix-sum the depth counts
    joined = stages_df.join(counts, counts["depth"] >= stages_df["stage_idx"], "left")
    return (
        joined.groupBy("stage_idx", "stage")
        .agg(F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_users"))
    )


def gap_fill_locf(
    df: DataFrame,
    order_cols: Sequence[str | Column],
    value_col: str,
    partition_cols: Sequence[str] = (),
    out_name: str = "filled",
) -> DataFrame:
    """Last-observation-carried-forward gap fill: nulls in ``value_col``
    take the most recent non-null value in event order (nulls before
    the first observation stay null) — the standard sensor/feed repair
    step the reference's silver stage would need for sparse stations
    (generalizes ``jobs/02_bronze_to_silver.py``'s validity filter:
    instead of dropping null readings, repair them).

    ``F.last(ignorenulls=True)`` over an UNBOUNDED PRECEDING frame is a
    running aggregate — one shuffle by the partition key, then a single
    ordered pass per partition; no self-join, no point lookups. At
    100 TB this is the same cost as any per-key window (sort within
    partitions), and AQE coalesces the post-shuffle partitions.
    """
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return df.withColumn(out_name, F.last(value_col, ignorenulls=True).over(w))


def scd2_history(
    df: DataFrame,
    key_cols: Sequence[str],
    attr_cols: Sequence[str],
    ts_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """SCD-2 history build: compress a per-key event stream into
    validity intervals — one row per (key, attribute-state) run, with
    ``effective_from`` / ``effective_to`` / ``version`` / ``is_current``.
    The type-2 twin of the ``merge_upsert_users`` SCD-1 MERGE: instead
    of overwriting, every attribute change opens a new interval and
    closes the previous one.

    Two windows over ONE shuffle by key: a lag pass flags rows whose
    attribute struct differs (null-safely) from the previous row, then a
    lead pass over the surviving change rows chains each interval's end
    to the next interval's start. Linear per key at 100 TB — the same
    cost envelope as sessionization.
    """
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(*key_cols).orderBy(*order)
    state = F.struct(*[F.col(c) for c in attr_cols])
    changed = ~state.eqNullSafe(F.lag(state).over(w))
    # lag is null on the first row; eqNullSafe(null struct) is false ⇒
    # changed is true there, which is exactly "first version opens".
    ch = df.withColumn("__chg", changed).filter("__chg").drop("__chg")
    w2 = Window.partitionBy(*key_cols).orderBy(*order)
    return (
        ch.withColumn("version", F.row_number().over(w2))
        .withColumn("effective_from", F.col(ts_col))
        .withColumn("effective_to", F.lead(ts_col).over(w2))
        .withColumn("is_current", F.col("effective_to").isNull())
    )


def rolling_corr(
    df: DataFrame,
    order_col: str | Column,
    x_col: str,
    y_col: str,
    window: int,
    partition_cols: Sequence[str] = (),
    min_periods: int | None = None,
    out_name: str = "rolling_corr",
    scale: int = 4,
) -> DataFrame:
    """Trailing k-row rolling Pearson correlation between two series —
    the co-movement twin of :func:`rolling_mean` (e.g. does volume track
    price over the last week?). Rows with fewer than ``min_periods``
    (default = window) observations yield null, pandas-style.

    ``corr`` is a window aggregate, so this is one sort per partition
    with an O(1) frame update — same scale envelope as any trailing
    frame. Unpartitioned use is only safe after a grain reduction
    (see module scale note).
    """
    min_periods = window if min_periods is None else min_periods
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(order_col)
        .rowsBetween(-(window - 1), 0)
    )
    out = F.when(
        F.count(F.lit(1)).over(w) >= min_periods,
        F.round(F.corr(x_col, y_col).over(w), scale),
    )
    return df.withColumn(out_name, out)


def merge_intervals(
    df: DataFrame,
    key_cols: Sequence[str],
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Gaps-and-islands interval coalescing: merge overlapping or
    touching ``[start, end]`` intervals per key into maximal disjoint
    islands — the classic "collapse user activity spans / machine
    uptime windows" operator. Returns one row per island with
    ``interval_start`` / ``interval_end`` / ``n_merged``.

    One shuffle by key: a running ``max(end)`` over strictly-preceding
    rows flags island openers (``start`` beyond everything seen), a
    running sum numbers islands, and a grouped agg collapses them.
    Linear per key at any scale — same envelope as sessionization,
    which is the point-event special case of this interval form.
    """
    w = Window.partitionBy(*key_cols).orderBy(start_col, end_col)
    prev_max = F.max(end_col).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    opener = (prev_max.isNull() | (F.col(start_col) > prev_max)).cast("int")
    island = F.sum(opener).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        df.withColumn("island", island)
        .groupBy(*key_cols, "island")
        .agg(
            F.min(start_col).alias("interval_start"),
            F.max(end_col).alias("interval_end"),
            F.count(F.lit(1)).alias("n_merged"),
        )
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    scale: int = 6,
) -> DataFrame:
    """Monthly cohort retention matrix: assign each user to the month of
    their first event, then for each (cohort month, month offset) count
    distinct active users and the retention share vs the cohort's size
    — the standard product-analytics triangle chart input.

    Distinct (user, active-month) grain first (one shuffle), cohort via
    a per-user window min (no join), then a groups-sized aggregate; the
    final share is a window over the tiny cohort×offset table. At
    100 TB the distinct is the only full-data shuffle.
    """
    am = F.to_date(F.date_trunc("month", F.col(ts_col))).alias("active_month")
    base = df.select(F.col(user_col), am).distinct()
    cohort = F.min("active_month").over(Window.partitionBy(user_col))
    offs = base.withColumn("cohort_month", cohort).withColumn(
        "month_offset",
        F.months_between("active_month", "cohort_month").cast("long"),
    )
    agg = offs.groupBy("cohort_month", "month_offset").agg(
        F.count(F.lit(1)).alias("n_active")
    )
    size = F.max(
        F.when(F.col("month_offset") == 0, F.col("n_active"))
    ).over(Window.partitionBy("cohort_month"))
    return agg.withColumn(
        "retention",
        F.round(F.col("n_active") / size.cast("double"), scale),
    )


def transition_matrix(
    df: DataFrame,
    key_col: str,
    state_col: str,
    ts_col: str,
    tiebreak_col: str | None = None,
    scale: int = 6,
) -> DataFrame:
    """First-order Markov transition matrix over a per-key state
    stream: count each observed (previous state → state) bigram and its
    row-normalized probability — "after a view, how often does a click
    follow?". The bigram twin of :func:`funnel_stages`.

    One shuffle by key for the lag, then a states²-sized aggregate; the
    normalizing window runs over that tiny table. Linear at any scale.
    """
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    w = Window.partitionBy(key_col).orderBy(*order)
    pairs = df.withColumn("prev_state", F.lag(state_col).over(w)).filter(
        F.col("prev_state").isNotNull()
    )
    counts = pairs.groupBy("prev_state", state_col).agg(
        F.count(F.lit(1)).alias("n_trans")
    )
    total = F.sum("n_trans").over(Window.partitionBy("prev_state"))
    return counts.withColumn(
        "prob", F.round(F.col("n_trans") / total.cast("double"), scale)
    )


def ewma_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    value_col: str,
    alpha: float = 0.3,
    scale: int = 4,
    num_buckets: int | None = None,
) -> DataFrame:
    """Final exponentially-weighted moving average per key:
    ``y_0 = x_0; y_i = (1-alpha)*y_{i-1} + alpha*x_i`` (pandas
    ``ewm(alpha, adjust=False)``), returning one row per key with the
    last smoothed value and the observation count.

    EWMA is inherently recursive — no ANSI window frame expresses it —
    so this is the engine's canonical ``applyInPandas`` shape. Grouping
    Arrow batches per KEY would pay pandas fixed costs once per key
    (tens of thousands of tiny frames); instead keys are hashed into
    ``num_buckets`` coarse groups and each bucket runs pandas'
    C-kernel ``groupby().ewm()`` across all its keys in one call —
    bit-identical per-key results (same cython kernel per group),
    ~``num_buckets``/|keys| of the per-group overhead. One shuffle
    (by bucket), memory bounded by the bucket — size ``num_buckets``
    to the cluster (buckets ≫ cores); the output is one row per key.

    The default bucket count derives from ``defaultParallelism``, so
    the PHYSICAL plan (group count) is environment-dependent while the
    per-key RESULTS are bucket-independent (ADVICE r13); pass
    ``num_buckets`` explicitly in any plan-reproducibility-sensitive
    harness.
    """
    import pandas as pd  # local import: executor-side dependency

    # Scale-adaptive bucket count: each applyInPandas GROUP pays a
    # fixed pandas/Arrow slice cost (~0.5 ms measured), so buckets
    # should be "several per core", not a large constant — 1024 cost
    # 0.96 s vs 0.71 s at 256 on local[32] for the same 100k rows.
    # 8× parallelism keeps buckets ≫ cores for skew absorption on any
    # cluster while bounding per-group overhead; results are per-key
    # and provably bucket-count-independent (same cython kernel per
    # key whatever the bucket composition).
    if num_buckets is None:
        num_buckets = max(
            64, 8 * df.sparkSession.sparkContext.defaultParallelism
        )
    keys = list(key_cols)
    out_fields = ", ".join(f"{k} long" for k in keys)
    schema = f"{out_fields}, ewma double, n_obs long"
    order = list(order_cols)

    def smooth_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(keys + order, kind="mergesort")
        g = pdf.groupby(keys, sort=False)
        # MultiIndex result follows (group-appearance, in-group row)
        # order == the sorted frame's row order, so .values aligns.
        pdf = pdf.assign(
            _ewma=g[value_col].ewm(alpha=alpha, adjust=False).mean().values
        )
        out = (
            pdf.groupby(keys, sort=False)
            .agg(ewma=("_ewma", "last"), n_obs=("_ewma", "size"))
            .reset_index()
        )
        out["ewma"] = out["ewma"].astype(float).round(scale)
        return out[keys + ["ewma", "n_obs"]]

    bucket = F.pmod(
        F.xxhash64(*[F.col(k) for k in keys]), F.lit(num_buckets)
    ).alias("_bucket")
    # Explicit-count repartition by the bucket: AQE's byte-based
    # partition coalescing would fold this small-bytes/large-CPU
    # exchange onto one or two cores (pandas time is invisible to the
    # size estimator); a fixed-count hash repartition on the grouping
    # key both keeps the stage wide and already satisfies
    # applyInPandas' clustering requirement, so no second exchange.
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select("*", bucket)
        .repartition(n_parts, "_bucket")
        .groupBy("_bucket")
        .applyInPandas(
            lambda pdf: smooth_bucket(pdf.drop(columns=["_bucket"])),
            schema=schema,
        )
    )


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    left_start: str,
    left_end: str,
    right_start: str,
    right_end: str,
    band_seconds: int = 3600,
) -> DataFrame:
    """Interval×interval overlap join — the two-sided generalization of
    :func:`range_join` (point-in-range): pairs where
    ``[l_start, l_end)`` and ``[r_start, r_end)`` overlap, i.e.
    ``l_start < r_end AND r_start < l_end``.

    A raw inequality join plans a nested loop (quadratic). Instead both
    sides explode into the ``band_seconds`` buckets their interval
    covers, the join is an EQUI-join on the bucket, and the exact
    overlap predicate re-filters; overlapping intervals must share at
    least one covered bucket, so coverage is complete. Each pair is
    emitted exactly once — only from the FIRST band both intervals
    cover (the greater of the two start bands) — so no dedup pass is
    needed and genuinely duplicate input rows keep their
    multiplicity (a full-row distinct would merge them). Fan-out is
    interval_length/band_seconds rows per side — pick the band near the
    typical interval length, exactly like the range join's band. At
    100 TB both explodes are row-local and the single shuffle is keyed
    by bucket.

    Output: all left columns + all right columns (names must not
    collide) + ``overlap_seconds``.
    """
    def bands(start: str, end: str):
        lo = F.floor(F.unix_micros(F.col(start)) / (band_seconds * 1_000_000))
        # end is exclusive: an interval ending exactly on a boundary
        # does not cover the next band.
        hi = F.floor(
            (F.unix_micros(F.col(end)) - 1) / (band_seconds * 1_000_000)
        )
        return F.explode(F.sequence(lo, F.greatest(hi, lo))).alias("__band")

    def lo_band(start: str):
        return F.floor(F.unix_micros(F.col(start)) / (band_seconds * 1_000_000))

    lcols, rcols = left.columns, right.columns
    lb = left.select("*", bands(left_start, left_end))
    rb = right.select("*", bands(right_start, right_end))
    joined = (
        lb.join(rb, "__band")
        .filter(
            (F.col(left_start) < F.col(right_end))
            & (F.col(right_start) < F.col(left_end))
            # Emit each overlapping pair from exactly one band: the first
            # band both intervals cover, i.e. the later of the two start
            # bands. Every other shared band is filtered out row-locally.
            & (F.col("__band") == F.greatest(lo_band(left_start), lo_band(right_start)))
        )
        .drop("__band")
    )
    overlap_us = F.least(
        F.unix_micros(F.col(left_end)), F.unix_micros(F.col(right_end))
    ) - F.greatest(
        F.unix_micros(F.col(left_start)), F.unix_micros(F.col(right_start))
    )
    return joined.select(
        *lcols, *rcols, (overlap_us / 1_000_000.0).alias("overlap_seconds")
    )
