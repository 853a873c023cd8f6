"""Relational core operators (SURVEY.md §2.2-2.4, §2.6 + engine additions).

Each is a pure DataFrame function generalizing a reference pattern:
projections/renames (P7), range & SQL-string predicates (P8/P9), null
validation (P5), equi and bounded cross joins (J1-J3), group
percentiles (A9), ordered limit / top-k (O1/W4), exact dedup
(north-star §2.10). The group-bys, pivot, null profile, histogram and
MERGE that one SQL text expresses live as texts in
``queries/relational.py``.

Scale notes inline per operator; the common rules: project before
shuffling, broadcast dimension tables explicitly, aggregate with
built-ins only (partial aggregation map-side), never collect.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def rename(df: DataFrame, mapping: Mapping[str, str]) -> DataFrame:
    """Rename-projection (P7, ``jobs/03_silver_to_gold.py:55-62``)."""
    return df.select([F.col(c).alias(mapping.get(c, c)) for c in df.columns])


def validate_required(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """Null-validation filter (P5, ``jobs/02_bronze_to_silver.py:28,63``)."""
    return df.dropna(subset=list(required))


def rejected_counts(df: DataFrame, required: Sequence[str]) -> DataFrame:
    """Rejected-row accounting (P6) in ONE aggregation pass.

    The reference runs two ``count()`` actions and recomputes the DAG
    (``jobs/02_bronze_to_silver.py:29-32``); here a single agg computes
    total and per-column null counts map-side.
    """
    aggs = [F.count(F.lit(1)).alias("total_rows")] + [
        F.sum(F.col(c).isNull().cast("long")).alias(f"null_{c}") for c in required
    ]
    return df.agg(*aggs)


def equi_join(
    df: DataFrame,
    other: DataFrame,
    on: str | Sequence[str],
    how: str = "inner",
    broadcast_right: bool = False,
) -> DataFrame:
    """Equi join (J2/J3) with an explicit broadcast hint for dims.

    At 100 TB the choice of broadcast vs shuffle is the whole game:
    pass ``broadcast_right=True`` for bounded dimension tables so the
    big side never shuffles.
    """
    right = F.broadcast(other) if broadcast_right else other
    return df.join(right, on=on, how=how)


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    how: str = "inner",
    salt: int = 8,
) -> DataFrame:
    """Skew-mitigating equi join: spread each hot key of the big side
    over ``salt`` sub-keys and replicate the small side across them.

    When one join key holds a disproportionate share of rows, a plain
    shuffle join lands that key on a single task (the straggler that
    dominates the stage at 100 TB). Salting rewrites the join to
    ``(key, salt)`` so the hot key fans out over ``salt`` tasks; the
    small side is exploded ×salt, which is only viable when it is
    small — for two big skewed sides, prefer AQE's skew-join split
    (enabled in this engine's session) or isolate the hot keys.

    The salt is derived from xxhash64 of the big side's row (any value
    works — correctness does not depend on it) so plans stay
    deterministic.
    """
    big_salted = big.withColumn(
        "__salt", F.pmod(F.xxhash64(*big.columns), F.lit(salt))
    )
    small_replicated = small.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    return big_salted.join(small_replicated, [on, "__salt"], how).drop("__salt")


def bounded_cross_join(
    df: DataFrame, other: DataFrame, limit: int | None = None, order_by: str | None = None
) -> DataFrame:
    """Cross join with a bounded, *ordered* small side (J1 + O1).

    The reference bounds with a bare ``limit(50)`` (nondeterministic
    which 50 — ``jobs/03_silver_to_gold.py:77``); we order first so the
    result is reproducible, then broadcast the bounded side so the plan
    is BroadcastNestedLoopJoin with no shuffle of the big side.
    """
    small = df
    if order_by is not None:
        small = small.orderBy(order_by)
    if limit is not None:
        small = small.limit(limit)
    return F.broadcast(small).crossJoin(other)


def group_percentiles(
    df: DataFrame,
    keys: Sequence[str],
    col: str,
    quantiles: Sequence[float] = (0.25, 0.5, 0.75),
    scale: int = 4,
) -> DataFrame:
    """Exact interpolated per-group quantiles (A9, notebook cell 7).

    Uses ``percentile`` (exact, linear interpolation — matches DuckDB
    ``quantile_cont``) rather than ``percentile_approx``: approx
    sketches differ across engines and aren't oracle-checkable. At
    true 100 TB scale swap in ``percentile_approx`` and accept the
    sketch error — exposed via the ``exact`` flag upstream if needed.
    """
    aggs = [
        F.round(F.expr(f"percentile({col}, {q})"), scale).alias(f"p{int(q * 100)}")
        for q in quantiles
    ]
    return df.groupBy(*keys).agg(*aggs)


def topk(df: DataFrame, order: Sequence[Column], k: int) -> DataFrame:
    """Global top-k (W4): orderBy + limit ⇒ Spark plans TakeOrderedAndProject
    (per-partition heap + single merge, no full sort)."""
    return df.orderBy(*order).limit(k)


def quality_profile(
    df: DataFrame,
    metrics: Mapping[str, Column],
    bounds: Mapping[str, tuple[float | None, float | None]],
) -> DataFrame:
    """Deequ-style data-quality check suite in ONE aggregation pass.

    ``metrics`` maps check name → aggregate expression (completeness,
    uniqueness ratio, min/max, row count — anything reducible to a
    scalar double); ``bounds`` maps the same names to inclusive
    (lo, hi) limits (None = unbounded). Output: one row per check —
    (check_name, metric, passed).

    All metrics share a single partial-aggregated scan (the reference
    re-runs its DAG once per count — ``jobs/02_bronze_to_silver.py:29``;
    this is the one-pass generalization), then the 1×N metric row is
    unpivoted with ``stack`` — driver-sized, never a second scan.
    """
    names = list(metrics)
    row = df.agg(
        *[metrics[n].cast("double").alias(f"m_{i}") for i, n in enumerate(names)]
    )
    stack_args = ", ".join(f"'{n}', m_{i}" for i, n in enumerate(names))
    long = row.select(
        F.expr(f"stack({len(names)}, {stack_args}) AS (check_name, metric)")
    )
    passed = None
    for n in names:
        lo, hi = bounds.get(n, (None, None))
        ok = F.lit(True)
        if lo is not None:
            ok = ok & (F.col("metric") >= F.lit(float(lo)))
        if hi is not None:
            ok = ok & (F.col("metric") <= F.lit(float(hi)))
        branch = F.when(F.col("check_name") == n, ok)
        passed = branch if passed is None else passed.when(
            F.col("check_name") == n, ok
        )
    return long.withColumn("passed", passed)


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: Mapping[str, float],
    key_col: str,
    default_rate: float = 0.0,
    seed: str = "strat",
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff its
    md5-derived bucket (0-9999) falls under its stratum's rate.

    The per-stratum rate is the standard rebalancing tool for training
    mixes (downsample boilerplate strata, keep rare ones); hash-mod
    membership is reproducible, engine-portable, and stable under
    corpus growth — a row's fate never depends on partitioning or on
    other rows. Pure row-local expression: scales with the scan.
    """
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    rate = None
    for s, r in rates.items():
        branch = F.when(F.col(strata_col) == s, F.lit(int(r * 10000)))
        rate = branch if rate is None else rate.when(
            F.col(strata_col) == s, F.lit(int(r * 10000))
        )
    rate = rate.otherwise(F.lit(int(default_rate * 10000)))
    return df.filter(bucket < rate)


def dedup_exact(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column] | None = None
) -> DataFrame:
    """Exact deduplication (north-star §2.10).

    With ``order``: deterministic keep-first via row_number (one
    shuffle by ``keys``). Without: ``dropDuplicates`` (nondeterministic
    representative — fine when rows are identical duplicates).
    """
    if order is None:
        return df.dropDuplicates(list(keys))
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def quota_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    n: int,
    seed: str = "quota",
) -> DataFrame:
    """Deterministic per-group quota: keep at most ``n`` rows per group,
    chosen by md5 order over the key — the per-domain/per-source cap
    every crawl-derived training mix applies so one host can't dominate.

    Hash order makes the selection reproducible, engine-portable, and
    independent of input partitioning; one shuffle by group, and with
    AQE a skewed group splits across tasks before the rank filter.
    Adds ``quota_rank`` (1-based within group).
    """
    rank_key = F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string")))
    w = Window.partitionBy(*group_cols).orderBy(rank_key, F.col(key_col))
    return (
        df.withColumn("quota_rank", F.row_number().over(w))
        .filter(F.col("quota_rank") <= n)
    )


def hash_split(
    df: DataFrame,
    key_col: str,
    splits: Sequence[tuple[str, int]] = (("train", 90), ("val", 5), ("test", 5)),
    seed: str = "split",
) -> DataFrame:
    """Assign each row to a named split by md5 bucket (percent weights
    summing to 100). Membership is a pure function of the key — stable
    under corpus growth, repartitioning, and re-runs, which is the
    property that keeps eval sets uncontaminated across pipeline
    versions. Row-local expression, no shuffle. Adds ``split``.
    """
    total = sum(w for _, w in splits)
    if total != 100:
        raise ValueError(f"split weights must sum to 100, got {total}")
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 100
    )
    expr, cum = None, 0
    for name, w in splits:
        cum += w
        cond = bucket < cum
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    return df.withColumn("split", expr)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    token_count_col: str,
    budget: int,
) -> DataFrame:
    """Assign documents to fixed-token-budget training packs by running
    offset: doc *i* (in ``id_col`` order) goes to pack
    floor(cumulative_tokens_before_i / budget). Deterministic,
    single-pass, and order-stable — the streaming-fill approximation of
    sequence packing (a doc whose start straddles a boundary overflows
    its pack by at most one document, the standard trade against the
    sequential exact-greedy packer, which cannot parallelize).

    The running sum is one unpartitioned window — correct at any scale
    only AFTER a grain reduction or per-shard partitioning; for
    corpus-scale packing, partition by a shard key first (pack ids then
    namespace by shard). Adds ``pack_id`` (0-based).
    """
    w = Window.orderBy(F.col(id_col)).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = F.sum(F.col(token_count_col)).over(w) - F.col(token_count_col)
    return df.withColumn("pack_id", F.floor(cum / budget).cast("long"))


def mix_to_target(
    df: DataFrame,
    group_col: str,
    targets: Mapping[str, float],
    key_col: str,
    seed: str = "mix",
) -> DataFrame:
    """Rebalance a corpus toward target per-group proportions by
    deterministic downsampling: each group's keep-rate is
    min(1, target_share · total / group_count) — groups over their
    target share are thinned, under-represented groups are kept whole
    (upsampling is a separate, explicit choice). Groups absent from
    ``targets`` are dropped.

    Two passes: a groups-sized count aggregate (collected into a
    broadcast literal-free join), then a row-local md5-Bernoulli
    filter — membership is a pure function of the key, stable under
    growth and partitioning. The standard training-mix knob
    (domain/language rebalancing) at scan cost.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    total = F.sum("__n").over(Window.partitionBy())
    target_map = F.create_map(
        *[F.lit(x) for kv in targets.items() for x in kv]
    )
    target = target_map[F.col(group_col)]
    # least() ignores NULLs (both Spark and ANSI), so an absent target
    # must short-circuit BEFORE least or the group silently keeps rate 1
    rates = counts.select(
        group_col,
        F.when(
            target.isNotNull(),
            F.least(F.lit(1.0), target * total / F.col("__n")),
        ).alias("__rate"),
    )
    bucket = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(f"{seed}:"), F.col(key_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    )
    joined = df.join(F.broadcast(rates), group_col)
    return (
        joined.filter(F.col("__rate").isNotNull() & (bucket < F.col("__rate") * 10000))
        .drop("__rate")
    )


def unpivot_long(
    df: DataFrame,
    ids: Sequence[str],
    values: Sequence[str],
    var_name: str = "measure",
    value_name: str = "value",
) -> DataFrame:
    """Wide → long reshape (melt): one output row per (id row × value
    column). ``DataFrame.unpivot`` expands in-place per input row — an
    Expand node, no shuffle, no join — so it costs one narrow pass at
    any scale. The inverse of a pivot (SURVEY §2.4 A6).
    """
    return df.unpivot(list(ids), list(values), var_name, value_name)


def full_outer_reconcile(
    left: DataFrame,
    right: DataFrame,
    on: str,
    presence_name: str = "presence",
) -> DataFrame:
    """Full-outer reconciliation of two keyed datasets: every key from
    either side, with a ``presence`` tag (``both``/``left_only``/
    ``right_only``) — the audit-join complement of MERGE (the
    ``merge_upsert_users`` query). The join key is emitted once, coalesced.

    One shuffle on the key (or broadcast if one side is small — AQE
    decides from runtime sizes); presence derives from null-side
    detection, so no second pass.
    """
    joined = left.withColumnRenamed(on, "__lk").join(
        right.withColumnRenamed(on, "__rk"),
        F.col("__lk") == F.col("__rk"),
        "full_outer",
    )
    presence = (
        F.when(F.col("__lk").isNotNull() & F.col("__rk").isNotNull(), "both")
        .when(F.col("__rk").isNull(), "left_only")
        .otherwise("right_only")
    )
    return (
        joined.withColumn(on, F.coalesce("__lk", "__rk"))
        .withColumn(presence_name, presence)
        .drop("__lk", "__rk")
    )


def pareto_frontier_2d(
    df: DataFrame, maximize_col: str, minimize_col: str
) -> DataFrame:
    """2-D Pareto frontier (skyline): keep rows not dominated by any
    other — no other row is at least as good on both axes (higher
    ``maximize_col``, lower ``minimize_col``) and strictly better on
    one. The classic "best trade-offs" query (price vs size, quality
    vs cost) that SQL engines answer with a quadratic self-anti-join;
    this is the sort-based linear form.

    Two windows over one total order by ``minimize_col``: a row
    survives iff its value strictly beats the running max over all
    strictly-smaller ``minimize_col`` rows (RANGE … 1 PRECEDING, so
    equal-min peers don't suppress each other) AND it ties the max of
    its own equal-min group. Skyline(sample) ⊆ skyline(all), so at
    100 TB pre-filter per partition with the same expression before
    the global sort — the frontier itself is tiny.
    """
    w_prev = (
        Window.orderBy(F.col(minimize_col).cast("double"))
        .rangeBetween(Window.unboundedPreceding, -1)
    )
    w_same = Window.partitionBy(minimize_col)
    run_max = F.max(maximize_col).over(w_prev)
    same_max = F.max(maximize_col).over(w_same)
    keep = (run_max.isNull() | (F.col(maximize_col) > run_max)) & (
        F.col(maximize_col) == same_max
    )
    return df.withColumn("__keep", keep).filter("__keep").drop("__keep")


def equi_depth_histogram(
    df: DataFrame,
    value_col: str,
    tiebreak: Sequence[str] = (),
    nbuckets: int = 10,
) -> DataFrame:
    """Equi-depth (equi-height) histogram: ``nbuckets`` buckets of
    near-equal row count with per-bucket bounds — the quantile-based
    complement of the fixed-width histogram (A8) and what an
    optimizer's column statistics actually store. Bucket sizes differ
    by at most one row (ntile semantics).

    Exact form needs a total order (one global sort) — fine through
    memory-sized inputs and oracle-checkable; at 100 TB swap the ntile
    for ``percentile_approx`` boundaries and a row-local bucket lookup,
    same output shape.
    """
    order = [F.col(value_col)] + [F.col(c) for c in tiebreak]
    bucket = F.ntile(nbuckets).over(Window.orderBy(*order)).cast("int")
    return (
        df.filter(F.col(value_col).isNotNull())
        .withColumn("bucket", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min(value_col).alias("lo"),
            F.max(value_col).alias("hi"),
        )
    )


def temperature_mix(
    df: DataFrame,
    group_col: str,
    alpha: float = 0.5,
    scale: int = 6,
) -> DataFrame:
    """Temperature-scaled mixture weights: per-group sampling weight
    ``n_g^alpha / sum(n^alpha)`` — the multilingual/multi-source
    rebalancing rule (alpha < 1 flattens the distribution toward rare
    groups, alpha = 1 is proportional) used to build training mixes.
    Returns (group, n_docs, weight); feed the weights into
    :func:`mix_to_target` to materialize the sample.

    One groups-sized aggregate, then an unpartitioned window-sum over
    the group table (groups-cardinality rows, never raw data) — scan
    cost at any corpus size.
    """
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_docs"))
    powered = F.pow(F.col("n_docs").cast("double"), F.lit(float(alpha)))
    denom = F.sum(powered).over(Window.partitionBy())
    return counts.select(
        group_col,
        F.col("n_docs"),
        F.round(powered / denom, scale).alias("weight"),
    )


def grouped_linreg(
    df: DataFrame,
    keys: Sequence[str],
    x_col: str,
    y_col: str,
    scale: int = 4,
) -> DataFrame:
    """Per-group ordinary-least-squares fit: slope, intercept, R², and
    pair count of ``y ~ x`` within each group — the trend-extraction
    step behind "is this metric drifting per segment?" dashboards, as
    one aggregate instead of a per-group model loop.

    Uses the SQL ``regr_*`` aggregate family (single-pass moment
    sums, map-side partial aggregation) — one groups-sized shuffle,
    no iteration, no Python. Rounded for cross-engine float stability.
    """
    return df.groupBy(*keys).agg(
        F.round(F.regr_slope(F.col(y_col), F.col(x_col)), scale).alias("slope"),
        F.round(
            F.regr_intercept(F.col(y_col), F.col(x_col)), scale
        ).alias("intercept"),
        F.round(F.regr_r2(F.col(y_col), F.col(x_col)), scale).alias("r2"),
        F.regr_count(F.col(y_col), F.col(x_col)).alias("n_pairs"),
    )


def winsorize_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    scale: int = 4,
) -> DataFrame:
    """Winsorized per-group statistics: clamp values outside the exact
    [lo, hi] group quantiles to the fence and report group size, clip
    counts, and the raw vs winsorized mean — the outlier-robust
    normalization gate (heavy-tail metric cleanup, reward clipping)
    that precedes any mean-based downstream stat.

    Two passes expressed as one plan: a groups-sized exact-percentile
    aggregate (same ``percentile`` ≡ ``quantile_cont`` contract as
    :func:`group_percentiles`) broadcast back onto the rows, then one
    grouped aggregate. At 100 TB swap the exact percentile for
    ``percentile_approx`` — the join and agg shapes are unchanged.
    """
    fences = df.groupBy(*keys).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("lo_fence"),
        F.expr(f"percentile({value_col}, {hi})").alias("hi_fence"),
    )
    v = F.col(value_col)
    clipped = (
        F.when(v < F.col("lo_fence"), F.col("lo_fence"))
        .when(v > F.col("hi_fence"), F.col("hi_fence"))
        .otherwise(v)
    )
    return (
        df.join(F.broadcast(fences), list(keys))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((v < F.col("lo_fence")).cast("long")).alias("n_clipped_lo"),
            F.sum((v > F.col("hi_fence")).cast("long")).alias("n_clipped_hi"),
            F.round(F.avg(v), scale).alias("mean_raw"),
            F.round(F.avg(clipped), scale).alias("mean_winsorized"),
        )
    )


def rank_distribution(
    df: DataFrame,
    value_col: str | Column,
    tiebreak: Sequence[str | Column] = (),
    partition_cols: Sequence[str] = (),
) -> DataFrame:
    """Attach ``pct_rank`` (percent_rank) and ``cume_dist`` over a
    total order — the distribution-position twin of ntile bucketing.
    Ties share a rank, so a deterministic ``tiebreak`` is only needed
    when downstream wants stable row identity, not for the ranks
    themselves. Single window = one sort per partition.
    """
    w = Window.partitionBy(*partition_cols).orderBy(value_col, *tiebreak)
    return df.withColumn("pct_rank", F.round(F.percent_rank().over(w), 6)).withColumn(
        "cume_dist", F.round(F.cume_dist().over(w), 6)
    )


def _range_scan(
    df: DataFrame,
    order_cols: Sequence[str],
    aggs: Sequence[Column],
    n_parts: int | None,
    pin_input: bool,
) -> tuple[DataFrame, list]:
    """Phase one of every distributed ordered scan below: range-partition
    on the order key (parallel sampled exchange), tag each row with its
    ``__pid``, pin the result, and collect ``aggs`` per partition — a
    bounded collect of one row per non-empty partition, returned in
    partition order. The caller folds those rows driver-side into
    per-partition carry-ins (:func:`_by_pid`) and applies them to a
    partition-LOCAL window over ``__pid``, so no stage funnels the data
    through one task.

    The partitioned input is pinned with ``localCheckpoint`` because
    range boundaries are sampled: the collect and the caller's window
    must see the SAME partitioning (at 100 TB use reliable
    ``checkpoint`` — same contract). Range partitioning also samples
    its input before the exchange, so an unpinned input subtree is
    evaluated twice; ``pin_input`` pins it first, which pays when the
    caller hands in an aggregate or pair expansion whose re-evaluation
    costs more than one small block write. Results never
    depend on the partitioning: callers require a total order."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    if pin_input:
        df = df.localCheckpoint()
    part = (
        df.repartitionByRange(n, *[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()
    )
    rows = part.groupBy("__pid").agg(*aggs).collect()
    return part, sorted(rows, key=lambda r: r["__pid"])


def _by_pid(carry: Mapping[int, object], vtype: str | None = None) -> Column:
    """``carry[__pid]`` as one map literal; NULL for a partition whose
    carry is absent or None. ``vtype`` casts each value to the input
    column's type: a bare ``F.lit(Decimal)`` types as DECIMAL(38,18),
    and least()/greatest() would then coerce a DECIMAL(38,0) input to
    (38,18), silently nulling |x| >= 1e20. With no carry at all (an
    empty input, or one non-empty partition) it is a typed NULL — an
    empty ``create_map()`` is ``map<void,void>``, which the int
    ``__pid`` cannot index."""
    kv = [
        x
        for pid, v in carry.items()
        if v is not None
        for x in (F.lit(pid), F.lit(v) if vtype is None else F.lit(v).cast(vtype))
    ]
    if not kv:
        return F.lit(None).cast(vtype or "long")
    return F.create_map(*kv)[F.col("__pid")]


def stable_global_index(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "idx",
    n_parts: int | None = None,
    return_total: bool = False,
    pin_input: bool = True,
) -> DataFrame | tuple[DataFrame, int]:
    """Dense 0-based global index in ``order_cols`` order WITHOUT the
    single-task bottleneck: ``row_number() OVER (ORDER BY ...)`` plans
    a global sort into ONE partition — the classic driver-killer at
    scale. The distributed recipe is two-phase (:func:`_range_scan`):
    range-partition on the order key, count rows per partition,
    prefix-sum those counts driver-side into per-partition offsets,
    then add a partition-LOCAL row_number to the broadcast offset.
    Every stage is parallel; the only driver data is n_partitions
    integers. ``order_cols`` must be a total order (include a unique
    tiebreak column) for the index to be deterministic.

    With ``return_total=True`` also returns the total row count,
    summed from the SAME per-partition counts collect — callers that
    need N (decile formulas, shares) get it with zero extra actions
    instead of re-scanning via ``df.count()``. ``pin_input=False``
    opts out of pinning the input when the caller already pinned it.
    """
    count = F.count(F.lit(1)).alias("n")
    part, rows = _range_scan(df, order_cols, [count], n_parts, pin_input)
    offsets, acc = {}, 0
    for r in rows:
        offsets[r["__pid"]] = acc
        acc += r["n"]
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    out = part.withColumn(
        out_col, (_by_pid(offsets) + F.row_number().over(w) - 1).cast("long")
    ).drop("__pid")
    return (out, acc) if return_total else out


def running_totals(
    df: DataFrame,
    order_cols: Sequence[str],
    value_out: Sequence[tuple[str, str]],
    n_parts: int | None = None,
    return_totals: bool = False,
    pin_input: bool = True,
) -> DataFrame | tuple[DataFrame, list]:
    """Global cumulative sums (inclusive prefix sums) of SEVERAL value
    columns in one pass, in ``order_cols`` order, WITHOUT the
    single-partition window: the :func:`stable_global_index` recipe
    generalized from counting rows to summing values — SUM each range
    partition per value column, prefix-sum the partition totals
    driver-side into per-column offsets, then add a partition-LOCAL
    window sum to the broadcast offset. Sharing the one range
    partitioning across columns is what makes multi-ECDF statistics
    (KS, Cramér-von Mises) a single extra exchange instead of one per
    distribution; a column of literal 1s yields the 1-based row index
    in the same pass.

    ``value_out`` is a sequence of ``(value_col, out_col)`` pairs; each
    value column should be integral (long) or DECIMAL so partial sums
    are exact and the result is independent of partitioning.
    ``order_cols`` must be a total order for a deterministic result.

    With ``return_totals=True`` also returns the per-column grand
    totals, summed from the SAME per-partition collect — callers that
    need the denominators (shares, decile boundaries) get them with
    zero extra actions instead of re-scanning."""
    sums = [F.sum(v).alias(f"__t_{i}") for i, (v, _) in enumerate(value_out)]
    part, rows = _range_scan(df, order_cols, sums, n_parts, pin_input)
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    totals = []
    for i, (value_col, out_col) in enumerate(value_out):
        # The carry stays None until an earlier partition has a non-NULL
        # value. A row before its own partition's first non-NULL value
        # then gets the carried sum, or NULL (as the window) when there
        # is none.
        offsets, acc = {}, None
        for r in rows:
            offsets[r["__pid"]] = acc
            t = r[f"__t_{i}"]
            if t is not None:
                acc = t if acc is None else acc + t
        totals.append(0 if acc is None else acc)
        offset, local = _by_pid(offsets), F.sum(value_col).over(w)
        part = part.withColumn(out_col, F.coalesce(offset + local, offset, local))
    out = part.drop("__pid")
    return (out, totals) if return_totals else out


def global_lead(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "lead",
    n_parts: int | None = None,
) -> DataFrame:
    """``lead(value_col) OVER (ORDER BY order_cols)`` WITHOUT the
    single-partition global window: range-partition on the order key,
    take the partition-LOCAL lead, and patch each partition's last row
    with the FIRST value of the next non-empty partition — those
    firsts come from one bounded per-partition ``min(struct(order,
    value))`` collect (:func:`_range_scan`). The last row overall gets
    NULL, as the window function would. ``order_cols`` must be a total
    order (equal keys land in one range partition, but their internal
    lead order would be ambiguous). NULL-safe: only a partition's true
    LAST row is patched (row_number == partition count), so a
    legitimate NULL lead mid-partition — value_col itself NULL on the
    next row — survives instead of being overwritten by the next
    partition's first value.

    This is the missing primitive for gap/interval statistics over a
    sorted domain (Wasserstein-1's ∫|F_a−F_b| dx needs the NEXT
    distinct value's distance) at data sizes where the textbook
    ``Window.orderBy`` would funnel every row through one task."""
    first = F.min(F.struct(*order_cols, value_col)).alias("f")
    part, rows = _range_scan(df, order_cols, [first], n_parts, pin_input=False)
    nxt, follow = {}, None
    for r in reversed(rows):
        nxt[r["__pid"]] = follow
        follow = r["f"][value_col]
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    is_last = F.row_number().over(w) == F.count(F.lit(1)).over(
        Window.partitionBy("__pid")
    )
    nxt_expr = _by_pid(nxt, dict(df.dtypes)[value_col])
    return part.withColumn(
        out_col,
        F.when(is_last, nxt_expr).otherwise(F.lead(value_col).over(w)),
    ).drop("__pid")


def running_min(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "running_min",
    n_parts: int | None = None,
) -> DataFrame:
    """Global running MINIMUM (inclusive prefix min) in ``order_cols``
    order without the single-partition window: min is associative and
    commutative, so the :func:`running_totals` recipe applies verbatim
    with min in place of sum — MIN each range partition, prefix-min
    the partition minima driver-side into per-partition carry-ins,
    then ``least`` of the partition-LOCAL window min and the carry-in
    (``least`` skips NULL, so the first partition's local min stands
    alone). Exact for any orderable type; used by drawdown/drift
    statistics (Page-Hinkley's m_t − min_{i≤t} m_i)."""
    minimum = F.min(value_col).alias("m")
    part, rows = _range_scan(df, order_cols, [minimum], n_parts, pin_input=False)
    carry, best = {}, None
    for r in rows:
        carry[r["__pid"]] = best  # min of all EARLIER partitions
        if r["m"] is not None and (best is None or r["m"] < best):
            best = r["m"]
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    w = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    carry_expr = _by_pid(carry, dict(df.dtypes)[value_col])
    return part.withColumn(
        out_col, F.least(F.min(value_col).over(w), carry_expr)
    ).drop("__pid")


def running_max_strict(
    df: DataFrame,
    order_cols: Sequence[str],
    value_col: str,
    out_col: str = "running_max",
    n_parts: int | None = None,
) -> DataFrame:
    """``max(value_col) OVER (ORDER BY order_cols ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)`` — the STRICT prefix max —
    WITHOUT the single-partition global window: the
    :func:`stable_global_index` recipe with max as the monoid.
    Collect one max per range partition, fold strict carry-ins
    driver-side (partition p's carry = max over partitions < p), then
    ``greatest`` of the carry-in and the partition-LOCAL strict-prefix
    window max. The first row overall gets NULL, as the window
    function would (``greatest`` skips NULLs and returns NULL only when
    both sides are). This is the watermark primitive: the strict prefix
    max of event time over ARRIVAL order is exactly the high-watermark
    each row is judged late against."""
    maximum = F.max(value_col).alias("m")
    part, rows = _range_scan(df, order_cols, [maximum], n_parts, pin_input=False)
    carry, best = {}, None
    for r in rows:
        carry[r["__pid"]] = best
        if r["m"] is not None and (best is None or r["m"] > best):
            best = r["m"]
    w = Window.partitionBy("__pid").orderBy(*order_cols)
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    carry_expr = _by_pid(carry, dict(df.dtypes)[value_col])
    return part.withColumn(
        out_col, F.greatest(F.max(value_col).over(w), carry_expr)
    ).drop("__pid")
