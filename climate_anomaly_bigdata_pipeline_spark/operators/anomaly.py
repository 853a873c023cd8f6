"""Z-score anomaly detection — the reference's core analytic, generalized.

The reference computes per-station mean/stddev with an unbounded
partition window, standardizes each value with a divide-by-zero guard,
and filters |z| >= threshold into a classified extremes table
(``jobs/03_silver_to_gold.py:113-153``, SURVEY.md §2.5 W1/W2 + §2.2 P9).

Here that becomes three composable operators, each a pure DataFrame →
DataFrame function:

* :func:`with_partition_stats` — W1: attach whole-partition mean/std.
* :func:`with_zscore` — W2: guarded standardization.
* :func:`classify_extremes` — P9 + the when/otherwise classification
  (``jobs/03_silver_to_gold.py:148-153``).

Scale notes: a single ``Window.partitionBy`` over the group keys is one
hash shuffle; both ``avg`` and ``stddev`` share the same window, so
Catalyst evaluates them in one Window node with no second exchange. The
filter on |z| is applied after the window (it must see every row of a
partition), but any *pre*-filter on other columns should be applied
before calling these so it pushes to the scan. Skewed partition keys are
handled by AQE; for a known-hot key, salt upstream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.functions import (
    MOMENT,
    ident,
    sample_std_sql,
    sql_lit,
)


def with_partition_stats(
    df: DataFrame,
    value_col: str,
    partition_cols: Sequence[str],
    mean_name: str = "mean_value",
    std_name: str = "std_value",
) -> DataFrame:
    """Attach whole-partition mean and sample stddev to every row.

    Mirrors ``jobs/03_silver_to_gold.py:113-115`` (no orderBy ⇒ the frame
    is the entire partition). Spark's ``stddev`` is the sample stddev
    (``stddev_samp``) — oracle SQL must match.
    """
    w = Window.partitionBy(*partition_cols)
    return df.withColumn(mean_name, F.avg(value_col).over(w)).withColumn(
        std_name, F.stddev(value_col).over(w)
    )


def with_zscore(
    df: DataFrame,
    value_col: str,
    mean_col: str = "mean_value",
    std_col: str = "std_value",
    z_name: str = "z_score",
    scale: int = 4,
) -> DataFrame:
    """Guarded standardization: z = (x - mean) / std, 0.0 when std is 0/null.

    The zero-std guard replicates ``jobs/03_silver_to_gold.py:118-121``
    (a constant partition must yield z = 0.0, not null/inf). ``stddev``
    is null for 1-row partitions — guard that identically.
    """
    z = F.when(
        F.col(std_col).isNull() | (F.col(std_col) == 0), F.lit(0.0)
    ).otherwise(F.round((F.col(value_col) - F.col(mean_col)) / F.col(std_col), scale))
    return df.withColumn(z_name, z)


def zscore(
    df: DataFrame,
    value_col: str,
    partition_cols: Sequence[str],
    z_name: str = "z_score",
    keep_stats: bool = False,
    scale: int = 4,
) -> DataFrame:
    """One-shot per-group z-score (W1 + W2 composed)."""
    out = with_zscore(
        with_partition_stats(df, value_col, partition_cols),
        value_col,
        z_name=z_name,
        scale=scale,
    )
    if not keep_stats:
        out = out.drop("mean_value", "std_value")
    return out


def zscore_exact(
    df: DataFrame,
    value_col: str,
    partition_cols: Sequence[str],
    z_name: str = "z_score",
    scale: int = 4,
    broadcast_hint: bool = True,
) -> DataFrame:
    """Per-group z-score with *order-independent* moment sums.

    ``avg``/``stddev`` over doubles accumulate in shuffle order, so two
    engines (or two runs with different partitioning) can disagree in
    the last bits — visible after rounding when a value sits near a
    boundary. This variant sums x and x² in exact DECIMAL (associative,
    commutative), then derives mean/std in double with a fixed operation
    order, making z bit-identical across engines for identical input.

    Trade-off: the textbook E[x²]−E[x]² form loses precision when
    std ≪ mean (guarded to 0 via ``greatest``); acceptable for analytic
    z-scores, not for high-precision statistics.

    Plan shape: the moments are a grouped aggregate joined back onto
    the fact — NOT ``sum() OVER (PARTITION BY group)``, which
    exchanges AND sorts the whole fact on the group key (measured at
    sf10: 31.8 s for 60 M lineitem rows vs 4-6 s with the join-back;
    the window's sort is pure waste since z needs no ordering). The
    grouped aggregate is map-side combined (groups-sized shuffle) and
    carries an explicit broadcast hint: without it Catalyst size
    estimates pick a sort-merge join at scale and the fact gets sorted
    anyway (measured at sf10: 37.5 s SMJ vs the hinted plan), or —
    worse — broadcast the FACT side at toy scale. The moments table is
    one row per group (suppkey/user_id/event-type dims: well under the
    8 GB broadcast ceiling at any realistic cardinality); for a
    pathological group count pass ``broadcast_hint=False`` and the
    plan degrades to one co-partitioned join, still sort-free on the
    hash path. Join keys are null-safe to mirror the window's
    null-grouping semantics; the DECIMAL moment sums are
    order-independent, so z is bit-identical to the window
    formulation. Internal moment/key columns are tagged with a short
    hash of the caller's column names so a caller column literally
    named ``__s1`` etc. can't collide or be silently dropped.
    """
    import hashlib

    tag = hashlib.md5(
        ("\x00".join([value_col, *partition_cols])).encode()
    ).hexdigest()[:8]
    c_s1, c_s2, c_n = f"__s1_{tag}", f"__s2_{tag}", f"__n_{tag}"
    keys = [f"__k_{tag}_{c}" for c in partition_cols]

    hint = F.broadcast if broadcast_hint else (lambda d: d)
    x = ident(value_col)
    m = f"CAST({x} AS {MOMENT})"
    aggs = [
        F.expr(f"sum({m}) AS {c_s1}"),
        F.expr(f"sum({m} * {m}) AS {c_s2}"),
        F.expr(f"count({x}) AS {c_n}"),
    ]
    if partition_cols:
        keyed = (
            df.groupBy(*partition_cols)
            .agg(*aggs)
            .selectExpr(
                *[f"{ident(c)} AS {ident(k)}" for c, k in zip(partition_cols, keys)],
                c_s1,
                c_s2,
                c_n,
            )
        )
        cond = " AND ".join(
            f"{ident(c)} <=> {ident(k)}" for c, k in zip(partition_cols, keys)
        )
        joined = df.join(hint(keyed), F.expr(cond))
    else:
        joined = df.crossJoin(hint(df.agg(*aggs)))
    s1, s2, n = (f"CAST({c} AS DOUBLE)" for c in (c_s1, c_s2, c_n))
    std = sample_std_sql(s1, s2, n)
    z = (
        f"CASE WHEN {n} < 2 OR {std} = 0 THEN 0.0D"
        f" ELSE round(({x} - {s1} / {n}) / {std}, {int(scale)}) END"
    )
    # One select keeps the input's columns (z replaces a same-named one
    # in place, as withColumn would) and drops the keys and moments.
    z_col = f"{z} AS {ident(z_name)}"
    out = [z_col if c == z_name else ident(c) for c in df.columns]
    return joined.selectExpr(*out, *([] if z_name in df.columns else [z_col]))


def classify_extremes(
    df: DataFrame,
    z_col: str = "z_score",
    threshold: float = 2.5,
    high_label: str = "EXTREME_HIGH",
    low_label: str = "EXTREME_LOW",
    label_name: str = "event_type",
) -> DataFrame:
    """Filter |z| >= threshold and classify sign.

    Generalizes ``jobs/03_silver_to_gold.py:148-153`` (SQL-string
    predicate ``abs(z_score) >= 2.5`` + when/otherwise HEAT/COLD labels).
    """
    z = ident(z_col)
    return df.filter(F.expr(f"abs({z}) >= {sql_lit(threshold)}")).withColumn(
        label_name,
        F.expr(
            f"CASE WHEN {z} > 0 THEN {sql_lit(high_label)}"
            f" ELSE {sql_lit(low_label)} END"
        ),
    )


def iqr_outliers(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    k: float = 1.5,
    scale: int = 4,
) -> DataFrame:
    """Tukey-fence outlier detection per group: values outside
    [Q1 − k·IQR, Q3 + k·IQR] are flagged — the boxplot-whisker rule the
    reference notebook visualizes (``notebooks/climate_analysis.ipynb``
    boxplot cells), as a first-class operator.

    Two passes over the grain: an exact per-group quantile aggregate
    (group-count rows), broadcast-joined back onto the rows — the
    fences table is groups-sized, so the big side never shuffles.
    Quantiles are exact interpolated (engine-portable); at true 100 TB
    swap ``percentile_approx`` per the group_percentiles note.
    """
    gc = list(group_cols)
    fences = df.groupBy(*gc).agg(
        F.expr(f"percentile({value_col}, 0.25)").alias("__q1"),
        F.expr(f"percentile({value_col}, 0.75)").alias("__q3"),
    )
    fenced = fences.select(
        *gc,
        F.round(F.col("__q1") - k * (F.col("__q3") - F.col("__q1")), scale).alias(
            "lo_fence"
        ),
        F.round(F.col("__q3") + k * (F.col("__q3") - F.col("__q1")), scale).alias(
            "hi_fence"
        ),
    )
    return df.join(F.broadcast(fenced), gc).withColumn(
        "is_outlier",
        (F.col(value_col) < F.col("lo_fence")) | (F.col(value_col) > F.col("hi_fence")),
    )


def robust_zscore(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    scale: int = 4,
    out: str = "robust_z",
) -> DataFrame:
    """Median/MAD robust z-score per group:
    0.6745 · (x − median) / MAD, where MAD = median(|x − median|).
    The outlier-resistant twin of the mean/stddev z-score — heavy-tail
    contamination moves mean and stddev but barely moves the medians,
    so injected extremes can't mask each other.

    Two grouped exact-percentile passes (median, then MAD over the
    residuals), each producing a groups-sized table broadcast back
    onto the rows — the big side never shuffles. Zero MAD (constant
    group) guards to null, mirroring zscore_exact's zero-std guard.
    At true 100 TB swap the exact percentiles for the mergeable
    ``percentile_approx`` sketch (same recipe as group_percentiles).
    """
    gc = list(group_cols)
    med = df.groupBy(*gc).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    with_med = df.join(F.broadcast(med), gc)
    mad = (
        with_med.groupBy(*gc)
        .agg(
            F.expr(f"percentile(abs({value_col} - __med), 0.5)").alias("__mad")
        )
    )
    joined = with_med.join(F.broadcast(mad), gc)
    z = F.lit(0.6745) * (F.col(value_col) - F.col("__med")) / F.col("__mad")
    return joined.withColumn(
        out,
        F.when(F.col("__mad") != 0, F.round(z, scale)).otherwise(
            F.lit(None).cast("double")
        ),
    ).drop("__med", "__mad")
