"""Incremental gold-table maintenance via ``foreachBatch``.

The reference recomputes its gold outputs from scratch per run
(``reference/jobs/03_silver_to_gold.py`` rereads the full silver layer);
the streaming-native shape is CONTINUOUS maintenance: each micro-batch
folds only its delta into the running per-key aggregate. Count/sum/min/
max are commutative monoids, so merging a batch-local partial with the
stored state is exact — the same map-side-combine algebra Spark's own
partial aggregation uses, applied across time instead of across tasks.

Storage commit protocol: plain parquet has no transactional MERGE, so
state lands in versioned subdirectories (``v{batch_id}``) with a tiny
``_LATEST`` pointer file written last — readers resolve the pointer,
writers never overwrite a directory a reader may be scanning (the
poor-man's lakehouse commit). On a real deployment swap the sink body
for ``MERGE INTO`` on Delta/Iceberg/Hudi and keep the same foreachBatch
skeleton; the upsert algebra and the exactly-once batch_id contract are
unchanged (Spark replays a failed batch with the same batch_id, and the
pointer write makes the replay idempotent: re-writing v{n} then
re-pointing is a no-op).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

STATE_COLS = ("n_events", "sum_value", "min_value", "max_value")


def _latest_path(root: str) -> str | None:
    ptr = os.path.join(root, "_LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        v = f.read().strip()
    return os.path.join(root, v) if v else None


def batch_partial(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Batch-local partial aggregate (the mergeable monoid state)."""
    return df.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


def merge_state(state: DataFrame, delta: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Fold a delta partial into stored state: full-outer join on the
    key, monoid-merge each metric. Exact for count/sum/min/max."""
    s = state.select(
        key_col, *[F.col(c).alias(f"s_{c}") for c in STATE_COLS]
    )
    d = delta.select(
        key_col, *[F.col(c).alias(f"d_{c}") for c in STATE_COLS]
    )
    j = s.join(d, key_col, "full_outer")
    return j.select(
        key_col,
        (F.coalesce("s_n_events", F.lit(0)) + F.coalesce("d_n_events", F.lit(0))).alias(
            "n_events"
        ),
        # NULL only when both sides are NULL (a key with no non-NULL
        # value yet), like sum() over the union of their rows.
        F.coalesce(
            F.col("s_sum_value") + F.col("d_sum_value"), "s_sum_value", "d_sum_value"
        ).alias("sum_value"),
        F.least(
            F.coalesce("s_min_value", F.col("d_min_value")),
            F.coalesce("d_min_value", F.col("s_min_value")),
        ).alias("min_value"),
        F.greatest(
            F.coalesce("s_max_value", F.col("d_max_value")),
            F.coalesce("d_max_value", F.col("s_max_value")),
        ).alias("max_value"),
    )


def make_upsert_sink(
    spark: SparkSession, root: str, key_col: str = "user_id"
) -> Callable[[DataFrame, int], None]:
    """Build the foreachBatch callable maintaining per-key aggregates
    under ``root`` with the versioned-pointer commit protocol."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        prev = _latest_path(root)
        if prev is not None and int(os.path.basename(prev)[1:]) >= batch_id:
            # Replay of an already-committed batch (failure between the
            # pointer flip and Spark's own checkpoint commit): the
            # delta is already folded in — applying it again would
            # double-count. Skipping makes the replay idempotent.
            return
        delta = batch_partial(batch_df, key_col)
        if prev is not None:
            merged = merge_state(spark.read.parquet(prev), delta, key_col)
        else:
            merged = delta
        vdir = f"v{batch_id}"
        merged.write.mode("overwrite").parquet(os.path.join(root, vdir))
        tmp = os.path.join(root, "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(vdir)
        os.replace(tmp, os.path.join(root, "_LATEST"))  # atomic pointer flip

    return sink


def run_incremental_agg(
    events_stream: DataFrame,
    root: str,
    key_col: str = "user_id",
) -> None:
    """Drive a (bounded) events stream to completion, maintaining the
    per-key gold aggregate incrementally. On an unbounded stream drop
    ``processAllAvailable`` and let the query run with a trigger."""
    spark = events_stream.sparkSession
    q = (
        events_stream.writeStream.outputMode("update")
        .foreachBatch(make_upsert_sink(spark, root, key_col))
        .option("checkpointLocation", os.path.join(root, "_checkpoint"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def read_gold_state(spark: SparkSession, root: str) -> DataFrame:
    """Resolve the pointer and read the current gold aggregate."""
    path = _latest_path(root)
    if path is None:
        raise FileNotFoundError(f"no committed state under {root}")
    return spark.read.parquet(path)


def incremental_join_delta(
    a_state: DataFrame,
    b_state: DataFrame,
    a_delta: DataFrame,
    b_delta: DataFrame,
    on: str | list[str],
) -> DataFrame:
    """Incremental (delta) maintenance of an inner equi-join view over
    two append-only inputs: when A grows by ΔA and B by ΔB, the view
    grows by exactly

        Δ(A ⋈ B) = ΔA ⋈ B  ∪  A ⋈ ΔB  ∪  ΔA ⋈ ΔB

    (the three disjoint new-pair classes: new-left×old-right,
    old-left×new-right, new×new). Appending this delta to the stored
    view equals recomputing ``(A∪ΔA) ⋈ (B∪ΔB)`` from scratch — the
    classic incremental-view-maintenance identity, parity-tested in
    ``tests/test_round5c_ops.py``.

    Why it matters at 100 TB: a daily append touches ``|Δ|·σ`` join
    work instead of ``|A|·|B|`` — the full recompute the reference's
    batch jobs do. Each leg is a plain equi-join, so with both states
    bucketed on the join key every leg is exchange-free on the big
    side; the deltas are batch-sized and broadcast when small.
    """
    return (
        a_delta.join(b_state, on)
        .unionByName(a_state.join(b_delta, on))
        .unionByName(a_delta.join(b_delta, on))
    )


def vacuum_versions(root: str, keep: int = 3) -> list[str]:
    """Retention for the versioned-state layout: delete all ``v*``
    snapshot directories except the ``keep`` most recent ones and the
    one ``_LATEST`` points to (never the live version, whatever its
    age). Returns the removed directory names. The lakehouse VACUUM
    analogue for the poor-man's commit protocol above — without it the
    state dir grows one full snapshot per micro-batch."""
    import re
    import shutil

    live = None
    ptr = os.path.join(root, "_LATEST")
    if os.path.exists(ptr):
        with open(ptr) as f:
            live = f.read().strip()
    versions = sorted(
        (d for d in os.listdir(root) if re.fullmatch(r"v\d+", d)),
        key=lambda d: int(d[1:]),
    )
    doomed = [d for d in versions[:-keep] if d != live] if keep else [
        d for d in versions if d != live
    ]
    for d in doomed:
        shutil.rmtree(os.path.join(root, d))
    return doomed
