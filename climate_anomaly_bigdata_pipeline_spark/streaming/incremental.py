"""Incremental gold-table maintenance via ``foreachBatch``.

The reference recomputes its gold outputs from scratch per run
(``reference/jobs/03_silver_to_gold.py`` rereads the full silver layer);
the streaming-native shape is CONTINUOUS maintenance: each micro-batch
folds only its delta into the running per-key aggregate. Count/sum/min/
max are commutative monoids, so the merge is the aggregate that builds
a partial, run over the stored state ∪ the batch's rows as one-event
states (one shuffle, no join) — the map-side-combine algebra Spark's own
partial aggregation uses, applied across time instead of across tasks.

Storage commit protocol: plain parquet has no transactional MERGE, so
state lands in versioned subdirectories (``v{batch_id}``) with a tiny
``_LATEST`` pointer file written last — readers resolve the pointer,
writers never overwrite a directory a reader may be scanning (the
poor-man's lakehouse commit); after each flip the sink vacuums old
versions, so the directory stays bounded. On a real deployment swap the
sink body for ``MERGE INTO`` on Delta/Iceberg/Hudi and keep the same
foreachBatch skeleton; the upsert algebra and the exactly-once batch_id
contract are unchanged (Spark replays a failed batch with the same
batch_id, and the pointer write makes the replay idempotent: re-writing
v{n} then re-pointing is a no-op).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _latest_path(root: str) -> str | None:
    ptr = os.path.join(root, "_LATEST")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        v = f.read().strip()
    return os.path.join(root, v) if v else None


def _state_schema(df: DataFrame, key_col: str) -> T.StructType:
    """The state a batch folds into: its key, the event count, and the
    ``value`` metrics typed as Spark's ``sum``/``min``/``max`` type them
    (worked out here, because asking Spark costs an analysis)."""
    value = df.schema["value"].dataType
    if isinstance(value, T.DecimalType):
        sum_type = T.DecimalType(min(value.precision + 10, 38), value.scale)
    else:
        sum_type = T.LongType() if isinstance(value, T.IntegralType) else T.DoubleType()
    return T.StructType([
        df.schema[key_col],
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", sum_type),
        T.StructField("min_value", value),
        T.StructField("max_value", value),
    ])


def fold_batch(
    state: DataFrame | None, batch_df: DataFrame, key_col: str = "user_id"
) -> DataFrame:
    """Fold a batch's rows into ``state`` (``None`` before the first
    batch): one ``groupBy`` over state ∪ the rows as one-event states,
    merging each metric with its own aggregate. ``sum()`` keeps an
    all-NULL key NULL."""
    sum_type = _state_schema(batch_df, key_col)["sum_value"].dataType.simpleString()
    rows = batch_df.selectExpr(
        key_col, "1L AS n_events", f"CAST(value AS {sum_type}) AS sum_value",
        "value AS min_value", "value AS max_value",
    )
    if state is not None:
        rows = state.unionByName(rows)
    return rows.groupBy(key_col).agg(
        F.expr("sum(n_events) AS n_events"),
        F.expr(f"CAST(sum(sum_value) AS {sum_type}) AS sum_value"),
        F.expr("min(min_value) AS min_value"),
        F.expr("max(max_value) AS max_value"),
    )


def batch_partial(df: DataFrame, key_col: str = "user_id") -> DataFrame:
    """Batch-local partial aggregate (the mergeable monoid state)."""
    return fold_batch(None, df, key_col)


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
        state = None
        if prev is not None:
            state = spark.read.schema(_state_schema(batch_df, key_col)).parquet(prev)
        vdir = f"v{batch_id}"
        merged = fold_batch(state, batch_df, key_col)
        merged.write.mode("overwrite").parquet(os.path.join(root, vdir))
        tmp = os.path.join(root, "_LATEST.tmp")
        with open(tmp, "w") as f:
            f.write(vdir)
        os.replace(tmp, os.path.join(root, "_LATEST"))  # atomic pointer flip
        vacuum_versions(root)

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
    analogue for the poor-man's commit protocol above; the upsert sink
    runs it after every pointer flip."""
    import re
    import shutil

    live = os.path.basename(_latest_path(root) or "")
    versions = sorted(
        (d for d in os.listdir(root) if re.fullmatch(r"v\d+", d)),
        key=lambda d: int(d[1:]),
    )
    doomed = [d for d in (versions[:-keep] if keep else versions) if d != live]
    for d in doomed:
        shutil.rmtree(os.path.join(root, d))
    return doomed
