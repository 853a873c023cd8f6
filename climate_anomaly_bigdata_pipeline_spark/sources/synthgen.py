"""Custom Python DataSource: deterministic event generator, batch and stream.

The Spark-4-native re-expression of the reference's synthetic-fallback
path (``reference/jobs/00_download_data.py`` writes a CSV with a Python
loop on the driver): instead of materializing a file, register a
*proper* Spark DataSource.

- **Batch** (``spark.read``) is the scale generator: its planning step
  splits the keyspace into ``num_partitions`` independent ranges and
  each executor generates its slice in parallel, so the same
  (n_rows, seed) always yields the same dataset with zero storage and
  no driver bottleneck. This is how you feed a 1000-executor scale
  test 100 TB of synthetic input: generation parallelism == cluster
  cores, no object store in the loop.
- **Stream** (``spark.readStream``) advances ``rows_per_batch`` rows per
  micro-batch, and each micro-batch is generated in the stream's
  planner process on the driver (the one that answers
  ``latestOffset``) and handed to the JVM as Arrow, so a trigger scans
  it with JVM tasks only, as ONE partition, and starts no Python
  worker. One Python process generates about 160k–230k rows/s (4-vCPU
  Xeon host), so a 1,000-row batch costs a few ms, against the ~0.4 s
  of fixed cost a Python-worker job pays per trigger on the same host.
  ``num_partitions`` does not apply to the stream.

Registered per-session via :func:`register`; then::

    spark.read.format("synthgen").option("n_rows", 1e6).load()

Determinism contract: row ``i`` is a pure function of (seed, i) via
md5 — no RNG state, no partition-order dependence; repartitioning the
generator never changes values (same recipe as the engine's
deterministic samplers, operators/dedup.py:md5_hash32), and a stream
over a keyspace yields exactly the batch read of it.
"""

from __future__ import annotations

import datetime
import hashlib
from collections.abc import Iterator, Sequence

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

_EVENT_TYPES = ("view", "click", "purchase", "refund")
_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double"
)
_BASE_TS = datetime.datetime(2024, 1, 1)


def _u64(*parts: object) -> int:
    """Deterministic 64-bit stream from md5 over the joined parts."""
    h = hashlib.md5(":".join(str(p) for p in parts).encode()).hexdigest()
    return int(h[:16], 16)


def _rows(seed: int, n_users: int, start: int, end: int) -> Iterator[tuple]:
    """Rows ``[start, end)`` of the (seed, n_users) keyspace."""
    for i in range(start, end):
        r = _u64(seed, i)
        yield (
            i,
            _BASE_TS + datetime.timedelta(seconds=(r >> 16) % (30 * 86400)),
            r % n_users,
            _EVENT_TYPES[(r >> 8) % len(_EVENT_TYPES)],
            round(((r >> 24) % 100000) / 100.0, 2),
        )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int, seed: int):
        self.start, self.end, self.seed = start, end, seed


class SynthEventsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n_rows = int(float(options.get("n_rows", 1000)))
        self.seed = int(options.get("seed", 42))
        self.num_partitions = int(options.get("num_partitions", 8))
        self.n_users = int(options.get("n_users", 100))

    def partitions(self) -> Sequence[InputPartition]:
        per = -(-self.n_rows // self.num_partitions)  # ceil
        return [
            _RangePartition(i * per, min((i + 1) * per, self.n_rows), self.seed)
            for i in range(self.num_partitions)
            if i * per < self.n_rows
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        return _rows(partition.seed, self.n_users, partition.start, partition.end)


class SynthEventsSimpleStreamReader(SimpleDataSourceStreamReader):
    """Offset-managed streaming twin of :class:`SynthEventsReader`.

    Offsets are row counts: each ``read`` covers rows [start.row,
    min(start.row + rows_per_batch, n_rows)) and returns its end as the
    next start, so a bounded stream stops advancing at ``n_rows``. On a
    restart Spark hands the checkpointed offset back, and a batch that
    was planned but not committed is replayed through
    ``readBetweenOffsets`` — the same pure (seed, i) rows. ``commit``
    stays the base class's no-op (nothing to clean up; Spark's own
    checkpoint holds progress)."""

    def __init__(self, options: dict):
        self._r = SynthEventsReader(options)
        self.rows_per_batch = int(float(options.get("rows_per_batch", 1000)))

    def initialOffset(self) -> dict:
        return {"row": 0}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        lo = start["row"]
        # Never behind start: a checkpoint restarted with a smaller n_rows
        # has nothing more to read.
        end = {"row": max(lo, min(lo + self.rows_per_batch, self._r.n_rows))}
        # A list iterator, not a generator: PySpark copies the prefetched
        # iterator when it plans the batch, and a generator cannot be copied.
        return iter(list(self.readBetweenOffsets(start, end))), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return _rows(self._r.seed, self._r.n_users, start["row"], end["row"])


class SynthEventsDataSource(DataSource):
    """``spark.read.format("synthgen")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "synthgen"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> SynthEventsReader:
        return SynthEventsReader(self.options)

    def simpleStreamReader(self, schema) -> SynthEventsSimpleStreamReader:
        return SynthEventsSimpleStreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Register the source on this session (idempotent)."""
    spark.dataSource.register(SynthEventsDataSource)
