"""Named-dataset catalog over directories of Parquet tables.

The reference hard-codes an HDFS path convention per Medallion layer
(``jobs/common.py:11-19``). This generalizes that into a tiny catalog:
a directory of ``<table>.parquet`` datasets loadable as DataFrames, so
every operator addresses tables by name rather than by path.

Scans stay ``spark.read.parquet`` so Catalyst gets column pruning and
predicate pushdown for free (reference behavior per SURVEY.md §4).

Table cache: every ``Catalog`` on one ``SparkSession`` shares a table
cache, held weakly by the session so it dies with it. It maps a table
path to a fingerprint and the normalised DataFrame. The fingerprint is
the sorted ``(file, size, mtime)`` listing of the path from its Hadoop
``FileSystem`` (local, HDFS and S3 paths alike). A lookup lists the
path again and reuses the DataFrame while the fingerprint matches; on
a mismatch (an overwrite, or a rewrite that only moved an mtime) it
reads the table anew and replaces the entry. A missing path drops its
entry, and at most ``_MAX_TABLES`` entries per session are kept, the
least recently used going first. A hit costs one listing instead of a
file scan plus a schema-inference Spark job, so building a query over
cached tables starts no Spark job.
"""

from __future__ import annotations

import os
import threading
import weakref
from collections import OrderedDict

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession

#: Tables the driver testdata provides (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Session confs the engine's semantics depend on. All are
#: runtime-settable, so they can be pinned even on a session the
#: engine didn't build (e.g. the verification driver's):
#: - nanosAsLong: events.ts is parquet TIMESTAMP(NANOS), unreadable by
#:   Spark 4 otherwise;
#: - ansi off: the reference's cast-to-null parse semantics (Spark 3.5
#:   default) — under ANSI a malformed token would throw, not null;
#: - UTC: date/time bucketing must match the UTC-naive oracle.
REQUIRED_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.ansi.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # Testdata timestamps are parquet TIMESTAMP(MICROS, isAdjustedToUTC=
    # false); Spark 4 infers TIMESTAMP_NTZ for those by default, which
    # breaks epoch extraction (unix_micros rejects NTZ). Read them as
    # plain TIMESTAMP — identical wall-clock under the UTC session zone,
    # matching the oracle's naive-timestamp semantics.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
}


def ensure_session_confs(spark: SparkSession) -> None:
    for k, v in REQUIRED_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            spark.conf.set(k, v)


#: Most tables one session's cache holds (least recently used evicted).
_MAX_TABLES = 64
_LOCK = threading.Lock()


class _TableCache:
    """One session's tables: path -> (fingerprint, JVM DataFrame).

    Entries keep the JVM handle, not the Python DataFrame: a DataFrame
    refers to its session, which would keep the weak key alive forever.
    """

    def __init__(self, spark: SparkSession):
        sc = spark.sparkContext
        self.hadoop_path = sc._jvm.org.apache.hadoop.fs.Path
        self.hadoop_conf = sc._jsc.hadoopConfiguration()
        self.entries: OrderedDict = OrderedDict()

    def fingerprint(self, path: str) -> tuple | None:
        """Sorted ``(file, size, mtime)`` of every file under ``path``,
        or None when the path does not exist. Walks with
        ``getFileStatus``/``listStatus``: ``listFiles`` builds located
        statuses, which on the local file system load each file's
        owner and permissions, ten times the cost of the listing."""
        hpath = self.hadoop_path(path)
        fs = hpath.getFileSystem(self.hadoop_conf)
        try:
            pending = [fs.getFileStatus(hpath)]
        except Py4JJavaError as exc:
            if exc.java_exception.getClass().getSimpleName() == "FileNotFoundException":
                return None
            raise
        files = []
        while pending:
            st = pending.pop()
            if st.isDirectory():
                pending.extend(fs.listStatus(st.getPath()))
            else:
                files.append(
                    (st.getPath().toString(), st.getLen(), st.getModificationTime())
                )
        return tuple(sorted(files))

    def get(self, path: str, fp: tuple | None):
        """The cached JVM DataFrame of ``path`` if read at ``fp``; a
        stale entry is dropped."""
        with _LOCK:
            hit = self.entries.get(path)
            if hit is not None and hit[0] == fp:
                self.entries.move_to_end(path)
                return hit[1]
            self.entries.pop(path, None)
        return None

    def put(self, path: str, fp: tuple | None, jdf) -> None:
        with _LOCK:
            self.entries[path] = (fp, jdf)
            while len(self.entries) > _MAX_TABLES:
                self.entries.popitem(last=False)


_CACHES: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _table_cache(spark: SparkSession) -> _TableCache:
    with _LOCK:
        cache = _CACHES.get(spark)
        if cache is None:
            cache = _CACHES[spark] = _TableCache(spark)
        return cache


class Catalog:
    """Lazy loader for the parquet tables under one scale-factor dir.

    Works on any SparkSession: required semantic confs are pinned here
    (the single choke point every query goes through), so the engine
    behaves identically under a driver-provided session.

    Tables come from the session's table cache (module docstring): a
    table whose files are unchanged since the last read, by any
    ``Catalog`` on the same session, is not read again; a changed one
    is.
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        ensure_session_confs(spark)
        self.spark = spark
        self.sf_dir = sf_dir

    def path(self, name: str) -> str:
        return os.path.join(self.sf_dir, f"{name}.parquet")

    def fingerprint(self, name: str) -> tuple | None:
        """The ``(file, size, mtime)`` listing of table ``name`` that
        keys the table cache, or None when it is missing: a key for
        anything derived from the table's current contents."""
        return _table_cache(self.spark).fingerprint(self.path(name))

    def table(self, name: str) -> DataFrame:
        path = self.path(name)
        cache = _table_cache(self.spark)
        fp = cache.fingerprint(path)
        jdf = cache.get(path, fp)
        if jdf is not None:
            return DataFrame(jdf, self.spark)
        # A missing path raises Spark's usual error here.
        df = self._normalize(name, self.spark.read.parquet(path))
        cache.put(path, fp, df._jdf)
        return df

    @staticmethod
    def _normalize(name: str, df: DataFrame) -> DataFrame:
        """Repair columns Spark cannot represent natively.

        ``events.ts`` is parquet TIMESTAMP(NANOS); with
        ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as a long.
        Truncate (not round) to microseconds — DuckDB's TIMESTAMP_NS →
        TIMESTAMP cast truncates too, keeping oracle parity. Integer
        ``div`` avoids double-precision loss on 1e18-scale epochs.
        """
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        # Belt-and-braces for sessions where inferTimestampNTZ could not
        # be pinned before the scan: NTZ -> TIMESTAMP is wall-clock
        # preserving under the UTC session zone pinned above.
        ntz = [
            f.name
            for f in df.schema.fields
            if isinstance(f.dataType, T.TimestampNTZType)
        ]
        for c in ntz:
            df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
        return df

    def __getattr__(self, name: str) -> DataFrame:
        if name in TABLES:
            return self.table(name)
        raise AttributeError(name)
