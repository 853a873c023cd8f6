"""The session-scoped table cache in ``catalog.py`` and the job-free
query build it enables.

A cached table is reused only while its file listing (names, sizes,
mtimes) is unchanged, never crosses sessions, and the cache stays
bounded however many tables come and go. Once the tables are cached,
building a registry query starts no Spark job: all work waits for the
action that forces the result.
"""

from __future__ import annotations

import os
import shutil
import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from climate_anomaly_bigdata_pipeline_spark import catalog as C
from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.queries import QUERIES

#: The registry queries of perfbench's ``bi_mix`` workload.
BI_MIX = (
    "zscore_anomaly",
    "groupby_kpis",
    "pivot_events_daily",
    "topk_orders",
    "join_revenue_by_nation_year",
    "sessionize_events",
    "gold_kpis_yearly",
)
BUILD_CHECKED = sorted(set(BI_MIX) | {q for q in QUERIES if q.startswith("gold_")})
#: Most py4j round trips one warm build of a ``bi_mix`` query may make.
MAX_BUILD_CALLS = 250


def _ids(df) -> list[int]:
    return sorted(r.id for r in df.collect())


def _write(path: str, ids: list[int]) -> None:
    """One uncompressed, dictionary-free file: the same row count gives
    the same file size whatever the values."""
    pq.write_table(
        pa.table({"id": pa.array(ids, pa.int64())}),
        path,
        compression="none",
        use_dictionary=False,
    )


def test_spark_overwrite_is_reread(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    spark.range(3).write.parquet(path)
    first = Catalog(spark, d).table("t")
    assert _ids(first) == [0, 1, 2]
    assert Catalog(spark, d).table("t")._jdf.equals(first._jdf)  # a cache hit
    spark.range(10, 12).write.mode("overwrite").parquet(path)
    assert _ids(Catalog(spark, d).table("t")) == [10, 11]


def test_same_size_rewrite_is_reread(spark, tmp_path):
    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    _write(path, [1, 2, 3])
    first = Catalog(spark, d).table("t")
    assert _ids(first) == [1, 2, 3]
    before = os.stat(path)
    spare = os.path.join(d, "spare.bin")
    _write(spare, [7, 8, 9])
    with open(spare, "rb") as f:
        data = f.read()
    assert len(data) == before.st_size
    with open(path, "r+b") as f:  # rewrite the bytes in place
        f.write(data)
    # Only the mtime tells the two listings apart; move it clear of the
    # file system's timestamp granularity.
    os.utime(path, ns=(before.st_atime_ns, before.st_mtime_ns + 2_000_000_000))
    again = Catalog(spark, d).table("t")
    assert not again._jdf.equals(first._jdf)  # read anew, not reused
    assert _ids(again) == [7, 8, 9]


def test_new_session_gets_its_own_dataframe(spark, tmp_path):
    d = str(tmp_path)
    spark.range(3).write.parquet(os.path.join(d, "t.parquet"))
    first = Catalog(spark, d).table("t")
    other = spark.newSession()
    second = Catalog(other, d).table("t")
    assert second.sparkSession is other
    assert second._jdf.sparkSession().equals(other._jsparkSession)
    assert not second._jdf.equals(first._jdf)
    assert Catalog(spark, d).table("t")._jdf.equals(first._jdf)
    assert _ids(second) == [0, 1, 2]


def test_cache_stays_bounded(spark, tmp_path):
    for i in range(C._MAX_TABLES + 5):
        d = str(tmp_path / f"sf{i}")
        os.makedirs(d)
        _write(os.path.join(d, "t.parquet"), [i])
        assert _ids(Catalog(spark, d).table("t")) == [i]
        shutil.rmtree(d)
    assert len(C._table_cache(spark).entries) <= C._MAX_TABLES


def test_missing_table_raises_and_leaves_no_entry(spark, tmp_path):
    from pyspark.errors import AnalysisException

    d = str(tmp_path)
    path = os.path.join(d, "t.parquet")
    _write(path, [1])
    assert _ids(Catalog(spark, d).table("t")) == [1]
    os.remove(path)
    with pytest.raises(AnalysisException):
        Catalog(spark, d).table("t")
    assert path not in C._table_cache(spark).entries


def test_query_build_starts_no_spark_job(spark, sf_dir, py4j_calls):
    """Build each query once to fill the cache, then build it again in a
    job group of its own: no job may land in any of those groups. The
    second build of a ``bi_mix`` query also stays within
    ``MAX_BUILD_CALLS`` py4j round trips (expressions as SQL text, see
    the ``functions`` module)."""
    sc = spark.sparkContext
    for q in BUILD_CHECKED:
        QUERIES[q](spark, sf_dir)
    round_trips = {}
    try:
        for q in BUILD_CHECKED:
            sc.setJobGroup(f"build-{q}", q)
            py4j_calls[0] = 0
            QUERIES[q](spark, sf_dir)
            round_trips[q] = py4j_calls[0]
        # The status tracker learns of jobs from the listener bus, in
        # order: once a later job shows up, any build job would have.
        sc.setJobGroup("build-control", "control")
        Catalog(spark, sf_dir).supplier.count()
        for _ in range(100):
            if sc.statusTracker().getJobIdsForGroup("build-control"):
                break
            time.sleep(0.05)
        assert sc.statusTracker().getJobIdsForGroup("build-control")
        tracker = sc.statusTracker()
        jobs = {q: tracker.getJobIdsForGroup(f"build-{q}") for q in BUILD_CHECKED}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert {q: j for q, j in jobs.items() if j} == {}
    assert {q: round_trips[q] for q in BI_MIX if round_trips[q] > MAX_BUILD_CALLS} == {}
