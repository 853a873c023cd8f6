"""End-to-end Medallion pipeline over climate-format text inputs —
functional parity with the reference's three jobs (SURVEY §3).

* :func:`ingest_bronze` — job 01 (``jobs/01_ingest_to_bronze.py``):
  line-text scan + lineage stamping, one Parquet dataset per feed.
* :func:`bronze_to_silver` — job 02 (``jobs/02_bronze_to_silver.py``):
  comment filter → tokenise/fixed-width parse → required-column
  validation, with single-pass rejected-row accounting (the reference
  recomputes the DAG per count; SURVEY §2.2 P6).
* :func:`silver_to_gold` — job 03 (``jobs/03_silver_to_gold.py``):
  the 4-output star schema via the generalized operators: yearly KPIs,
  station dim, station×month z-scored fact, classified extremes.

A user of the reference pipeline can point these at the same Berkeley
daily/GHCND station files and get the same shaped outputs, with the
documented fixes: deterministic ordered limit before the cross join
(SURVEY §2.6 O1), cached fact reuse, and year-partitioned gold writes.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql import Column

from climate_anomaly_bigdata_pipeline_spark.operators import anomaly as A
from climate_anomaly_bigdata_pipeline_spark.operators import relational as R
from climate_anomaly_bigdata_pipeline_spark.operators.dedup import md5_hash32
from climate_anomaly_bigdata_pipeline_spark.sources import io as IO
from climate_anomaly_bigdata_pipeline_spark.sources import text_formats as TF


def demo_noise_expr(
    station_col: str = "station_id",
    year_col: str = "year",
    month_col: str = "month",
    seed: int = 0,
) -> Column:
    """The reference's deterministic noise/extreme injection ("Academic
    Demo Hack", ``jobs/03_silver_to_gold.py:96-105``) under a portable
    hash.

    The reference keys Murmur3 ``hash(station_id, year, month)``:
    ``% 100 / 50.0`` noise in roughly (−2, +2), with every ``% 25 == 0``
    key forced to +15.0 (extreme heat) and ``% 27 == 0`` to −15.0
    (extreme cold). Murmur3 is engine-specific, so this port derives the
    key from :func:`md5_hash32` (first 8 md5 hex digits — identical in
    any engine, SURVEY §2.7 portability note): the *distribution* is
    the same (uniform noise, ~4%/~3.7% forced extremes), the individual
    hit set differs — a documented deviation, like the engine's other
    md5-for-hash substitutions.
    """
    h = md5_hash32(
        F.concat_ws(":", F.col(station_col), F.col(year_col), F.col(month_col)),
        seed,
    )
    noise = ((h % 200) - 100) / F.lit(50.0)
    return (
        F.when(h % 25 == 0, F.lit(15.0))
        .when(h % 27 == 0, F.lit(-15.0))
        .otherwise(noise)
    )


def force_injected_z(z_col: Column, noise_col: Column) -> Column:
    """The reference's forced z for injected extremes
    (``jobs/03_silver_to_gold.py:123-128``): |noise| > 10 pins z to
    ±5.0 so injected outliers always clear any sane threshold."""
    return (
        F.when(noise_col > 10, F.lit(5.0))
        .when(noise_col < -10, F.lit(-5.0))
        .otherwise(z_col)
    )


@dataclass
class MedallionPaths:
    """Layer path convention (mirrors ``jobs/common.py:11-19``)."""

    root: str

    @property
    def bronze(self) -> str:
        return os.path.join(self.root, "bronze")

    @property
    def silver(self) -> str:
        return os.path.join(self.root, "silver")

    @property
    def gold(self) -> str:
        return os.path.join(self.root, "gold")


def ingest_bronze(
    spark: SparkSession, raw_path: str, source: str, out_path: str | None = None
) -> DataFrame:
    """Raw lines → bronze: ``value`` + lineage columns
    (``jobs/01_ingest_to_bronze.py:18-22``)."""
    bronze = IO.with_lineage(IO.read_text_lines(spark, raw_path), source)
    if out_path:
        IO.write_parquet(bronze, out_path)
    return bronze


def bronze_to_silver_berkeley(bronze: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Berkeley daily anomalies: comment filter → whitespace tokenize →
    ordinal casts → dropna(year, month, anomaly). Returns (silver,
    one-row rejected-count accounting)."""
    parsed = TF.parse_delimited(
        TF.filter_comments(bronze), TF.BERKELEY_DAILY_SPEC
    )
    required = ["year", "month", "anomaly"]
    return R.validate_required(parsed, required), R.rejected_counts(parsed, required)


def bronze_to_silver_stations(bronze: DataFrame) -> tuple[DataFrame, DataFrame]:
    """GHCND stations: fixed-width slices → dropna(station_id, lat, lon)."""
    parsed = TF.parse_fixed_width(bronze, TF.GHCND_STATIONS_SPEC)
    required = ["station_id", "latitude", "longitude"]
    return R.validate_required(parsed, required), R.rejected_counts(parsed, required)


def silver_to_gold(
    berkeley: DataFrame,
    stations: DataFrame,
    station_limit: int = 50,
    min_year: int = 2000,
    z_threshold: float = 2.5,
    inject_noise: bool = False,
) -> dict[str, DataFrame]:
    """The reference's Gold job re-expressed with engine operators.

    Returns the four outputs keyed like the reference's datasets
    (``jobs/03_silver_to_gold.py:46-156``). Deviations (documented in
    SURVEY §2): the cross-join side is ordered before ``limit`` for
    determinism, and the hash-seeded synthetic noise of the reference's
    "Academic Demo Hack" is off by default — the fact carries the
    *actual measured* anomaly series. ``inject_noise=True`` restores
    the reference behavior (per-key noise + forced extremes + pinned
    z, under the portable :func:`demo_noise_expr` hash).
    """
    # KPI summary (jobs/03:30-47): yearly stats + scalar station count.
    station_count = stations.count()
    kpis = (
        berkeley.groupBy("year")
        .agg(
            F.round(F.avg("anomaly"), 4).alias("avg_global_anomaly"),
            F.round(F.max("anomaly"), 4).alias("max_anomaly"),
            F.round(F.min("anomaly"), 4).alias("min_anomaly"),
            F.round(F.stddev("anomaly"), 4).alias("std_dev_anomaly"),
        )
        .withColumn("station_count", F.lit(station_count))
    )

    # Station dimension (jobs/03:51-65): rename-projection.
    dim = R.rename(
        stations.select(
            "station_id", "name", "state", "latitude", "longitude", "elevation"
        ),
        {"name": "location", "state": "country"},
    )

    # Fact (jobs/03:68-142): station×month grain. The reference cross-joins
    # a bounded station sample with the monthly series; kept, but ordered.
    monthly = (
        berkeley.filter(F.col("year") >= min_year)
        .groupBy("year", "month")
        .agg(
            F.round(F.avg("anomaly"), 4).alias("temperature_anomaly"),
            F.count(F.lit(1)).alias("record_count"),
        )
    )
    sample = dim.orderBy("station_id").limit(station_limit)
    grid = R.bounded_cross_join(sample, monthly)
    # Per-station baseline/measurement synthesis mirrors jobs/03:88-109:
    # baseline from latitude, measured = baseline + anomaly (pure,
    # deterministic expressions), optionally + the injected noise.
    grid = grid.withColumn(
        "baseline_temperature", F.round(F.expr("30 - 0.5 * abs(latitude)"), 2)
    )
    if inject_noise:
        grid = grid.withColumn("local_noise", demo_noise_expr()).withColumn(
            "temperature_anomaly",
            F.round(F.col("temperature_anomaly") + F.col("local_noise"), 2),
        )
    grid = grid.withColumn(
        "avg_temperature",
        F.round(F.col("baseline_temperature") + F.col("temperature_anomaly"), 2),
    )
    scored = A.zscore(grid, "temperature_anomaly", ["station_id"], scale=3)
    if inject_noise:
        scored = scored.withColumn(
            "z_score", force_injected_z(F.col("z_score"), F.col("local_noise"))
        )
    fact = scored.select(
        "year",
        "month",
        F.expr("make_date(year, month, 1)").alias("date"),
        "station_id",
        "location",
        "latitude",
        "longitude",
        "avg_temperature",
        "baseline_temperature",
        "temperature_anomaly",
        "z_score",
        "record_count",
    ).cache()

    # Extremes (jobs/03:144-156): SQL-string predicate + classification.
    extremes = (
        fact.filter("abs(z_score) >= {}".format(z_threshold))
        .withColumn(
            "event_type",
            F.when(F.col("z_score") > 0, "EXTREME_HEAT").otherwise("EXTREME_COLD"),
        )
        .select(
            "date", "station_id", "location", "temperature_anomaly", "z_score",
            "event_type",
        )
    )
    return {
        "climate_kpis": kpis,
        "stations_dim": dim,
        "climate_anomalies_monthly": fact,
        "climate_extremes": extremes,
    }


def write_gold(
    outputs: dict[str, DataFrame], paths: MedallionPaths, csv_export: bool = True
) -> None:
    """Gold writes: Parquet partitioned by year where the column exists
    (partition pruning at scale — the reference writes unpartitioned,
    SURVEY §4) + the reference's single-file CSV export (S6).

    Gold outputs are small, so each write is a few tiny jobs whose fixed
    cost leaves most cores idle; the outputs are written concurrently,
    one thread per output (parquet, then its CSV). ``InheritableThread``
    gives every job the caller's job group and local properties. The
    first failure is re-raised once every thread has finished; outputs
    written before it remain, as in a serial write."""
    errors: list[BaseException] = []

    def write(name: str, df: DataFrame) -> None:
        try:
            partition = ["year"] if "year" in df.columns else []
            IO.write_parquet(df, os.path.join(paths.gold, name), partition_by=partition)
            if csv_export:
                IO.write_single_csv(df, os.path.join(paths.gold, f"{name}_csv"))
        except BaseException as e:  # re-raised in the caller's thread
            errors.append(e)

    threads = [InheritableThread(write, args=item) for item in outputs.items()]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
