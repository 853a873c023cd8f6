"""Gold-layer star schema: the reference's 4-output analytical job,
generalized (``jobs/03_silver_to_gold.py``, SURVEY §1.1/§3 entry 3).

The reference builds, from silver climate data: a yearly KPI summary, a
station dimension, a station×month z-scored fact table, and a derived
extremes event table. :class:`GoldPipeline` re-expresses that star
schema over the driver corpus — suppliers play stations, monthly
lineitem revenue plays the anomaly series:

* ``dim``      — supplier⋈nation rename-projection (P7), broadcast join.
* ``fact``     — supplier×month grain, ``make_date`` calendar column,
                 per-supplier z-scored revenue (W1+W2).
* ``kpis``     — yearly multi-agg + scalar supplier count (A1+A2),
                 cross-joined from a one-row aggregate.
* ``extremes`` — |z| ≥ threshold classified events (P9 + when/otherwise).

Fixes over the reference (SURVEY §4): the fact plan is computed once
and cached at the fact→extremes reuse point instead of re-deriving the
whole lineage per output, and gold writes partition by year for
partition pruning at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from climate_anomaly_bigdata_pipeline_spark.catalog import Catalog
from climate_anomaly_bigdata_pipeline_spark.operators import anomaly as A
from climate_anomaly_bigdata_pipeline_spark.operators import relational as R


class GoldPipeline:
    """Build the four gold outputs over a Catalog; ``fact`` is cached
    because ``extremes`` (and callers writing both) reuse it."""

    def __init__(self, catalog: Catalog, z_threshold: float = 2.0):
        self.c = catalog
        self.z_threshold = z_threshold
        self._fact: DataFrame | None = None

    def dim(self) -> DataFrame:
        """Supplier dimension with reference-style renames
        (name→location, nation→country; ``jobs/03_silver_to_gold.py:55-62``)."""
        sup = self.c.supplier.select("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
        nat = self.c.nation.select("n_nationkey", "n_name")
        joined = R.equi_join(
            sup, nat, on=sup.s_nationkey == nat.n_nationkey, broadcast_right=True
        )
        return R.rename(
            joined.select("s_suppkey", "s_name", "n_name", "s_acctbal"),
            {"s_name": "location", "n_name": "country", "s_acctbal": "acctbal"},
        )

    def monthly(self) -> DataFrame:
        """Supplier×month measurement grain (the parse/clean analog).

        Revenue is summed in exact DECIMAL then emitted as double:
        order-independent, so downstream rounding never flips on
        accumulation order (see ``functions.dec``).
        """
        from climate_anomaly_bigdata_pipeline_spark.functions import revenue_expr

        li = self.c.lineitem.select(
            "l_suppkey", "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
        )
        return li.groupBy(
            "l_suppkey",
            F.year("l_shipdate").alias("ship_year"),
            F.month("l_shipdate").alias("ship_month"),
        ).agg(
            F.sum(revenue_expr()).cast("double").alias("revenue_raw"),
            # Round the DECIMAL, then cast: Spark rounds doubles via their
            # shortest string repr (HALF_UP), DuckDB rounds the binary —
            # they disagree on values like x.xx5. Decimal rounding is
            # identical in both.
            F.round(F.sum(revenue_expr()), 2).cast("double").alias("revenue"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count(F.lit(1)).alias("record_count"),
        )

    def fact(self) -> DataFrame:
        """Z-scored supplier×month fact table with a ``make_date``
        calendar column (``jobs/03_silver_to_gold.py:68-142``). Cached —
        extremes and fact exports share the plan."""
        if self._fact is None:
            scored = A.zscore_exact(self.monthly(), "revenue_raw", ["l_suppkey"])
            dim = F.broadcast(self.dim())
            fact = scored.join(dim, scored.l_suppkey == dim.s_suppkey, "inner")
            self._fact = fact.select(
                "l_suppkey",
                "location",
                "country",
                "ship_year",
                "ship_month",
                F.expr("make_date(ship_year, ship_month, 1)").alias("fact_date"),
                "revenue",
                "avg_qty",
                "record_count",
                "z_score",
            ).cache()
        return self._fact

    def kpis(self) -> DataFrame:
        """Yearly KPI summary (``jobs/03_silver_to_gold.py:30-47``):
        avg/max/min/sample-stddev of monthly revenue + the scalar
        supplier count attached by a cross join with a one-row
        aggregate (A2 pattern), so building the plan runs no job."""
        from climate_anomaly_bigdata_pipeline_spark.functions import dec_m

        supplier_count = self.c.supplier.agg(F.count(F.lit(1)).alias("supplier_count"))
        x = F.col("revenue_raw")
        grouped = self.monthly().groupBy(F.col("ship_year").alias("year")).agg(
            F.sum(dec_m(x)).cast("double").alias("s1"),
            F.sum(dec_m(x) * dec_m(x)).cast("double").alias("s2"),
            F.count(x).cast("double").alias("n"),
            F.round(F.max(x), 4).alias("max_revenue"),
            F.round(F.min(x), 4).alias("min_revenue"),
        )
        # mean/std from exact decimal moments with a fixed op order —
        # bit-identical across engines (see anomaly.zscore_exact).
        s1, s2, n = F.col("s1"), F.col("s2"), F.col("n")
        std = F.sqrt(F.greatest((s2 - (s1 * s1) / n) / (n - 1), F.lit(0.0)))
        return grouped.crossJoin(F.broadcast(supplier_count)).select(
            "year",
            F.round(s1 / n, 4).alias("avg_revenue"),
            "max_revenue",
            "min_revenue",
            F.when(n < 2, None).otherwise(F.round(std, 4)).alias("std_revenue"),
            "supplier_count",
        )

    def extremes(self) -> DataFrame:
        """Classified extreme months (``jobs/03_silver_to_gold.py:144-156``)."""
        return A.classify_extremes(
            self.fact(), threshold=self.z_threshold
        ).select(
            "fact_date", "l_suppkey", "location", "revenue", "z_score", "event_type"
        )
