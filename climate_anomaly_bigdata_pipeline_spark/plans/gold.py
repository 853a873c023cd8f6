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
from climate_anomaly_bigdata_pipeline_spark.functions import (
    MOMENT,
    revenue_sql,
    sample_std_sql,
)
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
        rev = revenue_sql()
        li = self.c.lineitem.selectExpr(
            "l_suppkey", "l_shipdate", "l_quantity", "l_extendedprice", "l_discount"
        )
        return li.groupBy(
            "l_suppkey",
            F.expr("year(l_shipdate) AS ship_year"),
            F.expr("month(l_shipdate) AS ship_month"),
        ).agg(
            F.expr(f"CAST(sum({rev}) AS DOUBLE) AS revenue_raw"),
            # Round the DECIMAL, then cast: Spark rounds doubles via their
            # shortest string repr (HALF_UP), DuckDB rounds the binary —
            # they disagree on values like x.xx5. Decimal rounding is
            # identical in both.
            F.expr(f"CAST(round(sum({rev}), 2) AS DOUBLE) AS revenue"),
            F.expr("round(avg(l_quantity), 4) AS avg_qty"),
            F.expr("count(1) AS record_count"),
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
        supplier_count = self.c.supplier.agg(F.expr("count(1) AS supplier_count"))
        m = f"CAST(revenue_raw AS {MOMENT})"
        grouped = self.monthly().groupBy(F.expr("ship_year AS year")).agg(
            F.expr(f"CAST(sum({m}) AS DOUBLE) AS s1"),
            F.expr(f"CAST(sum({m} * {m}) AS DOUBLE) AS s2"),
            F.expr("CAST(count(revenue_raw) AS DOUBLE) AS n"),
            F.expr("round(max(revenue_raw), 4) AS max_revenue"),
            F.expr("round(min(revenue_raw), 4) AS min_revenue"),
        )
        # mean/std from exact decimal moments with a fixed op order —
        # bit-identical across engines (see anomaly.zscore_exact).
        std = sample_std_sql("s1", "s2", "n")
        return grouped.crossJoin(F.broadcast(supplier_count)).selectExpr(
            "year",
            "round(s1 / n, 4) AS avg_revenue",
            "max_revenue",
            "min_revenue",
            f"CASE WHEN n < 2 THEN NULL ELSE round({std}, 4) END AS std_revenue",
            "supplier_count",
        )

    def extremes(self) -> DataFrame:
        """Classified extreme months (``jobs/03_silver_to_gold.py:144-156``)."""
        return A.classify_extremes(
            self.fact(), threshold=self.z_threshold
        ).select(
            "fact_date", "l_suppkey", "location", "revenue", "z_score", "event_type"
        )
