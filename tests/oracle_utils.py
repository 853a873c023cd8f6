"""Local replica of the driver's DuckDB-oracle differential check.

Runs a registered Spark query and its oracle SQL on the same parquet
tables, then compares row count, column names, and (order-insensitively)
values. Floats compare with a tight relative tolerance after sorting,
plus a strict equality count so drift is visible before it becomes a
driver-side hash mismatch. ``run_on`` does the same on small
hand-written tables.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from climate_anomaly_bigdata_pipeline_spark.catalog import TABLES


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, then rows by all columns (string-keyed)."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    key = df.apply(
        lambda col: col.map(lambda v: f"{v:.9g}" if isinstance(v, float) else str(v))
    ).agg("|".join, axis=1)
    return df.iloc[np.argsort(key.to_numpy(), kind="stable")].reset_index(drop=True)


def compare(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, rtol=1e-9, atol=1e-12):
    """Return (ok, message)."""
    if len(spark_pdf) != len(oracle_pdf):
        return False, f"row count {len(spark_pdf)} vs {len(oracle_pdf)}"
    s_cols, o_cols = sorted(spark_pdf.columns), sorted(oracle_pdf.columns)
    if s_cols != o_cols:
        return False, f"columns {s_cols} vs {o_cols}"
    if len(spark_pdf) == 0:  # _canon's row-key agg breaks on empty frames
        return True, "exact (both empty)"
    s, o = _canon(spark_pdf), _canon(oracle_pdf)
    for c in s.columns:
        sv, ov = s[c], o[c]
        # Driver-hash parity: an int column on one side materializing as
        # float on the other (DuckDB HUGEINT → float64 was round 1's
        # failure mode) hashes 0 vs 0.0 differently even when values are
        # equal. NaN-free float-vs-int is pure typing drift — fail it
        # here so it never reaches the driver.
        s_int = pd.api.types.is_integer_dtype(sv)
        o_int = pd.api.types.is_integer_dtype(ov)
        s_flt = pd.api.types.is_float_dtype(sv)
        o_flt = pd.api.types.is_float_dtype(ov)
        if (s_int and o_flt and not ov.isna().any()) or (
            o_int and s_flt and not sv.isna().any()
        ):
            return False, (
                f"col {c}: dtype drift {sv.dtype} vs {ov.dtype} "
                "(int-vs-float would fail the driver value hash)"
            )
        if pd.api.types.is_float_dtype(sv) or pd.api.types.is_float_dtype(ov):
            sa = pd.to_numeric(sv, errors="coerce").to_numpy(dtype=float)
            oa = pd.to_numeric(ov, errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(sa) & np.isnan(oa)
            close = np.isclose(sa, oa, rtol=rtol, atol=atol) | both_nan
            if not close.all():
                i = int(np.argmin(close))
                return False, f"col {c}: {sa[i]!r} vs {oa[i]!r} at sorted-row {i}"
            exact = ((sa == oa) | both_nan).mean()
            if exact < 1.0:
                # tolerant pass but not bit-exact — flag for visibility
                return True, f"col {c}: only {exact:.2%} bit-exact (tolerant pass)"
        else:
            eq = sv.astype(str).to_numpy() == ov.astype(str).to_numpy()
            if not eq.all():
                i = int(np.argmin(eq))
                return False, f"col {c}: {sv.iloc[i]!r} vs {ov.iloc[i]!r} at sorted-row {i}"
    return True, "exact"


def run_check(spark, name: str, sf_dir: str, rtol=1e-9):
    from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLE:
        return len(sdf) >= 0, f"rows-only: {len(sdf)} rows"
    con = duckdb_conn(sf_dir)
    odf = con.execute(ORACLE[name]).fetchdf()
    return compare(sdf, odf, rtol=rtol)


#: Column types of the tables the hand-written cases of ``run_on`` write.
_SCHEMAS = {
    "events": "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type VARCHAR, "
              "value DOUBLE, props VARCHAR",
    "customer": "c_custkey BIGINT, c_name VARCHAR, c_nationkey INTEGER, "
                "c_acctbal DOUBLE, c_mktsegment VARCHAR",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, "
                "l_linenumber INTEGER, l_quantity DOUBLE, l_extendedprice DOUBLE, "
                "l_discount DOUBLE, l_tax DOUBLE, l_returnflag VARCHAR, "
                "l_linestatus VARCHAR, l_shipdate TIMESTAMP",
    "supplier": "s_suppkey BIGINT, s_name VARCHAR, s_nationkey INTEGER, s_acctbal DOUBLE",
}


def run_on(spark, tmp_path, name: str, **tables: list[tuple]):
    """Write each ``table=rows`` as ``<table>.parquet`` under tmp_path,
    run query ``name`` on Spark and its oracle on DuckDB over those
    files, assert the two agree and return Spark's rows."""
    from climate_anomaly_bigdata_pipeline_spark.queries import ORACLE, QUERIES

    con = duckdb.connect()
    for table, rows in tables.items():
        con.execute(f"CREATE TABLE {table} ({_SCHEMAS[table]})")
        if rows:
            marks = ", ".join("?" * len(rows[0]))
            con.executemany(f"INSERT INTO {table} VALUES ({marks})", rows)
        con.execute(f"COPY {table} TO '{tmp_path / table}.parquet' (FORMAT PARQUET)")
    got = QUERIES[name](spark, str(tmp_path)).toPandas()
    ok, msg = compare(got, duckdb_conn(str(tmp_path)).execute(ORACLE[name]).fetchdf())
    assert ok, msg
    return got
