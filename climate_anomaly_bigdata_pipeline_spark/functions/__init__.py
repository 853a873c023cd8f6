"""Scalar/aggregate expression helpers (SURVEY §2.7 + oracle-parity tools).

The key cross-engine correctness tool here is exact decimal money
arithmetic: a ``sum`` of doubles is accumulation-order-dependent, so
Spark (partial aggregation over shuffled partitions) and a single-node
oracle can disagree in the last bits — and ``round(x, 2)`` turns a
1e-11 disagreement into a visible 0.01 mismatch whenever the true sum
sits near a rounding boundary. Casting factors to DECIMAL first makes
the sum exact, order-independent, and bit-identical across engines
(double→decimal conversion can never tie, since no binary double sits
exactly between two scale-6 decimals).

Build cost: write expression trees as parsed SQL text (``F.expr``,
``selectExpr``), not as nested ``pyspark.sql.functions`` calls. Every
call into ``pyspark.sql.functions`` or a ``Column`` operator is one or
more py4j round trips to the driver JVM, and PySpark's call-site
capture (``pyspark.errors.utils._with_origin``) adds about five more
to each; an ``F.expr`` string costs one parse, however many nodes it
holds. The analysed plan is the same, so only the build gets cheaper.
Caller-supplied column names go into SQL text through :func:`ident`
and values through :func:`sql_lit`, never pasted in raw.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Decimal type used for money factors: wide enough for 100 TB-scale
#: sums after aggregation (sum type widens to decimal(38, s)).
MONEY = "decimal(18,6)"

#: Narrower decimal for *squared* moment sums: the product of two
#: decimals must fit both engines' 38-digit cap (DuckDB rejects
#: DECIMAL(18)×DECIMAL(18)), so values are bounded to 11 integer digits
#: here — ample for per-group measures, not for raw 100 TB totals.
MOMENT = "decimal(15,4)"


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier, safe for any
    column name (spaces, reserved words, backticks)."""
    return "`" + name.replace("`", "``") + "`"


def sql_lit(value: str | float) -> str:
    """A Python string or number as a SQL literal: strings quoted and
    escaped, numbers as ``DOUBLE`` (a bare ``2.5`` parses as a decimal)."""
    if isinstance(value, str):
        return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return f"{float(value)!r}D"


def sample_std_sql(s1: str, s2: str, n: str) -> str:
    """Sample stddev from the moment sums Σx, Σx² and the count n, with
    a fixed operation order (identical across engines) and a negative
    variance from cancellation clamped to 0."""
    return f"sqrt(greatest(({s2} - ({s1} * {s1}) / {n}) / ({n} - 1), 0.0D))"


def dec(col: str | Column) -> Column:
    """Cast a double factor to exact decimal for order-independent sums."""
    if isinstance(col, str):
        return F.expr(f"CAST({ident(col)} AS {MONEY})")
    return col.cast(MONEY)


def dec_sum(col: str | Column, scale: int = 2, name: str | None = None) -> Column:
    """Exact decimal sum of a double column, rounded and emitted as double."""
    out = F.round(F.sum(dec(col)), scale).cast("double")
    return out.alias(name) if name else out


def revenue_sql(price: str = "l_extendedprice", discount: str = "l_discount") -> str:
    """SQL text of :func:`revenue_expr`, for embedding in larger
    expressions."""
    return (
        f"CAST({ident(price)} AS {MONEY})"
        f" * (CAST(1 AS {MONEY}) - CAST({ident(discount)} AS {MONEY}))"
    )


def revenue_expr(price: str = "l_extendedprice", discount: str = "l_discount") -> Column:
    """The discounted-revenue product in exact decimal:
    ``dec(price) * (1 - dec(discount))``."""
    return F.expr(revenue_sql(price, discount))


def dec_avg(col: str | Column, scale: int = 4, name: str | None = None) -> Column:
    """Order-independent average: exact decimal sum cast to double,
    divided by the count in double (both engines perform the identical
    two floating-point ops), then rounded."""
    c = F.col(col) if isinstance(col, str) else col
    out = F.round(
        F.sum(dec(c)).cast("double") / F.count(c).cast("double"), scale
    )
    return out.alias(name) if name else out
