"""Cross-engine determinism helpers (Spark ↔ DuckDB exact hash-match).

The driver hashes query results value-by-value, so floating-point aggregation
order must not matter. Rules used by every registered query:

1. **Sums of doubles go through DECIMAL.** ``SUM(double)`` is
   addition-order-dependent (Spark partial aggs vs DuckDB's hash agg), so we
   cast each input to an exact DECIMAL, sum exactly, and cast the final result
   back to DOUBLE. No double is exactly on a decimal rounding half-boundary
   (boundaries have a factor of 5 in the denominator, unrepresentable in
   binary), so the double→decimal cast is identical across engines regardless
   of tie-rounding mode.
2. **Averages are exact-sum / count, divided in DOUBLE** — decimal division
   rounding rules differ between engines, double division does not.
3. **Integer results are CAST to BIGINT on both sides** (DuckDB ``COUNT`` is
   BIGINT but ``SUM(int)`` is HUGEINT and ``length()`` is BIGINT while Spark's
   are INT/LONG — explicit casts align the schema comparison).
4. **Every ORDER BY ... LIMIT has a total-order tiebreak** (a unique key as
   the last sort column) so top-k sets are identical.
5. **Session timezone is UTC** (``registry.register`` applies
   ``session.tune_session`` before every query) so timestamp extraction
   and rendering match DuckDB's naive reading of parquet.

At 100-TB scale these choices also stay healthy: decimal sums are JVM
codegen'd fixed-width arithmetic (no UDFs), and partial aggregation (map-side
combine) still applies.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Exact money/quantity type: doubles in testdata are < 1e6 with modest scale.
DEC = "decimal(18,6)"
# Rates (discount/tax) are in [0,1].
RATE = "decimal(8,6)"
# Wider money type for pre-scaled multiplication chains.
MONEY = "decimal(14,4)"
# Exact accumulator for sums of already-aggregated doubles (moments, running
# sums over a day grid).
D15 = "decimal(38,15)"
# Exact accumulator for sums of products of two such doubles (the second
# moments of a fit).
C10 = "decimal(38,10)"
# Hex digits in value order: instr(HEX, digit) - 1 is the digit's value on
# both engines, which is how md5 prefixes become integer hash buckets.
HEX = "0123456789abcdef"


def dec(col: str | Column, typ: str = DEC) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(typ)


def dsum(col: str | Column, alias: str, typ: str = DEC) -> Column:
    """Exact sum of a double column, returned as DOUBLE."""
    return F.sum(dec(col, typ)).cast("double").alias(alias)


def davg(col: str | Column, alias: str, typ: str = DEC) -> Column:
    """Exact-sum average: CAST(SUM(dec)) AS DOUBLE / COUNT(col)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.sum(dec(c, typ)).cast("double") / F.count(c).cast("double")).alias(alias)


def telescoped_lambda(alias: str = "lam") -> Column:
    """Arrival rate λ over the time-sorted event stream WITHOUT a global
    lag window (which Spark executes in ONE task): the interarrival sum
    telescopes to max(ts)−min(ts) and the gap count is count(ts)−1, so λ
    is one map-side-combined moment aggregate (r6 pass 13a, guide §2.5).
    Shared by q_erlang_blocking / q_mg1_queue_wait (r6 review deferral).
    """
    return (
        (F.count("ts") - F.lit(1)).cast("double")
        / (
            F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts"))
        ).cast("double")
    ).alias(alias)


def bcount(alias: str, col: str | Column | None = None) -> Column:
    c = F.count(F.col(col) if isinstance(col, str) else col) if col is not None else F.count(F.lit(1))
    return c.cast("bigint").alias(alias)


def ols_moments(x: str = "x", y: str = "y", sq: str = C10) -> list[Column]:
    """Moments n, sx, sy, sxx, sxy of a least-squares fit of y on x, summed
    exactly: first moments through D15, products through ``sq``."""
    cx, cy = F.col(x), F.col(y)
    return [
        bcount("n"),
        F.sum(cx.cast(D15)).cast("double").alias("sx"),
        F.sum(cy.cast(D15)).cast("double").alias("sy"),
        F.sum((cx * cx).cast(sq)).cast("double").alias("sxx"),
        F.sum((cx * cy).cast(sq)).cast("double").alias("sxy"),
    ]


def ols_slope() -> Column:
    """Least-squares slope over the ``ols_moments`` columns."""
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return (n * F.col("sxy") - sx * sy) / (n * F.col("sxx") - sx * sx)


# SQL-side fragments (DuckDB) mirroring the helpers above.
def sql_dsum(expr: str, alias: str, typ: str = "DECIMAL(18,6)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str, typ: str = "DECIMAL(18,6)") -> str:
    return (
        f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )


def sql_ols_moments(x: str = "x", y: str = "y", sq: str = C10) -> str:
    """Select-list twin of ``ols_moments`` (x and y are column names)."""
    return (
        "CAST(COUNT(*) AS BIGINT) AS n,\n"
        f"             CAST(SUM(CAST({x} AS DECIMAL(38,15))) AS DOUBLE) AS sx,\n"
        f"             CAST(SUM(CAST({y} AS DECIMAL(38,15))) AS DOUBLE) AS sy,\n"
        f"             CAST(SUM(CAST({x} * {x} AS {sq})) AS DOUBLE) AS sxx,\n"
        f"             CAST(SUM(CAST({x} * {y} AS {sq})) AS DOUBLE) AS sxy"
    )


# Twin of ``ols_slope``, textually identical to the expression it replaces.
OLS_SLOPE_SQL = "(n * sxy - sx * sy) / (n * sxx - sx * sx)"


def hexval(col: Column) -> Column:
    """Value 0..15 of a one-character hex digit column."""
    return F.instr(F.lit(HEX), col) - 1


def sql_hexval(expr: str) -> str:
    return f"(instr('{HEX}', {expr}) - 1)"


def hexval8(col: Column) -> Column:
    """First 8 hex characters of an md5 string column as a BIGINT."""
    total = F.lit(0).cast("bigint")
    for i in range(8):
        digit = hexval(F.substring(col, i + 1, 1)).cast("bigint")
        total = total + digit * F.lit(16 ** (7 - i))
    return total


def sql_hexval8(expr: str) -> str:
    """DuckDB twin of ``hexval8``."""
    terms = " + ".join(
        f"CAST({sql_hexval(f'substr({expr}, {i + 1}, 1)')} AS BIGINT) * {16 ** (7 - i)}"
        for i in range(8)
    )
    return f"({terms})"
