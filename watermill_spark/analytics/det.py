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


# SQL-side fragments (DuckDB) mirroring the helpers above.
def sql_dsum(expr: str, alias: str, typ: str = "DECIMAL(18,6)") -> str:
    return f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str, typ: str = "DECIMAL(18,6)") -> str:
    return (
        f"CAST(SUM(CAST({expr} AS {typ})) AS DOUBLE)"
        f" / CAST(COUNT({expr}) AS DOUBLE) AS {alias}"
    )
