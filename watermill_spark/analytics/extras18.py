"""Analytics batch 26: finance & lifecycle reporting — revenue bridge
(price/volume decomposition), revenue waterfall, new-vs-returning customer
mix, seasonal-naive forecast backtest, fulfillment-SLA aging, and a
partition-skew observability report (rows-only).

Every money aggregate is decimal-exact per :mod:`det`; the per-group FP
arithmetic (bridge effects, WAPE ratios) happens only AFTER reduction to a
bounded grid (|brands|, |months|, |priorities|), so no double is ever
summed across partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import RATE, bcount, dec
from .registry import load, register

_REV = "CAST(l_extendedprice AS DECIMAL(18,6)) * (1 - CAST(l_discount AS DECIMAL(8,6)))"


def _rev() -> F.Column:
    return dec("l_extendedprice") * (F.lit(1) - dec("l_discount", RATE))


@register(
    "q_revenue_bridge",
    oracle=f"""
    WITH by AS (
      SELECT p.p_brand, year(l.l_shipdate) AS y,
             SUM({_REV}) AS rev,
             SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS qty
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    yr AS (
      SELECT p_brand, y, rev, qty,
             MIN(y) OVER () AS y0, MAX(y) OVER () AS y1
      FROM by
    ),
    w AS (
      SELECT p_brand,
             SUM(CASE WHEN y = y0 THEN rev END) AS rev0,
             SUM(CASE WHEN y = y1 THEN rev END) AS rev1,
             SUM(CASE WHEN y = y0 THEN qty END) AS q0,
             SUM(CASE WHEN y = y1 THEN qty END) AS q1
      FROM yr GROUP BY 1
    )
    SELECT p_brand,
           round(CAST(rev0 AS DOUBLE), 4) AS rev_first_year,
           round(CAST(rev1 AS DOUBLE), 4) AS rev_last_year,
           round((CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
                 * (CAST(rev0 AS DOUBLE) / CAST(q0 AS DOUBLE)), 4)
             AS volume_effect,
           round(CAST(rev1 AS DOUBLE) - CAST(rev0 AS DOUBLE)
                 - (CAST(q1 AS DOUBLE) - CAST(q0 AS DOUBLE))
                   * (CAST(rev0 AS DOUBLE) / CAST(q0 AS DOUBLE)), 4)
             AS price_effect
    FROM w
    WHERE q0 IS NOT NULL AND q1 IS NOT NULL AND q0 > 0
    """,
)
def q_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge per brand between the dataset's first and last
    shipping year: ΔRevenue decomposed into a volume effect (quantity change
    at old unit price, Laspeyres) and a price effect (the exact residual, so
    volume + price ≡ ΔRevenue by construction — the waterfall always
    reconciles).

    Revenue and quantity roll up in exact DECIMAL per brand-year; the
    effects are a fixed 5-op double expression evaluated on the ~|brands|
    result grid, rounded 4dp — no doubles are ever summed.

    Scale: one fact shuffle for the brand-year rollup (part dim broadcasts);
    the year window and pivot run on the |brands|·|years| grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    by = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.year("l_shipdate").alias("y"))
        .agg(
            F.sum(_rev()).alias("rev"),
            F.sum(dec("l_quantity")).alias("qty"),
        )
    )
    wall = Window.partitionBy(F.lit(1))
    yr = by.select(
        "*", F.min("y").over(wall).alias("y0"), F.max("y").over(wall).alias("y1")
    )
    w = yr.groupBy("p_brand").agg(
        F.sum(F.when(F.col("y") == F.col("y0"), F.col("rev"))).alias("rev0"),
        F.sum(F.when(F.col("y") == F.col("y1"), F.col("rev"))).alias("rev1"),
        F.sum(F.when(F.col("y") == F.col("y0"), F.col("qty"))).alias("q0"),
        F.sum(F.when(F.col("y") == F.col("y1"), F.col("qty"))).alias("q1"),
    )
    q0d, q1d = F.col("q0").cast("double"), F.col("q1").cast("double")
    r0d, r1d = F.col("rev0").cast("double"), F.col("rev1").cast("double")
    vol = (q1d - q0d) * (r0d / q0d)
    return (
        w.filter(F.col("q0").isNotNull() & F.col("q1").isNotNull() & (F.col("q0") > 0))
        .select(
            "p_brand",
            F.round(r0d, 4).alias("rev_first_year"),
            F.round(r1d, 4).alias("rev_last_year"),
            F.round(vol, 4).alias("volume_effect"),
            F.round(r1d - r0d - vol, 4).alias("price_effect"),
        )
    )


@register(
    "q_revenue_waterfall",
    oracle=f"""
    SELECT o.o_orderpriority,
           round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE),
                 4) AS gross,
           round(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                          * CAST(l.l_discount AS DECIMAL(8,6))) AS DOUBLE), 4)
             AS discount_amt,
           round(CAST(SUM({_REV}) AS DOUBLE), 4) AS net,
           round(CAST(SUM({_REV} * CAST(l.l_tax AS DECIMAL(8,6))) AS DOUBLE), 4)
             AS tax_amt,
           round(CAST(SUM({_REV} * (1 + CAST(l.l_tax AS DECIMAL(8,6))))
                      AS DOUBLE), 4) AS charged
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
)
def q_revenue_waterfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue waterfall per order priority: gross list price → discount
    given → net revenue → tax collected → total charged. Every stage is an
    exact DECIMAL sum (the triple product price·(1−disc)·(1+tax) stays
    within 38 digits), so gross − discount ≡ net and net + tax ≡ charged
    hold to the cent — the reconciliation property finance reports demand
    (outputs rounded 4dp: the scale-12 decimal sums exceed double's 17
    significant digits, where DuckDB's two-step decimal→double conversion
    can differ from the JVM cast by one ulp).

    Scale: one co-partitioned fact-fact join (lineitem⋈orders on orderkey)
    feeding one map-side-combined aggregate; at 100 TB both tables bucket
    on orderkey and the join is shuffle-free (see layout operators).
    §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    tax = dec("l_tax", RATE)
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.sum(dec("l_extendedprice")).cast("double"), 4).alias("gross"),
            F.round(
                F.sum(dec("l_extendedprice") * dec("l_discount", RATE)).cast("double"),
                4,
            ).alias("discount_amt"),
            F.round(F.sum(_rev()).cast("double"), 4).alias("net"),
            F.round(F.sum(_rev() * tax).cast("double"), 4).alias("tax_amt"),
            F.round(F.sum(_rev() * (F.lit(1) + tax)).cast("double"), 4).alias("charged"),
        )
    )


@register(
    "q_new_vs_returning",
    oracle="""
    WITH seq AS (
      SELECT date_trunc('month', o_orderdate) AS m,
             CAST(o_totalprice AS DECIMAL(18,2)) AS v,
             date_diff('day',
               lag(o_orderdate) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ), o_orderdate) AS gap
      FROM orders
    )
    SELECT CAST(m AS TIMESTAMP) AS month,
           CASE WHEN gap IS NULL THEN 'new'
                WHEN gap > 90 THEN 'reactivated'
                ELSE 'returning' END AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(v) AS DOUBLE) AS revenue
    FROM seq GROUP BY 1, 2
    """,
)
def q_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly customer-mix report: every order classified as *new* (the
    customer's first), *returning* (previous order ≤90 days ago), or
    *reactivated* (gap >90 days) — the acquisition-vs-retention split on
    every growth dashboard. Classification is an integer day-gap from a
    lag() with a total-order tiebreak; revenue is decimal-exact.

    Scale: the lag() window shuffles on o_custkey once; the month×segment
    rollup re-shuffles the classified rows to a ≤(months×3) grid — two
    exchanges total, no joins (pinned: test_new_vs_returning_two_shuffles).
    §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    seq = orders.select(
        F.date_trunc("month", "o_orderdate").alias("m"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("v"),
        F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias("gap"),
    )
    seg = (
        F.when(F.col("gap").isNull(), "new")
        .when(F.col("gap") > 90, "reactivated")
        .otherwise("returning")
    )
    return (
        seq.groupBy(F.col("m").alias("month"), seg.alias("segment"))
        .agg(bcount("n_orders"), F.sum("v").cast("double").alias("revenue"))
    )


@register(
    "q_seasonal_naive_backtest",
    oracle=f"""
    WITH monthly AS (
      SELECT o.o_orderpriority AS pri, date_trunc('month', o.o_orderdate) AS m,
             SUM({_REV}) AS rev
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ),
    fc AS (
      SELECT pri, m, rev,
             lag(rev, 12) OVER (PARTITION BY pri ORDER BY m) AS forecast
      FROM monthly
    )
    SELECT pri AS o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_eval_months,
           round(CAST(SUM(abs(rev - forecast)) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS wape,
           round(CAST(SUM(CASE WHEN forecast > rev THEN forecast - rev
                               ELSE 0 END) AS DOUBLE)
                 / CAST(SUM(rev) AS DOUBLE), 6) AS over_forecast_share
    FROM fc WHERE forecast IS NOT NULL
    GROUP BY 1
    """,
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecast (predict this month = same
    month last year) on monthly revenue per order priority: WAPE (weighted
    absolute percentage error) and the share of error from over-forecasting
    — the baseline every fancier forecast must beat, and the standard
    accuracy report for it.

    Absolute errors are DECIMAL subtractions summed exactly; each WAPE is
    one double division on the per-priority totals, rounded 6dp.

    Scale: fact shuffle → monthly grid (months×priorities, SF-invariant);
    the 12-month lag and the error rollup both run on that grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    monthly = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("o_orderpriority").alias("pri"),
            F.date_trunc("month", "o_orderdate").alias("m"),
        )
        .agg(F.sum(_rev()).alias("rev"))
    )
    w = Window.partitionBy("pri").orderBy("m")
    fc = monthly.withColumn("forecast", F.lag("rev", 12).over(w))
    return (
        fc.filter(F.col("forecast").isNotNull())
        .groupBy(F.col("pri").alias("o_orderpriority"))
        .agg(
            bcount("n_eval_months"),
            F.round(
                F.sum(F.abs(F.col("rev") - F.col("forecast"))).cast("double")
                / F.sum("rev").cast("double"),
                6,
            ).alias("wape"),
            F.round(
                F.sum(
                    F.when(
                        F.col("forecast") > F.col("rev"),
                        F.col("forecast") - F.col("rev"),
                    ).otherwise(F.lit(0).cast("decimal(18,6)"))
                ).cast("double")
                / F.sum("rev").cast("double"),
                6,
            ).alias("over_forecast_share"),
        )
    )


@register(
    "q_fulfillment_aging",
    oracle="""
    WITH ful AS (
      SELECT o.o_orderpriority,
             CAST(date_diff('day', o.o_orderdate, MAX(l.l_shipdate))
                  AS BIGINT) AS days_to_ship
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN days_to_ship <= 30 THEN 1 ELSE 0 END)
                AS BIGINT) AS within_30d,
           CAST(SUM(CASE WHEN days_to_ship > 90 THEN 1 ELSE 0 END)
                AS BIGINT) AS over_90d,
           quantile_cont(CAST(days_to_ship AS DOUBLE), 0.5) AS p50_days,
           quantile_cont(CAST(days_to_ship AS DOUBLE), 0.9) AS p90_days
    FROM ful GROUP BY 1
    """,
)
def q_fulfillment_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment SLA report: days from order placement to the LAST line
    shipment (the order is only done when its slowest line ships), bucketed
    per priority class — on-time share (≤30d), long-tail share (>90d), and
    p50/p90 latency. The standard operations aging report.

    Day counts are exact BIGINTs; the percentiles interpolate two doubles
    identically in both engines.

    Scale: the orderkey join is co-partitioned with the per-order max —
    one fact shuffle reused by both; the priority rollup is a second small
    exchange. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    ful = (
        orders.join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderpriority", "o_orderdate")
        .agg(
            F.datediff(F.max("l_shipdate"), F.col("o_orderdate"))
            .cast("bigint")
            .alias("days_to_ship")
        )
    )
    d = F.col("days_to_ship")
    return ful.groupBy("o_orderpriority").agg(
        bcount("n_orders"),
        F.sum(F.when(d <= 30, 1).otherwise(0)).cast("bigint").alias("within_30d"),
        F.sum(F.when(d > 90, 1).otherwise(0)).cast("bigint").alias("over_90d"),
        F.percentile(d.cast("double"), 0.5).alias("p50_days"),
        F.percentile(d.cast("double"), 0.9).alias("p90_days"),
    )


@register("q_partition_skew_report", oracle=None)
def q_partition_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-observability report: row-count distribution across the
    partitions of lineitem hash-repartitioned on l_suppkey — max/avg skew
    ratio and the share of data in the largest partition, i.e. the
    diagnostic you run before choosing salting vs AQE skew-join for a key.

    Engine-specific by nature (``spark_partition_id`` has no DuckDB
    equivalent), so registered without an oracle — the driver records the
    rows-only check. Scale: one shuffle + one aggregate; the report is a
    single row regardless of SF.
    """
    li = load(spark, sf_dir, "lineitem")
    per = (
        li.repartition(32, "l_suppkey")
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .agg(bcount("rows"))
    )
    return per.agg(
        bcount("n_partitions"),
        F.sum("rows").cast("bigint").alias("total_rows"),
        F.max("rows").cast("bigint").alias("max_rows"),
        F.round(
            F.max("rows").cast("double")
            / (F.sum("rows").cast("double") / F.count(F.lit(1)).cast("double")),
            4,
        ).alias("skew_ratio"),
        F.round(
            F.max("rows").cast("double") / F.sum("rows").cast("double"), 6
        ).alias("max_partition_share"),
    )
