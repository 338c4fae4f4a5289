"""Analytics batch 155: Silver-Meal lot sizing, demand-intermittency
quadrants, and the order fill-rate trend.

Silver-Meal is the classic dynamic lot-sizing heuristic (order when the
average per-period cost of stretching the current lot starts rising) —
the planning step that consumes the forecasts q_croston_intermittent /
q_holt_winters_additive produce; the Syntetos-Boylan ADI × CV² quadrant
(smooth / intermittent / erratic / lumpy) decides WHICH forecast method
each part gets; the fill-rate trend is the service-level KPI both feed.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/window families.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register


@register(
    "q_silver_meal",
    oracle="""
    WITH RECURSIVE monthly AS (
      SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ym,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS dem
      FROM lineitem GROUP BY 1
    ),
    ord AS (
      SELECT dem, CAST(ROW_NUMBER() OVER (ORDER BY ym) AS BIGINT) AS rn
      FROM monthly
    ),
    sm AS (
      SELECT CAST(1 AS BIGINT) AS rn, CAST(1 AS BIGINT) AS lot_start,
             CAST(0.0 AS DOUBLE) AS cum_hold,
             CAST(500.0 AS DOUBLE) AS avg_prev,
             CAST(0 AS BIGINT) AS n_orders,
             CAST(0.0 AS DOUBLE) AS closed_cost
      UNION ALL
      SELECT o.rn,
             CASE WHEN (500.0 + s.cum_hold
                        + 0.1 * (o.rn - s.lot_start) * o.dem)
                       / (o.rn - s.lot_start + 1)
                       <= s.avg_prev
                  THEN s.lot_start ELSE o.rn END,
             CASE WHEN (500.0 + s.cum_hold
                        + 0.1 * (o.rn - s.lot_start) * o.dem)
                       / (o.rn - s.lot_start + 1)
                       <= s.avg_prev
                  THEN s.cum_hold + 0.1 * (o.rn - s.lot_start) * o.dem
                  ELSE 0.0 END,
             CASE WHEN (500.0 + s.cum_hold
                        + 0.1 * (o.rn - s.lot_start) * o.dem)
                       / (o.rn - s.lot_start + 1)
                       <= s.avg_prev
                  THEN (500.0 + s.cum_hold
                        + 0.1 * (o.rn - s.lot_start) * o.dem)
                       / (o.rn - s.lot_start + 1)
                  ELSE 500.0 END,
             CASE WHEN (500.0 + s.cum_hold
                        + 0.1 * (o.rn - s.lot_start) * o.dem)
                       / (o.rn - s.lot_start + 1)
                       <= s.avg_prev
                  THEN s.n_orders ELSE s.n_orders + 1 END,
             CASE WHEN (500.0 + s.cum_hold
                        + 0.1 * (o.rn - s.lot_start) * o.dem)
                       / (o.rn - s.lot_start + 1)
                       <= s.avg_prev
                  THEN s.closed_cost
                  ELSE s.closed_cost + 500.0 + s.cum_hold END
      FROM sm s JOIN ord o ON o.rn = s.rn + 1
    ),
    fin AS (
      SELECT * FROM sm WHERE rn = (SELECT MAX(rn) FROM ord)
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM ord) AS n_months,
           CAST(n_orders + 1 AS BIGINT) AS n_orders,
           round(closed_cost + 500.0 + cum_hold, 4) AS total_cost,
           round((closed_cost + 500.0 + cum_hold)
                 / (SELECT COUNT(*) FROM ord), 4) AS cost_per_month
    FROM fin
    """,
)
def q_silver_meal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silver-Meal dynamic lot sizing over the monthly demand series
    (K = 500 per order, h = 0.1 per unit-month): extend the current lot
    while the average per-period cost (K + holding)/periods keeps
    falling; order anew when it rises. Reports the order count and
    total policy cost — the planning heuristic that beats EOQ when
    demand is non-stationary.

    The inherently sequential walk follows the batch-136 recipe: facts
    collapse to the bounded month grid JVM-side, the O(#months) loop
    runs in ONE Arrow-batched applyInPandas, and DuckDB replays the
    identical IEEE ops in a recursive CTE carrying (lot_start,
    cum_hold, avg_prev, n_orders, closed_cost) state.

    Determinism: monthly demand is a decimal-exact sum; every decision
    compares the same fixed double expression on both engines.

    Scale: one distributed agg; the Python boundary sees O(#months)
    rows. §2.B aggregation/planning family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_trunc("month", "l_shipdate").cast("date").alias("ym")
    ).agg(F.sum(dec("l_quantity")).cast("double").alias("dem"))

    def sm(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("ym").reset_index(drop=True)
        dem = pdf["dem"].to_numpy()
        k, h = 500.0, 0.1
        lot_start, cum_hold, avg_prev = 1, 0.0, k
        n_orders, closed = 0, 0.0
        for r in range(2, len(dem) + 1):
            d = float(dem[r - 1])
            cand_hold = cum_hold + h * (r - lot_start) * d
            cand_avg = (k + cand_hold) / (r - lot_start + 1)
            if cand_avg <= avg_prev:
                cum_hold, avg_prev = cand_hold, cand_avg
            else:
                closed += k + cum_hold
                n_orders += 1
                lot_start, cum_hold, avg_prev = r, 0.0, k
        total = closed + k + cum_hold
        return pd.DataFrame(
            {
                "n_months": [len(dem)],
                "n_orders": [n_orders + 1],
                "total_cost": [total],
                "cost_per_month": [total / len(dem)],
            }
        )

    res = monthly.groupBy(F.lit(1).alias("_g")).applyInPandas(
        sm,
        "n_months long, n_orders long, total_cost double,"
        " cost_per_month double",
    )
    return res.select(
        F.col("n_months").cast("bigint").alias("n_months"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
        F.round("total_cost", 4).alias("total_cost"),
        F.round("cost_per_month", 4).alias("cost_per_month"),
    )


@register(
    "q_intermittency_profile",
    oracle="""
    WITH cal AS (
      SELECT CAST(COUNT(DISTINCT date_trunc('month', l_shipdate))
                  AS BIGINT) AS n_periods
      FROM lineitem
    ),
    pm AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS ym,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(q AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(q * q AS DECIMAL(38,10))) AS DOUBLE) AS ss
      FROM pm GROUP BY 1 HAVING COUNT(*) >= 2
    ),
    cls AS (
      SELECT p.l_partkey,
             CAST(c.n_periods AS DOUBLE) / p.k AS adi,
             ((p.ss - p.s * p.s / p.k) / (p.k - 1.0))
             / ((p.s / p.k) * (p.s / p.k)) AS cv2
      FROM per_part p, cal c
    ),
    quad AS (
      SELECT CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
                  WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
                  WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
                  ELSE 'lumpy' END AS quadrant,
             adi, cv2
      FROM cls
    )
    SELECT quadrant,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(CAST(adi AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_adi,
           round(CAST(SUM(CAST(cv2 AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_cv2
    FROM quad GROUP BY 1 ORDER BY 1
    """,
)
def q_intermittency_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Syntetos-Boylan demand classification: per part, ADI (calendar
    periods / demand periods) and CV² of nonzero monthly demand, cut at
    the standard (1.32, 0.49) thresholds into smooth / intermittent /
    erratic / lumpy — the quadrant that decides which forecast method a
    part gets (SES for smooth, Croston/SBA for intermittent, etc.);
    reports each quadrant's population and centroid.

    Determinism: ADI is integers divided in double; CV² is a fixed
    expression of decimal-exact per-part moments; quadrant means route
    through DECIMAL.

    Scale: fact → (part, month) → part rollups with map-side combine;
    the 1-row calendar count broadcast onto parts is a whitelisted
    1-row aggregate. §2.B aggregation family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    cal = li.agg(
        F.countDistinct(F.date_trunc("month", "l_shipdate"))
        .cast("bigint")
        .alias("n_periods")
    )
    pm = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("ym")
    ).agg(F.sum(dec("l_quantity")).cast("double").alias("q"))
    per_part = (
        pm.groupBy("l_partkey")
        .agg(
            bcount("k"),
            F.sum(F.col("q").cast(D15)).cast("double").alias("s"),
            F.sum((F.col("q") * F.col("q")).cast("decimal(38,10)"))
            .cast("double")
            .alias("ss"),
        )
        .filter(F.col("k") >= 2)
    )
    cls = per_part.crossJoin(F.broadcast(cal)).select(
        (F.col("n_periods").cast("double") / F.col("k")).alias("adi"),
        (
            ((F.col("ss") - F.col("s") * F.col("s") / F.col("k")) / (F.col("k") - 1.0))
            / ((F.col("s") / F.col("k")) * (F.col("s") / F.col("k")))
        ).alias("cv2"),
    )
    quad = cls.select(
        F.when((F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth")
        .when((F.col("adi") >= 1.32) & (F.col("cv2") < 0.49), "intermittent")
        .when((F.col("adi") < 1.32) & (F.col("cv2") >= 0.49), "erratic")
        .otherwise("lumpy")
        .alias("quadrant"),
        "adi",
        "cv2",
    )
    return (
        quad.groupBy("quadrant")
        .agg(
            bcount("n_parts"),
            F.round(
                F.sum(F.col("adi").cast(D15)).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("avg_adi"),
            F.round(
                F.sum(F.col("cv2").cast(D15)).cast("double") / F.count(F.lit(1)),
                4,
            ).alias("avg_cv2"),
        )
        .orderBy("quadrant")
    )


@register(
    "q_fill_rate_trend",
    oracle="""
    WITH lines AS (
      SELECT CAST(date_trunc('month', o.o_orderdate) AS DATE) AS ym,
             CASE WHEN CAST(l.l_shipdate AS DATE)
                       <= CAST(o.o_orderdate AS DATE) + INTERVAL 30 DAY
                  THEN 1 ELSE 0 END AS filled
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    monthly AS (
      SELECT ym,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(filled) AS BIGINT) AS n_filled
      FROM lines GROUP BY 1
    ),
    ma AS (
      SELECT ym, n_lines, n_filled,
             CAST(SUM(n_filled) OVER (ORDER BY ym
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS f3,
             CAST(SUM(n_lines) OVER (ORDER BY ym
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
               AS t3
      FROM monthly
    )
    SELECT ym AS order_month, n_lines,
           round(CAST(n_filled AS DOUBLE) / n_lines * 100.0, 4)
             AS fill_rate_pct,
           round(CAST(f3 AS DOUBLE) / t3 * 100.0, 4) AS fill_rate_ma3_pct
    FROM ma ORDER BY ym
    """,
)
def q_fill_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day fill-rate trend: per order month, the share of lineitems
    shipped within 30 days of the order date, plus a 3-month moving
    rate (pooled counts, not an average of rates — the volume-correct
    smoothing) — the service-level KPI the planning operators
    (q_safety_stock, q_silver_meal) exist to protect.

    Determinism: the fill flag is exact date arithmetic; rates and the
    moving rate are integer counts divided in double; window frames are
    row-bounded on the month grid.

    Scale: one fact equi-join on the order key + rollup to the month
    grid; the moving window runs on the bounded grid. §2.B window
    family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    lines = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.date_trunc("month", "o_orderdate").cast("date").alias("ym"),
        F.when(
            F.col("l_shipdate").cast("date")
            <= F.date_add(F.col("o_orderdate").cast("date"), 30),
            1,
        )
        .otherwise(0)
        .alias("filled"),
    )
    monthly = lines.groupBy("ym").agg(
        bcount("n_lines"), F.sum("filled").cast("bigint").alias("n_filled")
    )
    w3 = Window.orderBy("ym").rowsBetween(-2, 0)
    ma = monthly.select(
        "ym",
        "n_lines",
        "n_filled",
        F.sum("n_filled").over(w3).cast("bigint").alias("f3"),
        F.sum("n_lines").over(w3).cast("bigint").alias("t3"),
    )
    return ma.select(
        F.col("ym").alias("order_month"),
        "n_lines",
        F.round(
            F.col("n_filled").cast("double") / F.col("n_lines") * 100.0, 4
        ).alias("fill_rate_pct"),
        F.round(F.col("f3").cast("double") / F.col("t3") * 100.0, 4).alias(
            "fill_rate_ma3_pct"
        ),
    ).orderBy("order_month")
