"""Analytics batch 121: safety-stock / reorder points, PERT three-point
estimates, and the Theta-method forecast.

Safety stock is the inventory-planning staple: demand variability over
the replenishment lead time × a service-level z — computed here with
the same cross-engine Φ⁻¹ (Acklam) that drives q_shapiro_francia, so
the z for any service level is itself oracle-checkable. PERT turns
(min, mode, max) duration estimates into the Beta-smoothed mean/σ
project planners quote. The Theta method (Assimakopoulos & Nikolopoulos)
— SES plus half the linear drift — famously won M3 and remains the
hardest-to-beat simple forecaster; it completes the forecast family
(naive/seasonal-naive backtests, Holt linear, Croston intermittent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .extras107 import phi_inv_col, phi_inv_sql
from .registry import load, register

_LEAD_DAYS = 7
_SERVICE = 0.95
_THETA_H = 7  # forecast horizon (days)


@register(
    "q_safety_stock",
    oracle=f"""
    WITH span AS (
      SELECT CAST(date_diff('day', MIN(l_shipdate), MAX(l_shipdate)) + 1
                  AS BIGINT) AS n_days
      FROM lineitem
    ),
    bd AS (
      SELECT p.p_brand AS brand, l.l_shipdate AS d,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    mom AS (
      SELECT brand,
             CAST(SUM(CAST(q AS DECIMAL(38,15))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(q * q AS DECIMAL(38,15))) AS DOUBLE) AS sqq,
             (SELECT n_days FROM span) AS nd
      FROM bd GROUP BY 1
    ),
    stats AS (
      SELECT brand, nd,
             sq / nd AS mu,
             sqrt(sqq / nd - (sq / nd) * (sq / nd)) AS sigma
      FROM mom
    )
    SELECT brand,
           nd AS n_days,
           round(mu, 6) AS daily_demand_mean,
           round(sigma, 6) AS daily_demand_sigma,
           round(({phi_inv_sql(repr(_SERVICE))})
                 * sigma * sqrt({_LEAD_DAYS}.0), 6) AS safety_stock,
           round(mu * {_LEAD_DAYS}
                 + ({phi_inv_sql(repr(_SERVICE))})
                   * sigma * sqrt({_LEAD_DAYS}.0), 6) AS reorder_point
    FROM stats
    ORDER BY brand
    """,
)
def q_safety_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safety stock and reorder point per brand at a 95% cycle-service
    level over a 7-day lead time: daily demand mean/σ computed over the
    FULL calendar span (no-demand days count as zero — the moments use
    E[x²]−μ² with the zero days in the denominator, so sparse brands get
    honest σ), then SS = z₀.₉₅·σ·√L and ROP = μ·L + SS, with z from the
    cross-engine Acklam Φ⁻¹. The planning complement to q_eoq_policy
    (how much to order) and q_newsvendor_quantile (single-period):
    this is WHEN to order.

    Determinism: daily sums and their squares ride exact decimals; the
    span is an integer date diff; Φ⁻¹ is branch-identical in both
    engines (extras107).

    Scale: one (brand, day) rollup with map-side combine, then a
    per-brand moment aggregation — the 1-row span broadcast is the only
    non-equi piece. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    span = li.agg(
        (F.datediff(F.max("l_shipdate"), F.min("l_shipdate")) + 1)
        .cast("bigint")
        .alias("nd")
    )
    bd = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(F.col("p_brand").alias("brand"), F.col("l_shipdate").alias("d"))
        .agg(F.sum(dec("l_quantity")).cast("double").alias("q"))
    )
    mom = (
        bd.groupBy("brand")
        .agg(
            F.sum(F.col("q").cast(D15)).cast("double").alias("sq"),
            F.sum((F.col("q") * F.col("q")).cast(D15)).cast("double").alias("sqq"),
        )
        .crossJoin(F.broadcast(span))
    )
    mu = F.col("sq") / F.col("nd")
    sigma = F.sqrt(F.col("sqq") / F.col("nd") - mu * mu)
    z = phi_inv_col(F.lit(_SERVICE))
    ss = z * sigma * F.sqrt(F.lit(float(_LEAD_DAYS)))
    return mom.select(
        "brand",
        F.col("nd").alias("n_days"),
        F.round(mu, 6).alias("daily_demand_mean"),
        F.round(sigma, 6).alias("daily_demand_sigma"),
        F.round(ss, 6).alias("safety_stock"),
        F.round(mu * _LEAD_DAYS + ss, 6).alias("reorder_point"),
    ).orderBy("brand")


@register(
    "q_pert_estimate",
    oracle="""
    WITH delays AS (
      SELECT o.o_orderpriority AS mode,
             CAST(date_diff('day', o.o_orderdate, MAX(l.l_shipdate))
                  AS BIGINT) AS delay
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY l.l_orderkey, o.o_orderpriority, o.o_orderdate
    ),
    freq AS (
      SELECT mode, delay, CAST(COUNT(*) AS BIGINT) AS c
      FROM delays GROUP BY 1, 2
    ),
    modal AS (
      SELECT mode, delay AS m
      FROM (SELECT mode, delay,
                   row_number() OVER (PARTITION BY mode
                                      ORDER BY c DESC, delay) AS rn
            FROM freq)
      WHERE rn = 1
    ),
    ext AS (
      SELECT mode, CAST(MIN(delay) AS BIGINT) AS o,
             CAST(MAX(delay) AS BIGINT) AS p,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM delays GROUP BY 1
    )
    SELECT e.mode AS order_priority, e.n,
           e.o AS optimistic, m.m AS most_likely, e.p AS pessimistic,
           round((e.o + 4.0 * m.m + e.p) / 6.0, 6) AS pert_mean,
           round((e.p - e.o) / 6.0, 6) AS pert_sigma
    FROM ext e JOIN modal m ON m.mode = e.mode
    ORDER BY order_priority
    """,
)
def q_pert_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERT (Beta) three-point estimate of order fulfillment time (order
    date → last line shipped) per order priority: optimistic = min,
    most likely = modal duration (count argmax with a tiebreak),
    pessimistic = max; PERT mean = (O + 4M + P)/6 and
    σ = (P − O)/6 — the project-planning summary that weights the mode
    4× over the extremes. Complements q_shipping_delay_percentiles
    (empirical quantiles) with the parametric planning form.

    Determinism: delays are integer date diffs; the mode uses a
    total-order (count desc, delay) window.

    Scale: one conditional rollup to (mode, delay) — bounded support —
    then constant-size grids. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    delays = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_orderkey", "o_orderpriority", "o_orderdate")
        .agg(F.max("l_shipdate").alias("last_ship"))
        .select(
            F.col("o_orderpriority").alias("mode"),
            F.datediff("last_ship", "o_orderdate").cast("bigint").alias("delay"),
        )
    )
    # single pass (r6): the modal pick and the extremes both derive from
    # the (mode, delay) frequency grid (checkpointed once, ≤|priorities|
    # ×|delays| rows): min/max over the grid equal min/max over raw
    # delays, and the group count is the exact sum of the frequencies —
    # was 2 lineitem+orders join passes in the plan
    freq = delays.groupBy("mode", "delay").agg(bcount("c")).localCheckpoint(
        eager=True
    )
    modal = (
        freq.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("mode").orderBy(F.desc("c"), F.asc("delay"))
            ),
        )
        .filter(F.col("rn") == 1)
        .select("mode", F.col("delay").alias("m"))
    )
    ext = freq.groupBy("mode").agg(
        F.min("delay").cast("bigint").alias("o"),
        F.max("delay").cast("bigint").alias("p"),
        F.sum("c").cast("bigint").alias("n"),
    )
    return (
        ext.join(F.broadcast(modal), "mode")
        .select(
            F.col("mode").alias("order_priority"),
            "n",
            F.col("o").alias("optimistic"),
            F.col("m").alias("most_likely"),
            F.col("p").alias("pessimistic"),
            F.round((F.col("o") + 4.0 * F.col("m") + F.col("p")) / 6.0, 6).alias(
                "pert_mean"
            ),
            F.round((F.col("p") - F.col("o")) / 6.0, 6).alias("pert_sigma"),
        )
        .orderBy("order_priority")
    )


@register(
    "q_theta_forecast",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             row_number() OVER (ORDER BY CAST(ts AS DATE)) AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    trend AS (
      SELECT (COUNT(*) * CAST(SUM(CAST(rn * rev AS DECIMAL(38,15))) AS DOUBLE)
              - CAST(SUM(CAST(rn AS DECIMAL(38,15))) AS DOUBLE)
                * CAST(SUM(CAST(rev AS DECIMAL(38,15))) AS DOUBLE))
             / (COUNT(*) * CAST(SUM(CAST(CAST(rn AS DOUBLE) * rn
                                         AS DECIMAL(38,15))) AS DOUBLE)
                - CAST(SUM(CAST(rn AS DECIMAL(38,15))) AS DOUBLE)
                  * CAST(SUM(CAST(rn AS DECIMAL(38,15))) AS DOUBLE)) AS slope,
             CAST(MAX(rn) AS BIGINT) AS n_days
      FROM daily
    ),
    ses AS (
      SELECT (rev + 0.5 * l1 + 0.25 * l2 + 0.125 * l3 + 0.0625 * l4
              + 0.03125 * l5 + 0.015625 * l6 + 0.0078125 * l7) / 1.9921875
               AS level
      FROM (
        SELECT rev, rn,
               lag(rev, 1) OVER w AS l1, lag(rev, 2) OVER w AS l2,
               lag(rev, 3) OVER w AS l3, lag(rev, 4) OVER w AS l4,
               lag(rev, 5) OVER w AS l5, lag(rev, 6) OVER w AS l6,
               lag(rev, 7) OVER w AS l7
        FROM daily
        WINDOW w AS (ORDER BY rn)
      )
      WHERE rn = (SELECT MAX(rn) FROM daily)
    ),
    h AS (SELECT unnest(range(1, {_THETA_H + 1})) AS h)
    SELECT CAST(h.h AS BIGINT) AS horizon_days,
           round(s.level, 6) AS ses_level,
           round(t.slope, 6) AS drift_per_day,
           round(s.level + 0.5 * t.slope * h.h, 6) AS theta_forecast
    FROM h, ses s, trend t
    ORDER BY horizon_days
    """,
)
def q_theta_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-method forecast of daily revenue, horizons 1..7: the classic
    θ=(0,2) decomposition collapses to SES level + half the linear drift
    — fc(h) = L + 0.5·b·h, with L an α=0.5 truncated-EWMA level (the
    exact halving-weights stencil of q_events_ewma8) and b the OLS slope
    over the full day grid. The M3-winning baseline that closes the
    forecast family: q_holt_linear (level+trend), q_croston_intermittent
    (sparse), q_seasonal_naive_backtest (seasonal), Theta (the
    hard-to-beat default).

    Determinism: OLS moments and the EWMA stencil ride exact decimals /
    power-of-two weights; the horizon grid is a constant 7-row explode.

    Scale: one day rollup; everything else is constant-size. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(dec("value")).cast("double").alias("rev"))
        .select("d", F.row_number().over(Window.orderBy("d")).alias("rn"), "rev")
        .localCheckpoint(eager=True)
    )
    trend = daily.agg(
        (
            (
                F.count(F.lit(1))
                * F.sum((F.col("rn") * F.col("rev")).cast(D15)).cast("double")
                - F.sum(F.col("rn").cast(D15)).cast("double")
                * F.sum(F.col("rev").cast(D15)).cast("double")
            )
            / (
                F.count(F.lit(1))
                * F.sum((F.col("rn").cast("double") * F.col("rn")).cast(D15)).cast(
                    "double"
                )
                - F.sum(F.col("rn").cast(D15)).cast("double")
                * F.sum(F.col("rn").cast(D15)).cast("double")
            )
        ).alias("slope"),
        F.max("rn").cast("bigint").alias("n_days"),
    )
    w = Window.orderBy("rn")
    lags = [F.col("rev")] + [F.lag("rev", i).over(w) for i in range(1, 8)]
    weights = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125]
    level_expr = lags[0] * weights[0]
    for lg, wt in zip(lags[1:], weights[1:]):
        level_expr = level_expr + wt * lg
    wmax = Window.partitionBy()
    ses = (
        daily.select(
            "rn",
            (level_expr / 1.9921875).alias("level"),
            F.max("rn").over(wmax).alias("rmax"),
        )
        .filter(F.col("rn") == F.col("rmax"))
        .select("level")
    )
    h = spark.range(1, _THETA_H + 1).select(F.col("id").alias("h"))
    return (
        h.crossJoin(F.broadcast(ses))
        .crossJoin(F.broadcast(trend))
        .select(
            F.col("h").cast("bigint").alias("horizon_days"),
            F.round("level", 6).alias("ses_level"),
            F.round("slope", 6).alias("drift_per_day"),
            F.round(F.col("level") + 0.5 * F.col("slope") * F.col("h"), 6).alias(
                "theta_forecast"
            ),
        )
        .orderBy("horizon_days")
    )
