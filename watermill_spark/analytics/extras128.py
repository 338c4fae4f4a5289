"""Analytics batch 136: sequential-state filters over the aggregated daily
grid — Kalman local-level filter, Holt–Winters additive (weekly-seasonal)
smoothing, and a GARCH(1,1) volatility recursion.

These extend the `q_holt_linear` sequential-state recipe
(`extras31.py`): the fact table first collapses to the ~2.4k-row daily
grid with exact DECIMAL sums (distributed, map-side combined), then the
inherently sequential recursion runs in ONE Arrow-batched applyInPandas
over that bounded aggregate, mirrored bit-for-bit by a DuckDB recursive
CTE executing the same IEEE double ops in the same order. At 100 TB the
Python boundary still sees O(#days) rows — the scan+agg does the heavy
lifting JVM-side, the O(n_days) loop is free.

Reference parity: watermill has no native analytics; these are [NS]
SURVEY.md §2.B window/aggregation-family operators a production consumer
of the events/orders streams would deploy downstream (trend extraction,
seasonal capacity planning, volatility monitoring for anomaly budgets).
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import dec
from .registry import load, register

# Shared daily-revenue grid (exact decimal sum -> double), ordered by day.
# rn is the 1-based recursion index on both sides.
_DAILY_SQL = """
    daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    ord AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
      FROM daily
    )
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )


@register(
    "q_kalman_local_level",
    oracle=f"""
    WITH RECURSIVE {_DAILY_SQL},
    kf AS (
      SELECT 1 AS rn,
             (SELECT y FROM ord WHERE rn = 1) AS x,
             CAST(1.0 AS DOUBLE) AS p
      UNION ALL
      SELECT o.rn,
             k.x + ((k.p + 0.25) / (k.p + 0.25 + 1.0)) * (o.y - k.x),
             (1.0 - (k.p + 0.25) / (k.p + 0.25 + 1.0)) * (k.p + 0.25)
      FROM kf k JOIN ord o ON o.rn = k.rn + 1
    )
    SELECT CAST(rn AS BIGINT) AS n_days,
           round(x, 6) AS level,
           round(p, 9) AS state_var,
           round((p + 0.25) / (p + 0.25 + 1.0), 9) AS gain,
           round((sqrt(0.25 * 0.25 + 4.0 * 0.25) - 0.25) / 2.0
                 / ((sqrt(0.25 * 0.25 + 4.0 * 0.25) - 0.25) / 2.0 + 1.0), 9)
             AS steady_gain
    FROM kf WHERE rn = (SELECT CAST(COUNT(*) AS BIGINT) FROM ord)
    """,
)
def q_kalman_local_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kalman filter, local-level model, over daily revenue: x_t = x_{t-1}
    + w (q=0.25), y_t = x_t + v (r=1.0). Per step: p_pred = p + q;
    K = p_pred/(p_pred + r); x += K(y - x); p = (1-K)p_pred. Reports the
    final filtered level, state variance, gain, and the analytic
    steady-state gain K* = P*/(P*+r) with P* = (sqrt(q²+4qr)-q)/2 the
    positive root of the Riccati fixed point — the filter's p/K must have
    converged to it (q, r are data-scale-free so the gain sequence is a
    pure constant recursion; only x touches the data).

    Determinism: the numpy loop executes the identical IEEE ops in the
    identical order as the recursive CTE; init x=y₁, p=1.0.

    Scale: one distributed agg pass; O(#days) sequential tail. §2.B [NS].
    """
    daily = _daily(spark, sf_dir)

    def kalman(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        q, r = 0.25, 1.0
        x, p = float(y[0]), 1.0
        for t in range(1, len(y)):
            p_pred = p + q
            k = p_pred / (p_pred + r)
            x = x + k * (float(y[t]) - x)
            p = (1.0 - k) * p_pred
        pstar = ((q * q + 4.0 * q * r) ** 0.5 - q) / 2.0
        return pd.DataFrame(
            {
                "n_days": [len(y)],
                "level": [x],
                "state_var": [p],
                "gain": [(p + q) / (p + q + r)],
                "steady_gain": [pstar / (pstar + r)],
            }
        )

    res = daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        kalman,
        "n_days long, level double, state_var double, gain double, steady_gain double",
    )
    return res.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round("level", 6).alias("level"),
        F.round("state_var", 9).alias("state_var"),
        F.round("gain", 9).alias("gain"),
        F.round("steady_gain", 9).alias("steady_gain"),
    )


@register(
    "q_holt_winters_additive",
    oracle=f"""
    WITH RECURSIVE {_DAILY_SQL},
    init AS (
      SELECT
        (SELECT CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / 7.0
         FROM ord WHERE rn <= 7) AS l0,
        ((SELECT CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / 7.0
          FROM ord WHERE rn BETWEEN 8 AND 14)
         - (SELECT CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / 7.0
            FROM ord WHERE rn <= 7)) / 7.0 AS b0
    ),
    hw AS (
      SELECT 7 AS rn, i.l0 AS l, i.b0 AS b,
             (SELECT y FROM ord WHERE rn = 1) - i.l0 AS s1,
             (SELECT y FROM ord WHERE rn = 2) - i.l0 AS s2,
             (SELECT y FROM ord WHERE rn = 3) - i.l0 AS s3,
             (SELECT y FROM ord WHERE rn = 4) - i.l0 AS s4,
             (SELECT y FROM ord WHERE rn = 5) - i.l0 AS s5,
             (SELECT y FROM ord WHERE rn = 6) - i.l0 AS s6,
             (SELECT y FROM ord WHERE rn = 7) - i.l0 AS s7
      FROM init i
      UNION ALL
      SELECT o.rn,
             0.3 * (o.y - CASE ((o.rn - 1) % 7) + 1
                      WHEN 1 THEN h.s1 WHEN 2 THEN h.s2 WHEN 3 THEN h.s3
                      WHEN 4 THEN h.s4 WHEN 5 THEN h.s5 WHEN 6 THEN h.s6
                      ELSE h.s7 END)
               + 0.7 * (h.l + h.b),
             0.1 * ((0.3 * (o.y - CASE ((o.rn - 1) % 7) + 1
                      WHEN 1 THEN h.s1 WHEN 2 THEN h.s2 WHEN 3 THEN h.s3
                      WHEN 4 THEN h.s4 WHEN 5 THEN h.s5 WHEN 6 THEN h.s6
                      ELSE h.s7 END)
               + 0.7 * (h.l + h.b)) - h.l) + 0.9 * h.b,
             CASE WHEN ((o.rn - 1) % 7) + 1 = 1 THEN
               0.2 * (o.y - (0.3 * (o.y - h.s1) + 0.7 * (h.l + h.b))) + 0.8 * h.s1
             ELSE h.s1 END,
             CASE WHEN ((o.rn - 1) % 7) + 1 = 2 THEN
               0.2 * (o.y - (0.3 * (o.y - h.s2) + 0.7 * (h.l + h.b))) + 0.8 * h.s2
             ELSE h.s2 END,
             CASE WHEN ((o.rn - 1) % 7) + 1 = 3 THEN
               0.2 * (o.y - (0.3 * (o.y - h.s3) + 0.7 * (h.l + h.b))) + 0.8 * h.s3
             ELSE h.s3 END,
             CASE WHEN ((o.rn - 1) % 7) + 1 = 4 THEN
               0.2 * (o.y - (0.3 * (o.y - h.s4) + 0.7 * (h.l + h.b))) + 0.8 * h.s4
             ELSE h.s4 END,
             CASE WHEN ((o.rn - 1) % 7) + 1 = 5 THEN
               0.2 * (o.y - (0.3 * (o.y - h.s5) + 0.7 * (h.l + h.b))) + 0.8 * h.s5
             ELSE h.s5 END,
             CASE WHEN ((o.rn - 1) % 7) + 1 = 6 THEN
               0.2 * (o.y - (0.3 * (o.y - h.s6) + 0.7 * (h.l + h.b))) + 0.8 * h.s6
             ELSE h.s6 END,
             CASE WHEN ((o.rn - 1) % 7) + 1 = 7 THEN
               0.2 * (o.y - (0.3 * (o.y - h.s7) + 0.7 * (h.l + h.b))) + 0.8 * h.s7
             ELSE h.s7 END
      FROM hw h JOIN ord o ON o.rn = h.rn + 1
    ),
    fin AS (
      SELECT * FROM hw WHERE rn = (SELECT CAST(COUNT(*) AS BIGINT) FROM ord)
    )
    SELECT CAST(rn AS BIGINT) AS n_days,
           round(l, 6) AS level,
           round(b, 6) AS trend,
           round(l + b + CASE ((rn + 1 - 1) % 7) + 1
                   WHEN 1 THEN s1 WHEN 2 THEN s2 WHEN 3 THEN s3
                   WHEN 4 THEN s4 WHEN 5 THEN s5 WHEN 6 THEN s6
                   ELSE s7 END, 6) AS forecast_1d,
           round(GREATEST(s1, s2, s3, s4, s5, s6, s7)
                 - LEAST(s1, s2, s3, s4, s5, s6, s7), 6) AS seasonal_range
    FROM fin
    """,
)
def q_holt_winters_additive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters additive triple-exponential smoothing of daily revenue
    with a 7-slot (weekly) seasonal state, α=0.3 β=0.1 γ=0.2. Init from the
    first two weeks (l₀ = mean(wk1); b₀ = (mean(wk2)−mean(wk1))/7;
    sᵢ = yᵢ − l₀); recursion runs from day 8. Seasonal slots index by
    ((rn−1) mod 7)+1 — pure arrival order, no calendar-dow dependence, so
    gaps in the ship-date grid can't skew slot assignment across engines.
    Reports final level/trend, the 1-day-ahead seasonal forecast, and the
    seasonal amplitude (max−min slot).

    Determinism: the recursive CTE carries the 7 seasonal slots as columns
    and updates exactly one per step with the same IEEE expression tree as
    the numpy loop (l' first, then b' and s' both reusing l').

    Scale: identical to q_holt_linear — one distributed agg, O(#days)
    sequential tail over the bounded grid. §2.B [NS].
    """
    daily = _daily(spark, sf_dir)

    def hw(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        n = len(y)
        import decimal

        a, bta, g = 0.3, 0.1, 0.2
        # init means via exact DECIMAL(38,15) sums — addition-order-free,
        # mirroring the oracle's SUM(CAST(y AS DECIMAL(38,15)))
        q15 = decimal.Decimal(1).scaleb(-15)
        dsum7 = lambda xs: float(  # noqa: E731
            sum(
                (
                    decimal.Decimal(float(x)).quantize(
                        q15, rounding=decimal.ROUND_HALF_UP
                    )
                    for x in xs
                ),
                decimal.Decimal(0),
            )
        )
        m1 = dsum7(y[:7]) / 7.0
        m2 = dsum7(y[7:14]) / 7.0
        lvl, b = m1, (m2 - m1) / 7.0
        s = [float(y[i]) - m1 for i in range(7)]
        for t in range(7, n):
            slot = t % 7  # 0-based == ((rn-1) % 7) with rn = t+1
            lnew = a * (float(y[t]) - s[slot]) + (1.0 - a) * (lvl + b)
            b = bta * (lnew - lvl) + (1.0 - bta) * b
            s[slot] = g * (float(y[t]) - lnew) + (1.0 - g) * s[slot]
            lvl = lnew
        nxt = s[n % 7]
        return pd.DataFrame(
            {
                "n_days": [n],
                "level": [lvl],
                "trend": [b],
                "forecast_1d": [lvl + b + nxt],
                "seasonal_range": [max(s) - min(s)],
            }
        )

    res = daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        hw,
        "n_days long, level double, trend double, forecast_1d double,"
        " seasonal_range double",
    )
    return res.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round("forecast_1d", 6).alias("forecast_1d"),
        F.round("seasonal_range", 6).alias("seasonal_range"),
    )


@register(
    "q_garch_volatility_filter",
    oracle=f"""
    WITH RECURSIVE {_DAILY_SQL},
    ret AS (
      SELECT o.rn - 1 AS rn, o.y / p.y - 1.0 AS r
      FROM ord o JOIN ord p ON p.rn = o.rn - 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ret),
    v0 AS (
      SELECT CAST(SUM(CAST(r * r AS DECIMAL(38,18))) AS DOUBLE)
             / (SELECT n FROM n) AS v
      FROM ret
    ),
    garch AS (
      SELECT 1 AS rn, (SELECT v FROM v0) AS h
      UNION ALL
      SELECT g.rn + 1,
             0.00001 + 0.1 * (SELECT r * r FROM ret WHERE rn = g.rn)
                     + 0.85 * g.h
      FROM garch g WHERE g.rn < (SELECT n FROM n)
    )
    SELECT (SELECT n FROM n) AS n_returns,
           round((SELECT v FROM v0), 9) AS var_uncond,
           round(h, 9) AS var_final,
           round(sqrt(h) * sqrt(365.0), 6) AS vol_annualized,
           round(sqrt(0.00001 / (1.0 - 0.1 - 0.85)) * sqrt(365.0), 6)
             AS vol_longrun,
           CAST(0.95 AS DOUBLE) AS persistence
    FROM garch WHERE rn = (SELECT n FROM n)
    """,
)
def q_garch_volatility_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional-variance recursion over daily revenue
    returns r_t = y_t/y_{t-1} − 1: h_t = ω + α r²_{t-1} + β h_{t-1} with
    fixed (ω=1e-5, α=0.1, β=0.85), initialized at the exact sample second
    moment of the returns. Reports the unconditional vs final filtered
    variance, the annualized conditional vol, the long-run vol implied by
    ω/(1−α−β), and the persistence α+β — the anomaly-budget monitor for a
    revenue stream ("is today's variance regime elevated vs long-run?").

    Determinism: r²-sums go through DECIMAL(38,18) (returns are O(1)
    ratios); the variance recursion is the same IEEE expression order in
    numpy and the recursive CTE.

    Scale: one distributed agg; O(#days) tail. §2.B [NS].
    """
    daily = _daily(spark, sf_dir)

    def garch(pdf: pd.DataFrame) -> pd.DataFrame:
        import decimal

        pdf = pdf.sort_values("d").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        r = [float(y[i]) / float(y[i - 1]) - 1.0 for i in range(1, len(y))]
        n = len(r)
        # exact second moment via DECIMAL(38,18) quantization, like the CTE
        q18 = decimal.Decimal(1).scaleb(-18)
        tot = sum(
            (decimal.Decimal(x * x).quantize(q18, rounding=decimal.ROUND_HALF_UP) for x in r),
            decimal.Decimal(0),
        )
        v0 = float(tot) / n
        w, al, be = 0.00001, 0.1, 0.85
        h = v0
        for t in range(1, n):
            h = w + al * (r[t - 1] * r[t - 1]) + be * h
        return pd.DataFrame(
            {
                "n_returns": [n],
                "var_uncond": [v0],
                "var_final": [h],
                "vol_annualized": [(h**0.5) * (365.0**0.5)],
                "vol_longrun": [((w / (1.0 - al - be)) ** 0.5) * (365.0**0.5)],
            }
        )

    res = daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        garch,
        "n_returns long, var_uncond double, var_final double,"
        " vol_annualized double, vol_longrun double",
    )
    return res.select(
        F.col("n_returns").cast("bigint").alias("n_returns"),
        F.round("var_uncond", 9).alias("var_uncond"),
        F.round("var_final", 9).alias("var_final"),
        F.round("vol_annualized", 6).alias("vol_annualized"),
        F.round("vol_longrun", 6).alias("vol_longrun"),
        F.lit(0.95).alias("persistence"),
    )
