"""Analytics batch 111: Croston intermittent-demand forecasting,
Sortino/Calmar risk-adjusted ratios, and the 2×2 odds ratio with Woolf CI.

Croston's method is THE standard forecast for sparse demand (most parts
sell on a handful of days): smooth the nonzero demand sizes and the
inter-demand intervals separately, forecast their ratio. Sortino and
Calmar complete the risk-ratio family next to q_sharpe_ratio — penalizing
only downside volatility (Sortino) or the worst peak-to-trough loss
(Calmar). The odds ratio is the 2×2 effect size epidemiology and ads
teams quote, with the Woolf log-variance CI and Haldane–Anscombe
correction.

Determinism: Croston and the ratios use the halving-weights trick
(0.5^k multiplies are exact; see extras11 q_events_ewma8) and exact
DECIMAL accumulations; the odds ratio is integer counts + double
closed forms rounded to 6dp.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, dec
from .registry import load, register

# Σ 0.5^0..0.5^7 = 2 - 2^-7 — exactly representable
_EWMA_DEN = 1.9921875
_HALF = [1.0, 0.5, 0.25, 0.125, 0.0625, 0.03125, 0.015625, 0.0078125]


@register(
    "q_croston_intermittent",
    oracle=f"""
    WITH demand AS (
      SELECT l_partkey AS pk, l_shipdate AS d,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    seq AS (
      SELECT pk, d, q,
             row_number() OVER w AS rn,
             CAST(date_diff('day', lag(d, 1) OVER w, d) AS DOUBLE) AS g0,
             CAST(date_diff('day', lag(d, 2) OVER w, lag(d, 1) OVER w) AS DOUBLE) AS g1,
             CAST(date_diff('day', lag(d, 3) OVER w, lag(d, 2) OVER w) AS DOUBLE) AS g2,
             CAST(date_diff('day', lag(d, 4) OVER w, lag(d, 3) OVER w) AS DOUBLE) AS g3,
             lag(q, 1) OVER w AS q1, lag(q, 2) OVER w AS q2, lag(q, 3) OVER w AS q3
      FROM demand
      WINDOW w AS (PARTITION BY pk ORDER BY d)
    ),
    lastrow AS (
      SELECT pk, rn AS n_demands,
             (q + 0.5 * q1 + 0.25 * q2 + 0.125 * q3) / 1.875 AS size_sm,
             (g0 + 0.5 * g1 + 0.25 * g2 + 0.125 * g3) / 1.875 AS gap_sm
      FROM seq
      WHERE rn = (SELECT MAX(rn) FROM seq s2 WHERE s2.pk = seq.pk) AND rn >= 5
    )
    SELECT CAST(pk AS BIGINT) AS p_partkey,
           CAST(n_demands AS BIGINT) AS n_demands,
           round(size_sm, 6) AS size_smoothed,
           round(gap_sm, 6) AS interval_smoothed,
           round(size_sm / gap_sm, 6) AS croston_rate
    FROM lastrow
    ORDER BY p_partkey
    """,
)
def q_croston_intermittent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Croston's intermittent-demand forecast per part: collapse shipments
    to (part, day) demand events, then at the latest demand event smooth
    the last 4 demand sizes and the last 4 inter-demand day gaps with
    halving weights (truncated EWMA, α=0.5), forecasting
    rate = smoothed_size / smoothed_interval (units per day). Parts with
    < 5 demand events are excluded (not enough history for the stencil).

    Determinism: daily sizes are exact DECIMAL sums cast to double; day
    gaps are exact integers; halving-weight multiplies are exact, and the
    4-term numerator is written in the same left-associative order in
    both engines (extras11 trick). Divisor 1.875 = 2 - 2⁻³ is exact.

    Scale: one (part, day) rollup (map-side combine) then one window
    shuffle on part — lag stencil shares a single sorted frame; the
    final per-part row is a filter, not a second aggregation. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    demand = li.groupBy(
        F.col("l_partkey").alias("pk"), F.col("l_shipdate").alias("d")
    ).agg(F.sum(dec("l_quantity")).cast("double").alias("q"))
    w = Window.partitionBy("pk").orderBy("d")
    gaps = [
        F.datediff(F.lag("d", i).over(w), F.lag("d", i + 1).over(w)).cast("double")
        for i in range(0, 4)
    ]
    # gaps[0] needs lag0 = d itself
    gaps[0] = F.datediff(F.col("d"), F.lag("d", 1).over(w)).cast("double")
    qs = [F.col("q")] + [F.lag("q", i).over(w) for i in range(1, 4)]
    seq = demand.select(
        "pk",
        "d",
        F.row_number().over(w).alias("rn"),
        *[g.alias(f"g{i}") for i, g in enumerate(gaps)],
        *[q.alias(f"qq{i}") for i, q in enumerate(qs)],
    )
    wmax = Window.partitionBy("pk")
    size_sm = (
        F.col("qq0")
        + 0.5 * F.col("qq1")
        + 0.25 * F.col("qq2")
        + 0.125 * F.col("qq3")
    ) / 1.875
    gap_sm = (
        F.col("g0") + 0.5 * F.col("g1") + 0.25 * F.col("g2") + 0.125 * F.col("g3")
    ) / 1.875
    return (
        seq.withColumn("rmax", F.max("rn").over(wmax))
        .filter((F.col("rn") == F.col("rmax")) & (F.col("rn") >= 5))
        .select(
            F.col("pk").cast("bigint").alias("p_partkey"),
            F.col("rn").cast("bigint").alias("n_demands"),
            F.round(size_sm, 6).alias("size_smoothed"),
            F.round(gap_sm, 6).alias("interval_smoothed"),
            F.round(size_sm / gap_sm, 6).alias("croston_rate"),
        )
        .orderBy("p_partkey")
    )


@register(
    "q_sortino_calmar",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    rets AS (
      SELECT d, rev,
             (rev - lag(rev) OVER (ORDER BY d)) / lag(rev) OVER (ORDER BY d)
               AS ret
      FROM daily
    ),
    dd AS (
      SELECT ret,
             1.0 - rev / MAX(rev) OVER (
               ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS drawdown
      FROM rets
    ),
    agg AS (
      SELECT CAST(COUNT(ret) AS BIGINT) AS n,
             CAST(SUM(CAST(ret AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(ret) AS mean_ret,
             CAST(SUM(CAST(
               CASE WHEN ret < 0 THEN ret * ret ELSE 0.0 END
               AS DECIMAL(38,15))) AS DOUBLE) / COUNT(ret) AS down_var,
             MAX(drawdown) AS max_dd
      FROM dd
    )
    SELECT n AS n_days,
           round(mean_ret, 8) AS mean_daily_return,
           round(sqrt(down_var), 8) AS downside_deviation,
           round(mean_ret / sqrt(down_var), 6) AS sortino,
           round(max_dd, 8) AS max_drawdown,
           CASE WHEN max_dd > 0 THEN round(mean_ret / max_dd, 6)
                ELSE CAST(NULL AS DOUBLE) END AS calmar
    FROM agg
    """,
)
def q_sortino_calmar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortino and Calmar ratios of the daily revenue series: simple daily
    returns, downside deviation = √(E[min(ret,0)²]) (only losses count),
    Sortino = mean/downside; max drawdown of the daily-revenue level vs
    its running peak (the cumulative sum of positive revenues is monotone,
    so the level series is the curve that actually dips), Calmar =
    mean/maxDD, NULL when the series never draws down. Completes the q_sharpe_ratio /
    q_max_drawdown risk family with the asymmetric-loss variants a
    treasury dashboard shows side by side.

    Determinism: daily revenue is an exact DECIMAL sum; returns divide in
    double (det.py rule 2); squared-loss and mean sums ride
    DECIMAL(38,15); running cum/max windows use explicit ROWS frames.

    Scale: one day rollup (map-side combine) to ≤|days| rows; all windows
    are single-partition over that bounded grid only. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(dec("value")).cast("double").alias("rev")
    )
    wo = Window.orderBy("d")
    wrun = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    rets = daily.select(
        "d",
        "rev",
        ((F.col("rev") - F.lag("rev").over(wo)) / F.lag("rev").over(wo)).alias("ret"),
    )
    dd = rets.select(
        "ret", (F.lit(1.0) - F.col("rev") / F.max("rev").over(wrun)).alias("drawdown")
    )
    agg = dd.agg(
        F.count("ret").cast("bigint").alias("n"),
        (F.sum(dec("ret", D15)).cast("double") / F.count("ret")).alias("mean_ret"),
        (
            F.sum(
                dec(
                    F.when(F.col("ret") < 0, F.col("ret") * F.col("ret")).otherwise(
                        0.0
                    ),
                    D15,
                )
            ).cast("double")
            / F.count("ret")
        ).alias("down_var"),
        F.max("drawdown").alias("max_dd"),
    )
    return agg.select(
        F.col("n").alias("n_days"),
        F.round("mean_ret", 8).alias("mean_daily_return"),
        F.round(F.sqrt("down_var"), 8).alias("downside_deviation"),
        F.round(F.col("mean_ret") / F.sqrt("down_var"), 6).alias("sortino"),
        F.round("max_dd", 8).alias("max_drawdown"),
        F.when(
            F.col("max_dd") > 0, F.round(F.col("mean_ret") / F.col("max_dd"), 6)
        ).otherwise(F.lit(None).cast("double")).alias("calmar"),
    )


@register(
    "q_odds_ratio_ci",
    oracle="""
    WITH cells AS (
      SELECT CAST(SUM(CASE WHEN isodow(ts) IN (6,7) AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN isodow(ts) IN (6,7) AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN isodow(ts) NOT IN (6,7) AND event_type = 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN isodow(ts) NOT IN (6,7) AND event_type <> 'purchase'
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM events
    ),
    adj AS (
      SELECT a, b, c, d,
             CAST(a AS DOUBLE) + 0.5 AS ah, CAST(b AS DOUBLE) + 0.5 AS bh,
             CAST(c AS DOUBLE) + 0.5 AS ch, CAST(d AS DOUBLE) + 0.5 AS dh
      FROM cells
    )
    SELECT a AS n_weekend_purchase, b AS n_weekend_other,
           c AS n_weekday_purchase, d AS n_weekday_other,
           round((ah * dh) / (bh * ch), 6) AS odds_ratio,
           round(ln((ah * dh) / (bh * ch)), 6) AS log_or,
           round(sqrt(1.0/ah + 1.0/bh + 1.0/ch + 1.0/dh), 6) AS se_log_or,
           round(exp(ln((ah * dh) / (bh * ch))
                     - 1.959963984540054 * sqrt(1.0/ah + 1.0/bh + 1.0/ch + 1.0/dh)), 6)
             AS or_ci_lo,
           round(exp(ln((ah * dh) / (bh * ch))
                     + 1.959963984540054 * sqrt(1.0/ah + 1.0/bh + 1.0/ch + 1.0/dh)), 6)
             AS or_ci_hi
    FROM adj
    """,
)
def q_odds_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2×2 odds ratio of purchasing on weekends vs weekdays with the Woolf
    log-variance 95% CI and the Haldane–Anscombe +0.5 correction (keeps
    the estimate finite with an empty cell) — the effect size
    epidemiology and ad-lift analyses quote alongside q_cramers_v /
    q_gtest_independence's association tests.

    Determinism: the four cells are exact integer sums in one pass; all
    downstream math is closed-form double on those integers (identical
    inputs ⇒ ≤1-ulp libm differences absorbed by 6dp rounding).

    Scale: a single conditional-aggregation scan — no shuffle beyond the
    1-row global agg. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    wk = F.dayofweek("ts").isin(1, 7)  # Sun=1, Sat=7 ≙ isodow 6/7
    pur = F.col("event_type") == "purchase"
    cells = ev.agg(
        F.sum(F.when(wk & pur, 1).otherwise(0)).cast("bigint").alias("a"),
        F.sum(F.when(wk & ~pur, 1).otherwise(0)).cast("bigint").alias("b"),
        F.sum(F.when(~wk & pur, 1).otherwise(0)).cast("bigint").alias("c"),
        F.sum(F.when(~wk & ~pur, 1).otherwise(0)).cast("bigint").alias("d"),
    )
    ah, bh = F.col("a").cast("double") + 0.5, F.col("b").cast("double") + 0.5
    ch, dh = F.col("c").cast("double") + 0.5, F.col("d").cast("double") + 0.5
    orr = (ah * dh) / (bh * ch)
    se = F.sqrt(1.0 / ah + 1.0 / bh + 1.0 / ch + 1.0 / dh)
    z = 1.959963984540054
    return cells.select(
        F.col("a").alias("n_weekend_purchase"),
        F.col("b").alias("n_weekend_other"),
        F.col("c").alias("n_weekday_purchase"),
        F.col("d").alias("n_weekday_other"),
        F.round(orr, 6).alias("odds_ratio"),
        F.round(F.log(orr), 6).alias("log_or"),
        F.round(se, 6).alias("se_log_or"),
        F.round(F.exp(F.log(orr) - z * se), 6).alias("or_ci_lo"),
        F.round(F.exp(F.log(orr) + z * se), 6).alias("or_ci_hi"),
    )
