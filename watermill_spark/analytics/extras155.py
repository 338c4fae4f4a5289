"""Analytics batch 163: quantile-based skew/kurtosis, the ulcer index,
and the Kelly criterion.

Bowley skewness and Moors kurtosis are the outlier-immune shape
statistics — moment skew/kurtosis (q_jarque_bera's inputs) explode on
one bad day, octile-based shape does not; the ulcer index replaces
q_max_drawdown's single worst number with the root-mean-square of ALL
drawdowns (depth × duration pain, the risk number retail allocators
actually use); the Kelly fraction turns the daily up/down profile into
the growth-optimal bet size — the capacity-allocation heuristic for
anything with repeated win/loss exposure.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/statistics families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import register
from .relations import DAILY_REVENUE_SQL, daily_revenue


@register(
    "q_quantile_skew_kurtosis",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    ranked AS (
      SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY y, d) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    oct AS (
      SELECT CAST(i AS BIGINT) AS i,
             MAX(CASE WHEN rn = CAST(FLOOR((n - 1) * i / 8.0) AS BIGINT)
                           + 1 THEN y END) AS e
      FROM ranked, (VALUES (1), (2), (3), (4), (5), (6), (7)) AS v(i)
      GROUP BY 1
    ),
    p AS (
      SELECT MAX(CASE WHEN i = 1 THEN e END) AS e1,
             MAX(CASE WHEN i = 2 THEN e END) AS e2,
             MAX(CASE WHEN i = 3 THEN e END) AS e3,
             MAX(CASE WHEN i = 4 THEN e END) AS e4,
             MAX(CASE WHEN i = 5 THEN e END) AS e5,
             MAX(CASE WHEN i = 6 THEN e END) AS e6,
             MAX(CASE WHEN i = 7 THEN e END) AS e7
      FROM oct
    )
    SELECT round(e2, 4) AS q1, round(e4, 4) AS median,
           round(e6, 4) AS q3,
           round((e6 + e2 - 2.0 * e4) / (e6 - e2), 6) AS bowley_skew,
           round(((e7 - e5) + (e3 - e1)) / (e6 - e2), 6) AS moors_kurtosis
    FROM p
    """,
)
def q_quantile_skew_kurtosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust distribution shape of daily revenue from exact octiles
    (type-1 quantiles, date tiebreak): Bowley skewness
    (Q3+Q1−2·median)/(Q3−Q1) and Moors kurtosis
    ((E7−E5)+(E3−E1))/(E6−E2) — the outlier-immune shape pair (moment
    skew/kurtosis move arbitrarily far on a single extreme day; octiles
    move at most one rank).

    Determinism: octiles select exact ranked values (floor-rank
    arithmetic, full tiebreak); the two shape statistics are fixed
    double expressions of seven selected doubles.

    Scale: one fact rollup + one rank window on the bounded day grid;
    the octile pivot reads 7 rows. §2.B window/statistics family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    ranked = daily.select(
        "y",
        F.row_number().over(Window.orderBy("y", "d")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    octs = spark.range(1, 8).select(F.col("id").cast("bigint").alias("i"))
    oct_df = (
        ranked.crossJoin(F.broadcast(octs))
        .groupBy("i")
        .agg(
            F.max(
                F.when(
                    F.col("rn")
                    == F.floor((F.col("n") - 1) * F.col("i") / 8.0).cast(
                        "bigint"
                    )
                    + 1,
                    F.col("y"),
                )
            ).alias("e")
        )
    )
    p = oct_df.agg(
        *[
            F.max(F.when(F.col("i") == i, F.col("e"))).alias(f"e{i}")
            for i in range(1, 8)
        ]
    )
    return p.select(
        F.round("e2", 4).alias("q1"),
        F.round("e4", 4).alias("median"),
        F.round("e6", 4).alias("q3"),
        F.round(
            (F.col("e6") + F.col("e2") - 2.0 * F.col("e4"))
            / (F.col("e6") - F.col("e2")),
            6,
        ).alias("bowley_skew"),
        F.round(
            ((F.col("e7") - F.col("e5")) + (F.col("e3") - F.col("e1")))
            / (F.col("e6") - F.col("e2")),
            6,
        ).alias("moors_kurtosis"),
    )


@register(
    "q_ulcer_index",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    dd AS (
      SELECT d, y,
             (y - MAX(y) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING))
             / MAX(y) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
             * 100.0 AS dd_pct
      FROM daily
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           round(sqrt(CAST(SUM(CAST(dd_pct * dd_pct AS DECIMAL(38,10)))
                           AS DOUBLE) / COUNT(*)), 6) AS ulcer_index,
           round(MIN(dd_pct), 4) AS max_drawdown_pct,
           round(CAST(SUM(CASE WHEN dd_pct < 0 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 100.0, 4)
             AS pct_days_in_drawdown
    FROM dd
    """,
)
def q_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index of the daily revenue series: per day the percentage
    drawdown from the running maximum, then UI = √(mean dd²) — unlike
    q_max_drawdown's single worst dip, the ulcer index charges for
    DEPTH × DURATION (a long shallow slump hurts as much as one crash),
    plus the share of days spent below a prior peak.

    Determinism: the running max of doubles is exact (max is
    order-free); squared drawdowns accumulate through DECIMAL.

    Scale: one prefix-max window over the bounded day grid + one
    aggregate. §2.B window family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    dd = daily.select(
        (
            (F.col("y") - F.max("y").over(w)) / F.max("y").over(w) * 100.0
        ).alias("dd_pct")
    )
    return dd.agg(
        bcount("n_days"),
        F.round(
            F.sqrt(
                F.sum(
                    (F.col("dd_pct") * F.col("dd_pct")).cast("decimal(38,10)")
                ).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("ulcer_index"),
        F.round(F.min("dd_pct"), 4).alias("max_drawdown_pct"),
        F.round(
            F.sum(F.when(F.col("dd_pct") < 0, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
            * 100.0,
            4,
        ).alias("pct_days_in_drawdown"),
    )


@register(
    "q_kelly_criterion",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    chg AS (
      SELECT y - LAG(y) OVER (ORDER BY d) AS dy
      FROM daily
    ),
    moves AS (SELECT dy FROM chg WHERE dy IS NOT NULL AND dy <> 0),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN dy > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_up,
             CAST(SUM(CASE WHEN dy > 0
                      THEN CAST(dy AS DECIMAL(38,10)) END) AS DOUBLE)
               AS gain,
             CAST(SUM(CASE WHEN dy < 0
                      THEN CAST(-dy AS DECIMAL(38,10)) END) AS DOUBLE)
               AS loss,
             CAST(SUM(CASE WHEN dy < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dn
      FROM moves
    )
    SELECT n AS n_moves,
           round(CAST(n_up AS DOUBLE) / n, 6) AS p_up,
           round(gain / n_up, 4) AS avg_gain,
           round(loss / n_dn, 4) AS avg_loss,
           round((gain / n_up) / (loss / n_dn), 6) AS payoff_b,
           round(CAST(n_up AS DOUBLE) / n
                 - (1.0 - CAST(n_up AS DOUBLE) / n)
                   / ((gain / n_up) / (loss / n_dn)), 6)
             AS kelly_fraction
    FROM agg
    """,
)
def q_kelly_criterion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kelly criterion from the day-over-day revenue move profile:
    win probability p (share of up moves), payoff ratio b = avg gain /
    avg loss, and the growth-optimal fraction f* = p − (1−p)/b — the
    bet-sizing / capacity-allocation heuristic for any repeated
    win-loss exposure (f* ≤ 0 means the edge doesn't exist and no
    sizing fixes it).

    Determinism: moves come from one lag window; gains/losses
    accumulate through DECIMAL; the ratios are fixed double
    expressions of them.

    Scale: one lag window + one 1-row aggregate on the bounded day
    grid. §2.B window family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    chg = daily.select(
        (F.col("y") - F.lag("y").over(Window.orderBy("d"))).alias("dy")
    )
    moves = chg.filter(F.col("dy").isNotNull() & (F.col("dy") != 0))
    agg = moves.agg(
        bcount("n"),
        F.sum(F.when(F.col("dy") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_up"),
        F.sum(F.when(F.col("dy") > 0, F.col("dy").cast("decimal(38,10)")))
        .cast("double")
        .alias("gain"),
        F.sum(F.when(F.col("dy") < 0, (-F.col("dy")).cast("decimal(38,10)")))
        .cast("double")
        .alias("loss"),
        F.sum(F.when(F.col("dy") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dn"),
    )
    p = F.col("n_up").cast("double") / F.col("n")
    b = (F.col("gain") / F.col("n_up")) / (F.col("loss") / F.col("n_dn"))
    return agg.select(
        F.col("n").alias("n_moves"),
        F.round(p, 6).alias("p_up"),
        F.round(F.col("gain") / F.col("n_up"), 4).alias("avg_gain"),
        F.round(F.col("loss") / F.col("n_dn"), 4).alias("avg_loss"),
        F.round(b, 6).alias("payoff_b"),
        F.round(p - (1.0 - p) / b, 6).alias("kelly_fraction"),
    )
