"""Analytics batch 176: CUSUM-of-residuals structural-break test, the
Palma ratio, and the Hoover (Robin Hood) index.

The OLS-residual CUSUM (Ploberger-Krämer) detects a structural break at
an UNKNOWN date — q_chow_test needs the candidate date supplied;
this one scans for it. Palma and Hoover complete the inequality shelf
(gini/theil/atkinson/lorenz already here) with the two measures policy
debates actually quote: the top-10%/bottom-40% share ratio, and the
share of total spend that would have to move to equalize everyone.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import (
    D15,
    OLS_SLOPE_SQL,
    bcount,
    dec,
    ols_moments,
    ols_slope,
    sql_ols_moments,
)
from .distrib import two_level_order
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue


@register(
    "q_cusum_ols_residuals",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    pts AS (
      SELECT d, y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS x
      FROM daily
    ),
    mom AS (
      SELECT {sql_ols_moments()}
      FROM pts
    ),
    fit AS (
      SELECT n,
             {OLS_SLOPE_SQL} AS b,
             (sy - {OLS_SLOPE_SQL} * sx) / n AS a
      FROM mom
    ),
    resid AS (
      SELECT p.d, p.y - f.a - f.b * p.x AS e, f.n
      FROM pts p, fit f
    ),
    sd AS (
      SELECT sqrt(CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE)
                  / (MAX(n) - 2.0)) AS s, MAX(n) AS n
      FROM resid
    ),
    walk AS (
      SELECT r.d,
             CAST(SUM(CAST(r.e AS DECIMAL(38,10)))
                  OVER (ORDER BY r.d ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE)
             / (sd.s * sqrt(CAST(sd.n AS DOUBLE))) AS w
      FROM resid r, sd
    )
    SELECT (SELECT CAST(n AS BIGINT) FROM sd) AS n_days,
           round(MAX(abs(w)), 6) AS max_abs_cusum,
           MIN(CASE WHEN abs(w) = (SELECT MAX(abs(w)) FROM walk)
                    THEN d END) AS break_date,
           CAST(MAX(abs(w)) > 1.36 AS BOOLEAN) AS reject_stability
    FROM walk
    """,
)
def q_cusum_ols_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ploberger-Krämer OLS-CUSUM structural-break test on the daily
    revenue trend: the standardized cumulative sum of trend residuals
    W_t = Σe_i/(σ̂√n) crosses ±1.36 (the 5% Brownian-bridge bound)
    only under parameter instability, and the argmax date is the break
    estimate — detects a break at an UNKNOWN date, where q_chow_test
    requires the candidate date and q_cusum_mean_shift assumes a
    constant mean rather than a trend.

    Determinism: the OLS fit is closed-form from decimal moments; the
    residual walk accumulates through DECIMAL; the argmax date takes
    MIN over ties.

    Scale: facts collapse to the day grid; 1-row fit and sd broadcasts
    (whitelisted) + one prefix window. §2.B window/regression family
    [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    pts = daily.select(
        "d",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("double").alias("x"),
    )
    # checkpointed once (r6): the OLS moments, the residual pass, the
    # residual sd, and the CUSUM walk each re-derived the fact rollup
    # (4 lineitem scans in the plan); the calendar-bounded day grid
    # materializes once
    pts = pts.localCheckpoint(eager=True)
    mom = pts.agg(
        *ols_moments(),
    )
    b = ols_slope()
    fit = mom.select(
        "n", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a")
    )
    resid = pts.crossJoin(F.broadcast(fit)).select(
        "d",
        (F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias("e"),
        "n",
    )
    sd = resid.agg(
        F.sqrt(
            F.sum((F.col("e") * F.col("e")).cast("decimal(38,10)")).cast(
                "double"
            )
            / (F.max("n") - 2.0)
        ).alias("s"),
        F.max("n").alias("n"),
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    walk = (
        resid.select("d", "e")
        .crossJoin(F.broadcast(sd))
        .select(
            "d",
            (
                F.sum(F.col("e").cast("decimal(38,10)")).over(w).cast("double")
                / (F.col("s") * F.sqrt(F.col("n").cast("double")))
            ).alias("w"),
            "n",
        )
    )
    wall = Window.partitionBy()
    return (
        walk.withColumn("mx", F.max(F.abs("w")).over(wall))
        .agg(
            F.max("n").cast("bigint").alias("n_days"),
            F.round(F.max(F.abs("w")), 6).alias("max_abs_cusum"),
            F.min(
                F.when(F.abs("w") == F.col("mx"), F.col("d"))
            ).alias("break_date"),
            (F.max(F.abs("w")) > 1.36).alias("reject_stability"),
        )
        .select("n_days", "max_abs_cusum", "break_date", "reject_stability")
    )


@register(
    "q_palma_ratio",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY y, o_custkey) AS BIGINT)
               AS r,
             CAST(COUNT(*) OVER () AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,10))) OVER () AS DOUBLE) AS sy
      FROM spend
    )
    SELECT MAX(n) AS n_customers,
           round(CAST(SUM(CASE WHEN r > n - CAST(FLOOR(n / 10.0) AS
                    BIGINT) THEN CAST(y AS DECIMAL(38,10))
                    ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
                 / MAX(sy) * 100.0, 4) AS top10_share_pct,
           round(CAST(SUM(CASE WHEN r <= CAST(FLOOR(n * 4.0 / 10.0) AS
                    BIGINT) THEN CAST(y AS DECIMAL(38,10))
                    ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
                 / MAX(sy) * 100.0, 4) AS bottom40_share_pct,
           round(CAST(SUM(CASE WHEN r > n - CAST(FLOOR(n / 10.0) AS
                    BIGINT) THEN CAST(y AS DECIMAL(38,10))
                    ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN r <= CAST(FLOOR(n * 4.0 / 10.0)
                    AS BIGINT) THEN CAST(y AS DECIMAL(38,10))
                    ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE), 6)
             AS palma_ratio
    FROM ranked
    """,
)
def q_palma_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Palma ratio of customer spend: the top decile's spend share
    divided by the bottom four deciles' — the inequality measure policy
    debates quote because the middle 50% share is empirically stable,
    so all the action is in this ratio (reads directly where Gini
    compresses; complements q_gini_customer_spend, q_lorenz_asymmetry,
    q_atkinson_index).

    Determinism: decile membership is exact floor-rank arithmetic with
    custkey tiebreaks; shares are decimal-exact conditional sums.

    Scale: one fact rollup + one rank window + one aggregate. §2.B
    window family [NS].
    """
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("y")
    )
    # r7 (guide §2.5): the customer grid is data-scaled, so the global
    # rank/count/total no longer run as unpartitioned windows in ONE task
    # — distrib.two_level_order computes the identical exact rank (unique
    # (y, custkey) order) and the identical exact decimal total (decimal
    # addition is associative), all riding the ≤nparts offset grid.
    ranked = two_level_order(
        spend,
        ["y", "o_custkey"],
        rank_col="r",
        sums=[
            {
                "col": F.col("y").cast("decimal(38,10)"),
                "acc": "decimal(38,10)",
                "total": "syd",
            }
        ],
        total_count="n",
        project=["y"],
    ).select("y", "r", "n", F.col("syd").cast("double").alias("sy"))
    dec10 = F.floor(F.col("n") / 10.0).cast("bigint")
    dec40 = F.floor(F.col("n") * 4.0 / 10.0).cast("bigint")
    zero = F.lit(0).cast("decimal(38,10)")
    top = F.sum(
        F.when(F.col("r") > F.col("n") - dec10, F.col("y").cast("decimal(38,10)"))
        .otherwise(zero)
    ).cast("double")
    bot = F.sum(
        F.when(F.col("r") <= dec40, F.col("y").cast("decimal(38,10)")).otherwise(
            zero
        )
    ).cast("double")
    return ranked.agg(
        F.max("n").alias("n_customers"),
        F.round(top / F.max("sy") * 100.0, 4).alias("top10_share_pct"),
        F.round(bot / F.max("sy") * 100.0, 4).alias("bottom40_share_pct"),
        F.round(top / bot, 6).alias("palma_ratio"),
    )


@register(
    "q_hoover_index",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS sy
      FROM spend
    )
    SELECT t.n AS n_customers,
           round(0.5 * CAST(SUM(CAST(abs(s.y / t.sy - 1.0 / t.n)
                                     AS DECIMAL(38,15))) AS DOUBLE)
                 * 100.0, 4) AS hoover_index_pct,
           round(0.5 * CAST(SUM(CAST(abs(s.y / t.sy - 1.0 / t.n)
                                     AS DECIMAL(38,15))) AS DOUBLE)
                 * t.sy, 2) AS spend_to_redistribute
    FROM spend s, tot t
    GROUP BY t.n, t.sy
    """,
)
def q_hoover_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hoover (Robin Hood) index of customer spend: half the total
    absolute deviation between each customer's spend share and the
    equal share 1/n — literally the fraction (and absolute amount) of
    spend that would have to move between customers to equalize
    everyone; the most interpretable member of the inequality shelf
    and the maximum vertical gap of q_lorenz_curve.

    Determinism: shares divide identical doubles; the deviation sum
    accumulates through DECIMAL(38,15).

    Scale: one fact rollup + a 1-row total broadcast (whitelisted) +
    one aggregate. §2.B aggregation family [NS].
    """
    o = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the totals and the deviation pass both
    # re-derived the rollup (2 orders scans in the plan); the
    # customer-domain grid materializes once
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("y")
    ).localCheckpoint(eager=True)
    tot = spend.agg(
        bcount("n"),
        F.sum(F.col("y").cast("decimal(38,10)")).cast("double").alias("sy"),
    )
    dev = F.sum(
        F.abs(F.col("y") / F.col("sy") - 1.0 / F.col("n")).cast(D15)
    ).cast("double")
    return (
        spend.crossJoin(F.broadcast(tot))
        .groupBy("n", "sy")
        .agg(
            F.round(0.5 * dev * 100.0, 4).alias("hoover_index_pct"),
            F.round(0.5 * dev * F.max("sy"), 2).alias("spend_to_redistribute"),
        )
        .select(
            F.col("n").alias("n_customers"),
            "hoover_index_pct",
            "spend_to_redistribute",
        )
    )
