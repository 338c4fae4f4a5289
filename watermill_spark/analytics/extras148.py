"""Analytics batch 156: Mincer-Zarnowitz forecast calibration,
monetary-unit audit sampling, and Cohen's h proportion effect size.

Mincer-Zarnowitz is the rationality test the forecast-metric panel
(q_median_absolute_pct_error) cannot perform: regress actuals on
forecasts and jointly test (intercept, slope) = (0, 1) — a forecast can
have decent MAPE and still be systematically biased and dampened.
Monetary-unit sampling is the auditor's deterministic "every Nth
dollar" selection — inclusion probability proportional to line value,
the sampling design behind substantive testing of financial
populations. Cohen's h is the arcsine effect size for comparing two
proportions (the binary-outcome sibling of q_cliffs_delta).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/statistics families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import OLS_SLOPE_SQL, bcount, dec, ols_moments, ols_slope, sql_ols_moments
from .distrib import two_level_order
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue


@register(
    "q_mincer_zarnowitz",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    fc AS (
      SELECT y, LAG(y, 7) OVER (ORDER BY d) AS f
      FROM daily
    ),
    pts AS (SELECT y, f FROM fc WHERE f IS NOT NULL),
    mom AS (
      SELECT {sql_ols_moments(x='f')},
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy,
             CAST(SUM(CAST((y - f) * (y - f) AS DECIMAL(38,10)))
                  AS DOUBLE) AS ssr_r
      FROM pts
    ),
    fit AS (
      SELECT n, ssr_r,
             {OLS_SLOPE_SQL} AS b,
             (sy - {OLS_SLOPE_SQL} * sx) / n AS a,
             (syy - sy * sy / n)
             - pow(n * sxy - sx * sy, 2) / (n * (n * sxx - sx * sx))
               AS ssr_u
      FROM mom
    )
    SELECT n AS n_forecasts,
           round(a, 4) AS mz_intercept,
           round(b, 6) AS mz_slope,
           round(((ssr_r - ssr_u) / 2.0) / (ssr_u / (n - 2.0)), 6)
             AS mz_f_stat,
           CAST(((ssr_r - ssr_u) / 2.0) / (ssr_u / (n - 2.0)) > 3.0
                AS BOOLEAN) AS reject_rationality
    FROM fit
    """,
)
def q_mincer_zarnowitz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mincer-Zarnowitz calibration of the seasonal-naive forecast:
    OLS of actual daily revenue on the y_{t-7} forecast; a rational
    forecast has (intercept, slope) = (0, 1), tested with
    F = ((SSR_restricted − SSR_unrestricted)/2)/(SSR_u/(n−2)) where the
    restricted model IS the forecast (residual y − f) — detects the
    systematic bias and mean-reversion damping that magnitude metrics
    miss.

    Determinism: all OLS and SSR moments are decimal-exact sums; slope,
    intercept, and F are fixed double expressions; the 3.0 rejection
    cut compares identical doubles.

    Scale: one fact rollup to the day grid, one lag window, one 1-row
    aggregate — no joins. §2.B regression/forecast family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    fc = daily.select(
        "y", F.lag("y", 7).over(Window.orderBy("d")).alias("f")
    ).filter(F.col("f").isNotNull())
    mom = fc.agg(
        *ols_moments(x="f"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("syy"),
        F.sum(
            ((F.col("y") - F.col("f")) * (F.col("y") - F.col("f"))).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("ssr_r"),
    )
    b = ols_slope()
    fit = mom.select(
        "n",
        "ssr_r",
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
        (
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
            - F.pow(F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"), 2)
            / (F.col("n") * (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")))
        ).alias("ssr_u"),
    )
    fstat = ((F.col("ssr_r") - F.col("ssr_u")) / 2.0) / (
        F.col("ssr_u") / (F.col("n") - 2.0)
    )
    return fit.select(
        F.col("n").alias("n_forecasts"),
        F.round("a", 4).alias("mz_intercept"),
        F.round("b", 6).alias("mz_slope"),
        F.round(fstat, 6).alias("mz_f_stat"),
        (fstat > 3.0).alias("reject_rationality"),
    )


@register(
    "q_monetary_unit_sampling",
    oracle="""
    WITH pop AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_extendedprice AS DECIMAL(18,6)) AS v
      FROM lineitem
    ),
    cum AS (
      SELECT l_orderkey, l_linenumber, CAST(v AS DOUBLE) AS value,
             CAST(SUM(v) OVER (ORDER BY l_orderkey, l_linenumber
                               ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cum_hi,
             CAST(SUM(v) OVER (ORDER BY l_orderkey, l_linenumber
                               ROWS UNBOUNDED PRECEDING) - v AS DOUBLE)
               AS cum_lo
      FROM pop
    ),
    tot AS (
      SELECT CAST(SUM(v) AS DOUBLE) AS t,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pop
    ),
    sel AS (
      SELECT c.l_orderkey, c.l_linenumber, c.value,
             FLOOR(c.cum_hi / (t.t / 200.0))
             - FLOOR(c.cum_lo / (t.t / 200.0)) AS hits
      FROM cum c, tot t
    )
    SELECT CAST((SELECT n FROM tot) AS BIGINT) AS population_size,
           CAST(COUNT(*) AS BIGINT) AS n_selected,
           CAST(SUM(hits) AS BIGINT) AS n_hits,
           round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE), 2)
             AS selected_value,
           round(CAST(SUM(CAST(value AS DECIMAL(38,10))) AS DOUBLE)
                 / (SELECT t FROM tot) * 100.0, 4) AS value_coverage_pct
    FROM sel WHERE hits >= 1
    """,
)
def q_monetary_unit_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monetary-unit (dollar-unit) audit sampling with 200 sampling
    intervals: lineitems ordered by key, each selected iff the
    cumulative value crosses a multiple of (total/200) inside it —
    inclusion probability proportional to value, every item larger than
    the interval selected with certainty (the auditor's design for
    substantive testing). Reports selection size, multi-interval hits,
    and the value coverage of the sample.

    Determinism: the cumulative sum runs in exact DECIMAL over a
    total-ordered key; the crossing count is floor arithmetic on
    identical doubles; no randomness (fixed-start systematic design).

    Scale (r6 rewrite): the old total-order prefix window moved EVERY
    row to one task (Spark executes an unpartitioned window in a single
    partition). The prefix sum is now two-level: range-repartition on
    the audit order (parallel per-partition sort), per-partition DECIMAL
    sums (a tiny aggregate) become cumulative offsets, and each row's
    running sum is its partition offset plus the within-partition prefix
    — decimal addition is associative, so every cum_hi/cum_lo is the
    identical exact decimal, hence the identical double. Partition count
    follows the session's shuffle-partition setting. The population
    total/count also fold onto the same materialized stream (one
    lineitem scan instead of two). §2.B window/sampling family [NS],
    guide §2.5.
    """
    li = load(spark, sf_dir, "lineitem")
    # r7: the ad-hoc two-level prefix scaffold moved to the shared
    # distrib.two_level_order helper — same range grid, same per-partition
    # decimal offsets (addition associative ⇒ identical exact decimals),
    # and the population total/count now ride the offset grid's broadcast
    # instead of a separate 1-row cross join.
    cum = two_level_order(
        li.select(
            "l_orderkey", "l_linenumber", dec("l_extendedprice").alias("v")
        ),
        ["l_orderkey", "l_linenumber"],
        sums=[
            {
                "col": "v",
                "acc": "decimal(18,6)",
                "running": "run",
                "total": "tdec",
            }
        ],
        total_count="n",
        project=["v"],
    ).select(
        F.col("v").cast("double").alias("value"),
        F.col("run").cast("double").alias("cum_hi"),
        (F.col("run") - F.col("v")).cast("double").alias("cum_lo"),
        "n",
        F.col("tdec").cast("double").alias("t"),
    )
    sel = cum.select(
        "value",
        "n",
        "t",
        (
            F.floor(F.col("cum_hi") / (F.col("t") / 200.0))
            - F.floor(F.col("cum_lo") / (F.col("t") / 200.0))
        ).alias("hits"),
    )
    return (
        sel.filter(F.col("hits") >= 1)
        .groupBy("n", "t")
        .agg(
            bcount("n_selected"),
            F.sum("hits").cast("bigint").alias("n_hits"),
            F.sum(F.col("value").cast("decimal(38,10)"))
            .cast("double")
            .alias("sv"),
        )
        .select(
            F.col("n").alias("population_size"),
            "n_selected",
            "n_hits",
            F.round("sv", 2).alias("selected_value"),
            F.round(F.col("sv") / F.col("t") * 100.0, 4).alias(
                "value_coverage_pct"
            ),
        )
    )


@register(
    "q_cohens_h",
    oracle="""
    WITH lab AS (
      SELECT CASE WHEN isodow(CAST(l_shipdate AS DATE)) >= 6
                  THEN 1 ELSE 0 END AS we,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem
    ),
    props AS (
      SELECT CAST(SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n1,
             CAST(SUM(CASE WHEN we = 1 THEN ret ELSE 0 END) AS BIGINT)
               AS k1,
             CAST(SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n2,
             CAST(SUM(CASE WHEN we = 0 THEN ret ELSE 0 END) AS BIGINT)
               AS k2
      FROM lab
    )
    SELECT n1 AS n_weekend, n2 AS n_weekday,
           round(CAST(k1 AS DOUBLE) / n1, 6) AS p_weekend,
           round(CAST(k2 AS DOUBLE) / n2, 6) AS p_weekday,
           round(2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / n1))
                 - 2.0 * asin(sqrt(CAST(k2 AS DOUBLE) / n2)), 6)
             AS cohens_h,
           CASE WHEN abs(2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / n1))
                         - 2.0 * asin(sqrt(CAST(k2 AS DOUBLE) / n2)))
                     < 0.2 THEN 'negligible'
                WHEN abs(2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / n1))
                         - 2.0 * asin(sqrt(CAST(k2 AS DOUBLE) / n2)))
                     < 0.5 THEN 'small'
                WHEN abs(2.0 * asin(sqrt(CAST(k1 AS DOUBLE) / n1))
                         - 2.0 * asin(sqrt(CAST(k2 AS DOUBLE) / n2)))
                     < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM props
    """,
)
def q_cohens_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's h for the weekend-vs-weekday return-rate gap:
    h = 2·asin(√p₁) − 2·asin(√p₂), the variance-stabilized effect size
    for two proportions with the standard 0.2/0.5/0.8 magnitude labels
    — reports whether a statistically detectable proportion difference
    is practically MEANINGFUL (the binary-outcome sibling of
    q_cliffs_delta; pairs with q_odds_ratio_ci).

    Determinism: proportions are integer counts divided in double; asin
    and sqrt evaluate on identical doubles (asin is well-conditioned
    away from 1; the round-6 output guard absorbs any last-ulp gap).

    Scale: one narrow map + one 1-row conditional aggregate — a single
    fact pass, no joins. §2.B statistics family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    lab = li.select(
        F.when(
            ((F.dayofweek(F.col("l_shipdate").cast("date")) + 5) % 7) + 1 >= 6,
            1,
        )
        .otherwise(0)
        .alias("we"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    props = lab.agg(
        F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("we") == 1, F.col("ret")).otherwise(0))
        .cast("bigint")
        .alias("k1"),
        F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
        F.sum(F.when(F.col("we") == 0, F.col("ret")).otherwise(0))
        .cast("bigint")
        .alias("k2"),
    )
    p1 = F.col("k1").cast("double") / F.col("n1")
    p2 = F.col("k2").cast("double") / F.col("n2")
    h = 2.0 * F.asin(F.sqrt(p1)) - 2.0 * F.asin(F.sqrt(p2))
    return props.select(
        F.col("n1").alias("n_weekend"),
        F.col("n2").alias("n_weekday"),
        F.round(p1, 6).alias("p_weekend"),
        F.round(p2, 6).alias("p_weekday"),
        F.round(h, 6).alias("cohens_h"),
        F.when(F.abs(h) < 0.2, "negligible")
        .when(F.abs(h) < 0.5, "small")
        .when(F.abs(h) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )
