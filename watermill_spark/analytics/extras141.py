"""Analytics batch 149: Theil's U2 forecast-quality ratio, Allan
variance stability profile, and the energy-distance two-sample test.

Theil's U2 is the first gate every forecast must clear (does it beat
"tomorrow equals today"?); Allan variance is the clock-stability /
sensor-drift diagnostic (which averaging window minimizes variance?);
energy distance is the modern nonparametric two-sample test that sees
ANY distribution difference (location, scale, shape), complementing
q_ks_two_sample / q_mannwhitney_u / q_wasserstein_1d.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/statistics families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import register
from .relations import DAILY_REVENUE_SQL, daily_revenue

_DAILY_SQL = f"""
    daily AS ({DAILY_REVENUE_SQL}),
    idx AS (
      SELECT d, y,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS x
      FROM daily
    )
"""


def _idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(spark, sf_dir)
    return daily.select(
        "d",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("double").alias("x"),
    )


@register(
    "q_theil_u_forecast",
    oracle=f"""
    WITH {_DAILY_SQL},
    fc AS (
      SELECT y,
             LAG(y) OVER (ORDER BY x) AS yl,
             LAG(y) OVER (ORDER BY x)
               + (LAG(y) OVER (ORDER BY x)
                  - FIRST_VALUE(y) OVER (ORDER BY x))
                 / NULLIF(x - 2.0, 0.0) AS yhat
      FROM idx
    ),
    terms AS (
      SELECT ((yhat - y) / yl) AS fe, ((y - yl) / yl) AS ne
      FROM fc WHERE yl IS NOT NULL AND yhat IS NOT NULL AND yl <> 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_forecasts,
           round(sqrt(CAST(SUM(CAST(fe * fe AS DECIMAL(38,15)))
                           AS DOUBLE))
                 / sqrt(CAST(SUM(CAST(ne * ne AS DECIMAL(38,15)))
                             AS DOUBLE)), 6) AS theil_u2,
           round(sqrt(CAST(SUM(CAST(fe * fe AS DECIMAL(38,15)))
                           AS DOUBLE) / COUNT(*)), 6) AS rms_rel_err
    FROM terms
    """,
)
def q_theil_u_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U2 forecast-quality ratio for a one-step drift forecast
    of daily revenue: ŷ_t = y_{t-1} + (y_{t-1} − y_1)/(t−2); U2 is the
    RMS relative forecast error divided by the RMS relative error of
    the no-change (naive) forecast — U2 < 1 means the drift model
    actually beats "tomorrow equals today", the first sanity gate every
    forecast must clear before anything fancier ships (companion to
    q_walkforward_forecast_eval / q_seasonal_naive_backtest).

    Determinism: forecasts are lag/first_value window algebra over the
    rn-ordered bounded grid; squared relative errors accumulate through
    DECIMAL(38,15); the ratio divides in double.

    Scale: one fact rollup to the day grid; two ordered windows on the
    bounded grid; one 1-row aggregate. No joins at all. §2.B forecast
    family [NS].
    """
    idx = _idx(spark, sf_dir)
    w = Window.orderBy("x")
    yl = F.lag("y").over(w)
    fc = idx.select(
        "y",
        yl.alias("yl"),
        (
            yl
            + (yl - F.first("y").over(w))
            / F.nullif(F.col("x") - 2.0, F.lit(0.0))
        ).alias("yhat"),
    )
    terms = fc.filter(
        F.col("yl").isNotNull()
        & F.col("yhat").isNotNull()
        & (F.col("yl") != 0)
    ).select(
        ((F.col("yhat") - F.col("y")) / F.col("yl")).alias("fe"),
        ((F.col("y") - F.col("yl")) / F.col("yl")).alias("ne"),
    )
    sfe = F.sum((F.col("fe") * F.col("fe")).cast(D15)).cast("double")
    sne = F.sum((F.col("ne") * F.col("ne")).cast(D15)).cast("double")
    return terms.agg(
        bcount("n_forecasts"),
        F.round(F.sqrt(sfe) / F.sqrt(sne), 6).alias("theil_u2"),
        F.round(F.sqrt(sfe / F.count(F.lit(1))), 6).alias("rms_rel_err"),
    )


@register(
    "q_allan_variance",
    oracle=f"""
    WITH {_DAILY_SQL},
    taus AS (SELECT CAST(t AS BIGINT) AS tau
             FROM (VALUES (1), (2), (4), (8), (16)) AS v(t)),
    blocks AS (
      SELECT t.tau,
             CAST(FLOOR((i.x - 1) / t.tau) AS BIGINT) AS blk,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(i.y AS DECIMAL(38,15))) AS DOUBLE) AS s
      FROM idx i, taus t
      GROUP BY 1, 2
    ),
    full_blocks AS (
      SELECT tau, blk, s / cnt AS m
      FROM blocks WHERE cnt = tau
    ),
    diffs AS (
      SELECT tau,
             m - LAG(m) OVER (PARTITION BY tau ORDER BY blk) AS dm
      FROM full_blocks
    )
    SELECT tau,
           CAST(COUNT(dm) + 1 AS BIGINT) AS m_blocks,
           round(CAST(SUM(CAST(dm * dm AS DECIMAL(38,10))) AS DOUBLE)
                 / (2.0 * COUNT(dm)), 4) AS avar,
           round(sqrt(CAST(SUM(CAST(dm * dm AS DECIMAL(38,10))) AS DOUBLE)
                      / (2.0 * COUNT(dm))), 6) AS adev
    FROM diffs
    GROUP BY 1 ORDER BY 1
    """,
)
def q_allan_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Allan variance of daily revenue at averaging windows tau = 1, 2,
    4, 8, 16 days: AVAR(tau) = Σ(m̄_{i+1} − m̄_i)² / (2(M−1)) over
    consecutive full-block means — the stability profile that separates
    white noise (slope −1) from random-walk drift (slope +1) and finds
    the optimal averaging horizon, the time-series hygiene complement
    to q_hurst_rs / q_variogram_daily.

    Determinism: block ids are integer floor arithmetic on the row
    index; block means are exact decimal sums / exact counts; squared
    diffs accumulate through DECIMAL.

    Scale: the 5-row tau dimension broadcast onto the bounded day grid
    (whitelisted); everything downstream lives on the (tau, block)
    grid. §2.B window family [NS].
    """
    idx = _idx(spark, sf_dir)
    taus = spark.createDataFrame(
        [(1,), (2,), (4,), (8,), (16,)], "tau long"
    )
    blocks = (
        idx.crossJoin(F.broadcast(taus))
        .groupBy(
            "tau",
            F.floor((F.col("x") - 1) / F.col("tau")).cast("bigint").alias("blk"),
        )
        .agg(
            bcount("cnt"),
            F.sum(F.col("y").cast(D15)).cast("double").alias("s"),
        )
        .filter(F.col("cnt") == F.col("tau"))
        .select("tau", "blk", (F.col("s") / F.col("cnt")).alias("m"))
    )
    w = Window.partitionBy("tau").orderBy("blk")
    diffs = blocks.select(
        "tau", (F.col("m") - F.lag("m").over(w)).alias("dm")
    )
    ss = F.sum((F.col("dm") * F.col("dm")).cast("decimal(38,10)")).cast(
        "double"
    )
    return (
        diffs.groupBy("tau")
        .agg(
            (F.count("dm") + 1).cast("bigint").alias("m_blocks"),
            F.round(ss / (2.0 * F.count("dm")), 4).alias("avar"),
            F.round(F.sqrt(ss / (2.0 * F.count("dm"))), 6).alias("adev"),
        )
        .orderBy("tau")
    )


@register(
    "q_energy_distance",
    oracle=f"""
    WITH {_DAILY_SQL},
    lab AS (
      SELECT y, CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS we FROM daily
    ),
    pairs AS (
      SELECT a.we AS wa, b.we AS wb, abs(a.y - b.y) AS ad
      FROM lab a, lab b
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN wa = 1 AND wb = 0
                 THEN CAST(ad AS DECIMAL(38,10)) END) AS DOUBLE) AS sxy,
        CAST(SUM(CASE WHEN wa = 1 AND wb = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS nxy,
        CAST(SUM(CASE WHEN wa = 1 AND wb = 1
                 THEN CAST(ad AS DECIMAL(38,10)) END) AS DOUBLE) AS sxx,
        CAST(SUM(CASE WHEN wa = 1 AND wb = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS nxx,
        CAST(SUM(CASE WHEN wa = 0 AND wb = 0
                 THEN CAST(ad AS DECIMAL(38,10)) END) AS DOUBLE) AS syy,
        CAST(SUM(CASE WHEN wa = 0 AND wb = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS nyy
      FROM pairs
    ),
    cnts AS (
      SELECT CAST(SUM(we) AS BIGINT) AS nx,
             CAST(SUM(1 - we) AS BIGINT) AS ny
      FROM lab
    )
    SELECT c.nx AS n_weekend, c.ny AS n_weekday,
           round(2.0 * (a.sxy / a.nxy) - a.sxx / a.nxx - a.syy / a.nyy, 4)
             AS energy_dist,
           round((CAST(c.nx AS DOUBLE) * c.ny / (c.nx + c.ny))
                 * (2.0 * (a.sxy / a.nxy) - a.sxx / a.nxx - a.syy / a.nyy),
                 4) AS test_stat
    FROM agg a, cnts c
    """,
)
def q_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Energy-distance two-sample test, weekend vs weekday daily
    revenue: E = 2·E|X−Y| − E|X−X'| − E|Y−Y'| with expectations over
    all ordered pairs (within-sample pairs include i=j, the V-statistic
    convention — identical on both engines), and the scaled statistic
    (n·m/(n+m))·E — sensitive to ANY distribution difference, the
    all-purpose complement to q_ks_two_sample / q_wasserstein_1d.

    Determinism: the pair expansion is the bounded day grid squared;
    |Δ| sums accumulate through DECIMAL; means divide in double.

    Scale: the grid self-product is ~2.4k² = 6M cells regardless of SF
    (facts collapse to the calendar first) — a bounded-grid quadratic,
    whitelisted like the Hampel/DFA family; never the fact table
    squared. §2.B statistics family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    # checkpointed once (r6): both pair sides and the group counts each
    # re-derived the fact rollup (3 lineitem scans in the plan); the
    # calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    lab = daily.select(
        "y",
        F.when(((F.dayofweek("d") + 5) % 7) + 1 >= 6, 1).otherwise(0).alias("we"),
    )
    b = lab.select(F.col("y").alias("yb"), F.col("we").alias("wb"))
    pairs = lab.crossJoin(F.broadcast(b)).select(
        F.col("we").alias("wa"),
        "wb",
        F.abs(F.col("y") - F.col("yb")).alias("ad"),
    )

    def seg(wa: int, wb: int, s: str, n: str):
        cond = (F.col("wa") == wa) & (F.col("wb") == wb)
        return [
            F.sum(F.when(cond, F.col("ad").cast("decimal(38,10)")))
            .cast("double")
            .alias(s),
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint").alias(n),
        ]

    agg = pairs.agg(
        *seg(1, 0, "sxy", "nxy"), *seg(1, 1, "sxx", "nxx"),
        *seg(0, 0, "syy", "nyy")
    )
    cnts = lab.agg(
        F.sum("we").cast("bigint").alias("nx"),
        F.sum(1 - F.col("we")).cast("bigint").alias("ny"),
    )
    e = (
        2.0 * (F.col("sxy") / F.col("nxy"))
        - F.col("sxx") / F.col("nxx")
        - F.col("syy") / F.col("nyy")
    )
    return agg.crossJoin(F.broadcast(cnts)).select(
        F.col("nx").alias("n_weekend"),
        F.col("ny").alias("n_weekday"),
        F.round(e, 4).alias("energy_dist"),
        F.round(
            (F.col("nx").cast("double") * F.col("ny") / (F.col("nx") + F.col("ny")))
            * e,
            4,
        ).alias("test_stat"),
    )
