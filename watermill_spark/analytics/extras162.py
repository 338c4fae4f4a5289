"""Analytics batch 170: KPSS stationarity test, Engle-Granger
cointegration, and the extremal index.

The unit-root/cointegration family was the missing wing of the
time-series shelf: q_mann_kendall detects trend and q_hurst_rs long
memory, but nothing answered "is this series stationary at all?"
(KPSS) or "do these two series share a common stochastic trend?"
(Engle-Granger — the test that separates genuinely-related series from
spurious regressions). The extremal index extends the EVT pair
(q_gumbel_block_maxima, q_peak_over_threshold) with the clustering
question: do extreme days arrive alone or in runs? (1/θ is the mean
cluster size — it changes capacity planning entirely.)

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/statistics families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, OLS_SLOPE_SQL, bcount, ols_moments, ols_slope, sql_ols_moments
from .registry import register
from .relations import (
    DAILY_CLICK_PURCHASE_SQL,
    DAILY_REVENUE_SQL,
    daily_click_purchase,
    daily_revenue,
)

_KPSS_L = 12

_DAILY_SQL = f"""
    daily AS ({DAILY_REVENUE_SQL}),
    idx AS (
      SELECT y, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS rn
      FROM daily
    )
"""


def _idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = daily_revenue(spark, sf_dir)
    # checkpointed once (r6): every consumer (kpss's partial sums vs the
    # level fit, extremal_index's threshold → exceedance → gap chain)
    # re-referenced the indexed series 4-5 times, re-deriving the fact
    # rollup each time; the calendar-bounded day grid materializes once
    return daily.select(
        "y", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("rn")
    ).localCheckpoint(eager=True)


@register(
    "q_kpss_stationarity",
    oracle=f"""
    WITH {_DAILY_SQL},
    mu AS (
      SELECT CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
               AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM idx
    ),
    e AS (SELECT i.rn, i.y - m.m AS e, m.n FROM idx i, mu m),
    s AS (
      SELECT rn, n,
             CAST(SUM(CAST(e AS DECIMAL(38,10)))
                  OVER (ORDER BY rn ROWS UNBOUNDED PRECEDING)
                  AS DOUBLE) AS st,
             e
      FROM e
    ),
    gam0 AS (
      SELECT CAST(SUM(CAST(e * e AS DECIMAL(38,10))) AS DOUBLE)
             / MAX(n) AS g0
      FROM s
    ),
    lags AS (SELECT CAST(l AS BIGINT) AS lag
             FROM generate_series(1, {_KPSS_L}) AS t(l)),
    gaml AS (
      SELECT g.lag,
             CAST(SUM(CAST(a.e * b.e AS DECIMAL(38,10))) AS DOUBLE)
             / MAX(a.n) AS gl
      FROM lags g
      JOIN s a ON TRUE
      JOIN s b ON b.rn = a.rn - g.lag
      GROUP BY 1
    ),
    lrv AS (
      SELECT (SELECT g0 FROM gam0)
             + 2.0 * CAST(SUM(CAST((1.0 - lag / ({_KPSS_L} + 1.0)) * gl
                                   AS DECIMAL(38,15))) AS DOUBLE)
               AS s2
      FROM gaml
    )
    SELECT MAX(s.n) AS n_days,
           round((SELECT s2 FROM lrv), 4) AS long_run_var,
           round(CAST(SUM(CAST(s.st * s.st AS DECIMAL(38,10)))
                      AS DOUBLE)
                 / (MAX(s.n) * MAX(s.n) * (SELECT s2 FROM lrv)), 6)
             AS kpss_stat,
           CAST(CAST(SUM(CAST(s.st * s.st AS DECIMAL(38,10))) AS DOUBLE)
                / (MAX(s.n) * MAX(s.n) * (SELECT s2 FROM lrv)) > 0.463
                AS BOOLEAN) AS reject_stationarity
    FROM s
    """,
)
def q_kpss_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KPSS level-stationarity test on daily revenue: partial sums of
    demeaned values against the Bartlett-window long-run variance
    (L = 12 lags), statistic Σ S_t²/(n²·σ̂²_LR) vs the 0.463 5%%
    critical value — rejection means the series wanders (unit root /
    structural drift) and every level-based forecast in the registry
    needs differencing first. The stationarity gate the trend tests
    (q_mann_kendall, q_ols_daily_trend) implicitly assume.

    Determinism: partial sums, autocovariances, and the statistic all
    accumulate through DECIMAL; the lag alignment is an integer rn
    equi-join.

    Scale: facts collapse to the day grid; the 12-row lag dimension
    broadcast-joins the grid (the q_ccf_lead_lag shape). §2.B window
    family [NS].
    """
    idx = _idx(spark, sf_dir)
    mu = idx.agg(
        (F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "m"
        ),
        bcount("n"),
    )
    e = idx.crossJoin(F.broadcast(mu)).select(
        "rn", (F.col("y") - F.col("m")).alias("e"), "n"
    )
    w = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    s = e.select(
        "rn",
        "n",
        "e",
        F.sum(F.col("e").cast("decimal(38,10)")).over(w).cast("double").alias(
            "st"
        ),
    ).localCheckpoint(eager=True)
    gam0 = s.agg(
        (
            F.sum((F.col("e") * F.col("e")).cast("decimal(38,10)")).cast(
                "double"
            )
            / F.max("n")
        ).alias("g0")
    )
    lags = spark.range(1, _KPSS_L + 1).select(
        F.col("id").cast("bigint").alias("lag")
    )
    b = s.select(F.col("rn").alias("rnb"), F.col("e").alias("eb"))
    gaml = (
        s.crossJoin(F.broadcast(lags))
        .join(b, F.col("rnb") == F.col("rn") - F.col("lag"))
        .groupBy("lag")
        .agg(
            (
                F.sum((F.col("e") * F.col("eb")).cast("decimal(38,10)")).cast(
                    "double"
                )
                / F.max("n")
            ).alias("gl")
        )
    )
    lrv = gaml.agg(
        F.sum(
            ((1.0 - F.col("lag") / (_KPSS_L + 1.0)) * F.col("gl")).cast(D15)
        )
        .cast("double")
        .alias("wsum")
    ).crossJoin(F.broadcast(gam0)).select(
        (F.col("g0") + 2.0 * F.col("wsum")).alias("s2")
    )
    num = s.agg(
        F.max("n").alias("n_days"),
        F.sum((F.col("st") * F.col("st")).cast("decimal(38,10)"))
        .cast("double")
        .alias("ssq"),
    )
    stat = F.col("ssq") / (F.col("n_days") * F.col("n_days") * F.col("s2"))
    return num.crossJoin(F.broadcast(lrv)).select(
        "n_days",
        F.round("s2", 4).alias("long_run_var"),
        F.round(stat, 6).alias("kpss_stat"),
        (stat > 0.463).alias("reject_stationarity"),
    )


@register(
    "q_engle_granger_coint",
    oracle=f"""
    WITH daily AS ({DAILY_CLICK_PURCHASE_SQL}),
    mom AS (
      SELECT {sql_ols_moments()}
      FROM daily
    ),
    fit AS (
      SELECT n,
             {OLS_SLOPE_SQL} AS b,
             (sy - {OLS_SLOPE_SQL} * sx) / n AS a
      FROM mom
    ),
    resid AS (
      SELECT dy.d, dy.y - f.a - f.b * dy.x AS u
      FROM daily dy, fit f
    ),
    lagged AS (
      SELECT u, LAG(u) OVER (ORDER BY d) AS ul FROM resid
    ),
    du AS (
      SELECT u - ul AS duv, ul FROM lagged WHERE ul IS NOT NULL
    ),
    rho AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(ul * duv AS DECIMAL(38,10))) AS DOUBLE)
             / CAST(SUM(CAST(ul * ul AS DECIMAL(38,10))) AS DOUBLE)
               AS r,
             CAST(SUM(CAST(ul * ul AS DECIMAL(38,10))) AS DOUBLE) AS suu
      FROM du
    ),
    sse AS (
      SELECT r.m, r.r, r.suu,
             CAST(SUM(CAST((d.duv - r.r * d.ul) * (d.duv - r.r * d.ul)
                           AS DECIMAL(38,10))) AS DOUBLE) AS se2
      FROM du d, rho r GROUP BY 1, 2, 3
    )
    SELECT (SELECT n FROM fit) AS n_days,
           round((SELECT b FROM fit), 6) AS coint_beta,
           round(r, 6) AS resid_ar_coef,
           round(r / sqrt((se2 / (m - 1.0)) / suu), 6) AS eg_t_stat,
           CAST(r / sqrt((se2 / (m - 1.0)) / suu) < -3.34 AS BOOLEAN)
             AS cointegrated_5pct
    FROM sse
    """,
)
def q_engle_granger_coint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration test between daily click value and
    purchase value: OLS of y on x, then the Dickey-Fuller regression
    Δu_t = ρ·u_{t-1} on the residuals — t(ρ) below the −3.34 5%
    critical value means the two series share a common stochastic
    trend (a genuine long-run equilibrium), above it the level
    regression is spurious. The gate before trusting any level-on-level
    relationship (q_granger_causality answers lead/lag; this answers
    whether the levels belong together at all).

    Determinism: both regressions are closed-form ratios of
    decimal-exact moments; the lag runs over the rn-ordered grid.

    Scale: facts collapse to the day grid; one 1-row fit broadcast back
    (whitelisted), one lag window, two 1-row aggregates. §2.B
    regression family [NS].
    """
    daily = daily_click_purchase(spark, sf_dir)
    # checkpointed once (r6): the level fit, residual pass, and both
    # Dickey-Fuller aggregates each re-derived the fact rollup (6 events
    # scans in the plan); the calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    mom = daily.agg(
        *ols_moments(),
    )
    b = ols_slope()
    fit = mom.select(
        "n", b.alias("b"), ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a")
    )
    resid = daily.crossJoin(F.broadcast(fit)).select(
        "d",
        (F.col("y") - F.col("a") - F.col("b") * F.col("x")).alias("u"),
        "n",
        F.col("b").alias("beta"),
    )
    lagged = resid.select(
        "n",
        "beta",
        "u",
        F.lag("u").over(Window.orderBy("d")).alias("ul"),
    ).filter(F.col("ul").isNotNull())
    du = lagged.select(
        "n", "beta", (F.col("u") - F.col("ul")).alias("duv"), "ul"
    )
    rho = du.agg(
        F.max("n").alias("n"),
        F.max("beta").alias("beta"),
        bcount("m"),
        (
            F.sum((F.col("ul") * F.col("duv")).cast("decimal(38,10)")).cast(
                "double"
            )
            / F.sum((F.col("ul") * F.col("ul")).cast("decimal(38,10)")).cast(
                "double"
            )
        ).alias("r"),
        F.sum((F.col("ul") * F.col("ul")).cast("decimal(38,10)"))
        .cast("double")
        .alias("suu"),
    )
    rr = du.crossJoin(F.broadcast(rho.select("r"))).agg(
        F.sum(
            (
                (F.col("duv") - F.col("r") * F.col("ul"))
                * (F.col("duv") - F.col("r") * F.col("ul"))
            ).cast("decimal(38,10)")
        )
        .cast("double")
        .alias("se2")
    )
    tstat = F.col("r") / F.sqrt(
        (F.col("se2") / (F.col("m") - 1.0)) / F.col("suu")
    )
    return rho.crossJoin(F.broadcast(rr)).select(
        F.col("n").alias("n_days"),
        F.round("beta", 6).alias("coint_beta"),
        F.round("r", 6).alias("resid_ar_coef"),
        F.round(tstat, 6).alias("eg_t_stat"),
        (tstat < -3.34).alias("cointegrated_5pct"),
    )


@register(
    "q_extremal_index",
    oracle=f"""
    WITH {_DAILY_SQL},
    thr AS (
      SELECT y AS u
      FROM (SELECT y, ROW_NUMBER() OVER (ORDER BY y, rn) AS r,
                   COUNT(*) OVER () AS n
            FROM idx)
      WHERE r = CAST(FLOOR(0.9 * n) AS BIGINT)
    ),
    exc AS (
      SELECT i.rn,
             ROW_NUMBER() OVER (ORDER BY i.rn) AS k
      FROM idx i, thr t WHERE i.y > t.u
    ),
    gaps AS (
      SELECT rn - LAG(rn) OVER (ORDER BY k) AS t
      FROM exc
    ),
    g AS (SELECT CAST(t AS DOUBLE) AS t FROM gaps WHERE t IS NOT NULL)
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM exc) AS n_exceedances,
           round((SELECT u FROM thr), 4) AS threshold,
           round(LEAST(1.0,
                 2.0 * pow(CAST(SUM(CAST(t - 1.0 AS DECIMAL(38,10)))
                                AS DOUBLE), 2)
                 / (COUNT(*)
                    * CAST(SUM(CAST((t - 1.0) * (t - 2.0)
                                    AS DECIMAL(38,10))) AS DOUBLE))),
                 6) AS extremal_index,
           round(1.0 / LEAST(1.0,
                 2.0 * pow(CAST(SUM(CAST(t - 1.0 AS DECIMAL(38,10)))
                                AS DOUBLE), 2)
                 / (COUNT(*)
                    * CAST(SUM(CAST((t - 1.0) * (t - 2.0)
                                    AS DECIMAL(38,10))) AS DOUBLE))),
                 4) AS mean_cluster_size
    FROM g
    """,
)
def q_extremal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extremal index of daily revenue via the Ferro-Segers intervals
    estimator: exceedances over the exact 90th-percentile threshold,
    interexceedance gaps T_i, θ̂ = min(1, 2(Σ(T_i−1))²/(N·Σ(T_i−1)
    (T_i−2))) — θ = 1 means extreme days arrive independently, θ < 1
    means they cluster with mean cluster size 1/θ (the EVT clustering
    question q_gumbel_block_maxima and q_peak_over_threshold leave
    open, and the difference between "one bad day" and "a bad week"
    for capacity planning).

    Determinism: the threshold is an exact rank selection; gaps are
    integer rn differences; the estimator's sums route through
    DECIMAL.

    Scale: facts collapse to the day grid; exceedances and gaps are
    two windows on the bounded grid. §2.B statistics family [NS].
    """
    idx = _idx(spark, sf_dir)
    ranked = idx.select(
        "y",
        "rn",
        F.row_number().over(Window.orderBy("y", "rn")).alias("r"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    thr = ranked.filter(
        F.col("r") == F.floor(0.9 * F.col("n")).cast("bigint")
    ).select(F.col("y").alias("u"))
    exc = (
        idx.crossJoin(F.broadcast(thr))
        .filter(F.col("y") > F.col("u"))
        .select("rn", F.row_number().over(Window.orderBy("rn")).alias("k"))
    )
    gaps = exc.select(
        (F.col("rn") - F.lag("rn").over(Window.orderBy("k")))
        .cast("double")
        .alias("t")
    ).filter(F.col("t").isNotNull())
    nexc = exc.agg(bcount("n_exceedances"))
    s1 = F.sum((F.col("t") - 1.0).cast("decimal(38,10)")).cast("double")
    s2 = F.sum(((F.col("t") - 1.0) * (F.col("t") - 2.0)).cast("decimal(38,10)")).cast(
        "double"
    )
    theta = F.least(
        F.lit(1.0), 2.0 * F.pow(s1, 2) / (F.count(F.lit(1)) * s2)
    )
    return (
        gaps.agg(
            F.round(theta, 6).alias("extremal_index"),
            F.round(1.0 / theta, 4).alias("mean_cluster_size"),
        )
        .crossJoin(F.broadcast(nexc))
        .crossJoin(F.broadcast(thr.select(F.round("u", 4).alias("threshold"))))
        .select(
            "n_exceedances", "threshold", "extremal_index",
            "mean_cluster_size",
        )
    )
