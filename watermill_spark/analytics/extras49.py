"""Analytics batch 57: OLS residual diagnostics — Durbin–Watson serial
correlation and the Breusch–Pagan heteroscedasticity test on the daily
revenue trend — plus a chi-square goodness-of-fit audit of hash-bucket
uniformity (the statistical gate behind every hash-partition/salting
decision) and the omega ratio on daily revenue returns.

The two diagnostics share one closed-form OLS fit (exact decimal moment
sums -> double algebra), composing the q_ols_daily_trend approach and then
interrogating its residuals — the standard "fit, then check the fit"
workflow.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .registry import load, register
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue

# 1995 daily revenue with a time index, plus the closed-form OLS fit
# (rev ~ a + b*t) from exact decimal moment sums.
_SQL_OLS = """
    daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1
    ),
    idx AS (
      SELECT d, rev, CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t
      FROM daily
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS DOUBLE) AS st,
             CAST(SUM(t * t) AS DOUBLE) AS stt,
             CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(t * rev AS DECIMAL(28,6))) AS DOUBLE) AS sty
      FROM idx
    ),
    fit AS (
      SELECT n,
             (n * sty - st * sy) / (n * stt - st * st) AS b,
             (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n AS a
      FROM m
    ),
    res AS (
      SELECT i.t, i.rev - (f.a + f.b * i.t) AS e
      FROM idx i, fit f
    )
"""


def _spark_ols_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual DataFrame (t, e) of the 1995 daily-revenue OLS trend."""
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
    )
    # checkpointed once (r6): the moment fit and the residual pass both
    # re-derived the rollup (2 orders scans in every consumer's plan);
    # the calendar-bounded 1995 day grid materializes once
    idx = daily.select(
        "d", "rev", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t")
    ).localCheckpoint(eager=True)
    m = idx.agg(
        bcount("n"),
        F.sum("t").cast("double").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("double").alias("stt"),
        F.sum(dec("rev")).cast("double").alias("sy"),
        F.sum((F.col("t") * F.col("rev")).cast("decimal(28,6)"))
        .cast("double")
        .alias("sty"),
    )
    b = (F.col("n") * F.col("sty") - F.col("st") * F.col("sy")) / (
        F.col("n") * F.col("stt") - F.col("st") * F.col("st")
    )
    fit = m.select(F.col("n"), b.alias("b"), ((F.col("sy") - b * F.col("st")) / F.col("n")).alias("a"))
    return idx.crossJoin(F.broadcast(fit)).select(
        "t", (F.col("rev") - (F.col("a") + F.col("b") * F.col("t"))).alias("e")
    )


@register(
    "q_durbin_watson",
    oracle=f"""
    WITH {_SQL_OLS},
    lagd AS (
      SELECT e, lag(e) OVER (ORDER BY t) AS e1 FROM res
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           round(CAST(SUM(CASE WHEN e1 IS NOT NULL
                          THEN CAST((e - e1) * (e - e1) AS DECIMAL(28,6)) END)
                      AS DOUBLE)
                 / CAST(SUM(CAST(e * e AS DECIMAL(28,6))) AS DOUBLE), 6) AS dw,
           CASE WHEN CAST(SUM(CASE WHEN e1 IS NOT NULL
                            THEN CAST((e - e1) * (e - e1) AS DECIMAL(28,6)) END)
                        AS DOUBLE)
                     / CAST(SUM(CAST(e * e AS DECIMAL(28,6))) AS DOUBLE) < 1.5
                THEN 'positive_autocorr'
                WHEN CAST(SUM(CASE WHEN e1 IS NOT NULL
                            THEN CAST((e - e1) * (e - e1) AS DECIMAL(28,6)) END)
                        AS DOUBLE)
                     / CAST(SUM(CAST(e * e AS DECIMAL(28,6))) AS DOUBLE) > 2.5
                THEN 'negative_autocorr' ELSE 'none' END AS verdict
    FROM lagd
    """,
)
def q_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson statistic on the residuals of the 1995 daily-revenue
    OLS trend: DW = Σ(eₜ−eₜ₋₁)² / Σeₜ² with the conventional 1.5/2.5
    verdict bands — the serial-correlation diagnostic that decides whether
    q_ols_daily_trend's standard errors can be trusted (its frequency-domain
    cousin is q_ljung_box on raw autocorrelations).

    Determinism: the OLS fit comes from exact decimal moment sums; residual
    squares are cast DECIMAL(28,6) per row before summation.

    Scale: map-side-combined daily rollup, broadcast 1-row fit, one lag
    window over calendar-bounded rows. §2.B [NS].
    """
    res = _spark_ols_residuals(spark, sf_dir)
    lagd = res.select("e", F.lag("e").over(Window.orderBy("t")).alias("e1"))
    num = (
        F.sum(
            F.when(
                F.col("e1").isNotNull(),
                ((F.col("e") - F.col("e1")) * (F.col("e") - F.col("e1"))).cast(
                    "decimal(28,6)"
                ),
            )
        ).cast("double")
    )
    den = F.sum((F.col("e") * F.col("e")).cast("decimal(28,6)")).cast("double")
    s = lagd.agg(bcount("n_days"), (num / den).alias("dw_raw"))
    return s.select(
        "n_days",
        F.round("dw_raw", 6).alias("dw"),
        F.when(F.col("dw_raw") < 1.5, "positive_autocorr")
        .when(F.col("dw_raw") > 2.5, "negative_autocorr")
        .otherwise("none")
        .alias("verdict"),
    )


@register(
    "q_breusch_pagan",
    oracle=f"""
    WITH {_SQL_OLS},
    sq AS (
      SELECT t, e * e AS e2 FROM res
    ),
    m2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS DOUBLE) AS st,
             CAST(SUM(t * t) AS DOUBLE) AS stt,
             CAST(SUM(CAST(e2 AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(t * e2 AS DECIMAL(38,6))) AS DOUBLE) AS sty,
             CAST(SUM(CAST(e2 * e2 AS DECIMAL(38,6))) AS DOUBLE) AS syy
      FROM sq
    )
    SELECT n AS n_days,
           round((n * sty - st * sy) * (n * sty - st * sy)
                 / ((n * stt - st * st) * (n * syy - sy * sy)), 6) AS r2_aux,
           round(n * ((n * sty - st * sy) * (n * sty - st * sy)
                 / ((n * stt - st * st) * (n * syy - sy * sy))), 6) AS lm_stat,
           CASE WHEN n * ((n * sty - st * sy) * (n * sty - st * sy)
                 / ((n * stt - st * st) * (n * syy - sy * sy))) > 3.841459
                THEN 'heteroscedastic' ELSE 'homoscedastic' END AS verdict
    FROM m2
    """,
)
def q_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan (Koenker LM form) heteroscedasticity test on the 1995
    daily-revenue trend residuals: regress e² on t, LM = n·R²_aux ~ χ²(1),
    cut at the 3.84 critical value — together with q_durbin_watson this
    completes the classical residual-diagnostic pair for
    q_ols_daily_trend.

    Determinism: the auxiliary R² is assembled from exact decimal moment
    sums of (t, e²) — e² products go through DECIMAL(38,6) since e² can
    reach ~1e12 and t·e² another 3 digits.

    Scale: same calendar-bounded shape as q_durbin_watson; the auxiliary
    regression is a second map-side-combined moment pass, no extra shuffle
    beyond the daily rollup. §2.B [NS].
    """
    res = _spark_ols_residuals(spark, sf_dir)
    sq = res.select("t", (F.col("e") * F.col("e")).alias("e2"))
    m2 = sq.agg(
        bcount("n"),
        F.sum("t").cast("double").alias("st"),
        F.sum(F.col("t") * F.col("t")).cast("double").alias("stt"),
        F.sum(dec("e2", "decimal(28,6)")).cast("double").alias("sy"),
        F.sum((F.col("t") * F.col("e2")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sty"),
        F.sum((F.col("e2") * F.col("e2")).cast("decimal(38,6)"))
        .cast("double")
        .alias("syy"),
    )
    sxy = F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
    r2 = (sxy * sxy) / (
        (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m2.select(
        F.col("n").alias("n_days"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(F.col("n") * r2, 6).alias("lm_stat"),
        F.when(F.col("n") * r2 > 3.841459, "heteroscedastic")
        .otherwise("homoscedastic")
        .alias("verdict"),
    )


@register(
    "q_chi2_hash_uniformity",
    oracle=f"""
    WITH buckets AS (
      SELECT {sql_hexval("substr(md5(CAST(user_id AS VARCHAR)), 1, 1)")}
               AS b
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    obs AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS o FROM buckets GROUP BY b
    ),
    tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs)
    SELECT CAST(16 AS BIGINT) AS n_buckets, n AS n_users,
           CAST(MIN(o) AS BIGINT) AS min_bucket,
           CAST(MAX(o) AS BIGINT) AS max_bucket,
           round(SUM((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / 16)
                     * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / 16))
                 / (CAST(n AS DOUBLE) / 16), 6) AS chi2,
           CASE WHEN SUM((CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / 16)
                     * (CAST(o AS DOUBLE) - CAST(n AS DOUBLE) / 16))
                 / (CAST(n AS DOUBLE) / 16) > 24.995790
                THEN 'nonuniform' ELSE 'uniform' END AS verdict
    FROM obs, tot GROUP BY n
    """,
)
def q_chi2_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit for hash-bucket uniformity: md5 first hex
    digit of each distinct user → 16 buckets, χ² = Σ(o−e)²/e against the
    χ²(15) 0.05 critical value 25.0 — the statistical gate behind every
    hash-partitioning, salting, and A/B-split decision this engine makes
    (q_ab_hash_split, q_salted_skew_agg assume exactly this uniformity).

    Determinism: bucket counts are integers; χ² sums 16 fixed-shape double
    terms — Σ over 16 values is reassociation-safe here because each term
    is O(1)-magnitude and the output rounds at 1e-6 with values ~10; the
    heavy statistics stay in exact integer space.

    Scale: distinct + groupBy collapse map-side; 16 rows cross the shuffle.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    buckets = ev.select("user_id").distinct().select(
        hexval(F.substring(F.md5(F.col("user_id").cast("string")), 1, 1)).alias("b")
    )
    # checkpointed once (r6): the total and the chi2 join both re-derived
    # the distinct-user hash (2 events scans in the plan); the 16-row
    # bucket grid materializes once
    obs = buckets.groupBy("b").agg(bcount("o")).localCheckpoint(eager=True)
    tot = obs.agg(F.sum("o").cast("bigint").alias("n"))
    j = obs.crossJoin(F.broadcast(tot))
    e = F.col("n").cast("double") / 16
    chi2 = F.sum((F.col("o").cast("double") - e) * (F.col("o").cast("double") - e) / e)
    s = j.groupBy("n").agg(
        F.min("o").cast("bigint").alias("min_bucket"),
        F.max("o").cast("bigint").alias("max_bucket"),
        chi2.alias("chi2_raw"),
    )
    return s.select(
        F.lit(16).cast("bigint").alias("n_buckets"),
        F.col("n").alias("n_users"),
        "min_bucket",
        "max_bucket",
        F.round("chi2_raw", 6).alias("chi2"),
        F.when(F.col("chi2_raw") > 24.995790, "nonuniform")
        .otherwise("uniform")
        .alias("verdict"),
    )


@register(
    "q_omega_ratio",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    ret AS (
      SELECT rev / lag(rev) OVER (ORDER BY d) - 1.0 AS r FROM daily
    )
    SELECT CAST(COUNT(r) AS BIGINT) AS n_returns,
           CAST(COUNT(*) FILTER (WHERE r > 0) AS BIGINT) AS n_gains,
           CAST(COUNT(*) FILTER (WHERE r < 0) AS BIGINT) AS n_losses,
           round(CAST(SUM(CASE WHEN r > 0
                          THEN CAST(r AS DECIMAL(28,12)) END) AS DOUBLE), 6)
             AS sum_gains,
           round(CAST(SUM(CASE WHEN r < 0
                          THEN CAST(-r AS DECIMAL(28,12)) END) AS DOUBLE), 6)
             AS sum_losses,
           round(CAST(SUM(CASE WHEN r > 0
                          THEN CAST(r AS DECIMAL(28,12)) END) AS DOUBLE)
                 / CAST(SUM(CASE WHEN r < 0
                            THEN CAST(-r AS DECIMAL(28,12)) END) AS DOUBLE), 6)
             AS omega_0
    FROM ret WHERE r IS NOT NULL
    """,
)
def q_omega_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Omega ratio at threshold 0 on day-over-day revenue returns: the
    probability-weighted sum of gains over sum of losses — the whole-
    distribution risk measure completing the tail-risk set (q_sharpe_ratio
    uses only the first two moments, q_var_historical /
    q_cvar_expected_shortfall only the tail; omega uses everything).

    Determinism: returns are ratios of exact decimal sums; gains/losses are
    split by exact comparisons and summed through DECIMAL(28,12).

    Scale: daily rollup map-side combines; one lag window over
    calendar-bounded rows; final agg is 1 row. §2.B [NS].
    """
    daily = daily_order_revenue(spark, sf_dir)
    ret = daily.select(
        (F.col("rev") / F.lag("rev").over(Window.orderBy("d")) - 1.0).alias("r")
    ).filter(F.col("r").isNotNull())
    gains = F.sum(
        F.when(F.col("r") > 0, F.col("r").cast("decimal(28,12)"))
    ).cast("double")
    losses = F.sum(
        F.when(F.col("r") < 0, (-F.col("r")).cast("decimal(28,12)"))
    ).cast("double")
    return ret.agg(
        F.count("r").cast("bigint").alias("n_returns"),
        F.count_if(F.col("r") > 0).cast("bigint").alias("n_gains"),
        F.count_if(F.col("r") < 0).cast("bigint").alias("n_losses"),
        F.round(gains, 6).alias("sum_gains"),
        F.round(losses, 6).alias("sum_losses"),
        F.round(gains / losses, 6).alias("omega_0"),
    )
