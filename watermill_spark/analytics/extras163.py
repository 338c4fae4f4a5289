"""Analytics batch 171: augmented Dickey-Fuller test, bivariate VAR(1),
and a differential-privacy sensitivity audit.

ADF is KPSS's complementary unit-root test (run both: KPSS rejects
stationarity, ADF fails to reject a unit root → difference the
series); the VAR(1) is the smallest multivariate dynamics model — its
cross-coefficients quantify the click↔purchase feedback that
q_granger_causality only tests for. Both solve their 3-parameter OLS
exactly by Cramer's rule over decimal-exact moment matrices — no
iterative fitting. The DP audit computes the per-user sensitivity of
count and sum queries per event type — the Δf that calibrates Laplace/
Gaussian noise, and the clipping bound that keeps it finite (the
privacy-engineering companion to q_k_anonymity / q_l_diversity_entropy
/ q_t_closeness).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B regression/aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register
from .relations import DAILY_CLICK_PURCHASE_SQL, daily_click_purchase

# 3x3 Cramer determinants for y ~ [1, u, v], as f-string templates over
# moment column names (identical expression text on both engines).
_DET_G = (
    "({n} * ({suu} * {svv} - {suv} * {suv})"
    " - {su} * ({su} * {svv} - {suv} * {sv})"
    " + {sv} * ({su} * {suv} - {suu} * {sv}))"
)
_DET_BU = (
    "({n} * ({suy} * {svv} - {suv} * {svy})"
    " - {sy} * ({su} * {svv} - {suv} * {sv})"
    " + {sv} * ({su} * {svy} - {suy} * {sv}))"
)
_DET_BV = (
    "({n} * ({suu} * {svy} - {suy} * {suv})"
    " - {su} * ({su} * {svy} - {suy} * {sv})"
    " + {sy} * ({su} * {suv} - {suu} * {sv}))"
)
_DET_A = (
    "({sy} * ({suu} * {svv} - {suv} * {suv})"
    " - {su} * ({suy} * {svv} - {suv} * {svy})"
    " + {sv} * ({suy} * {suv} - {suu} * {svy}))"
)

_COLS = dict(
    n="n", su="su", sv="sv", sy="sy", suu="suu", svv="svv", suv="suv",
    suy="suy", svy="svy",
)


def _mom3(df: DataFrame) -> DataFrame:
    """1-row decimal-exact moments for the 3-parameter regression
    y ~ [1, u, v]."""
    c = lambda e, t="decimal(38,10)": F.sum(e.cast(t)).cast("double")  # noqa: E731
    u, v, y = F.col("u"), F.col("v"), F.col("y")
    return df.agg(
        bcount("n"),
        c(u, D15).alias("su"),
        c(v, D15).alias("sv"),
        c(y, D15).alias("sy"),
        c(u * u).alias("suu"),
        c(v * v).alias("svv"),
        c(u * v).alias("suv"),
        c(u * y).alias("suy"),
        c(v * y).alias("svy"),
    )


def _sql_mom3(src: str) -> str:
    return f"""
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(u AS DECIMAL(38,15))) AS DOUBLE) AS su,
             CAST(SUM(CAST(v AS DECIMAL(38,15))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(u * u AS DECIMAL(38,10))) AS DOUBLE) AS suu,
             CAST(SUM(CAST(v * v AS DECIMAL(38,10))) AS DOUBLE) AS svv,
             CAST(SUM(CAST(u * v AS DECIMAL(38,10))) AS DOUBLE) AS suv,
             CAST(SUM(CAST(u * y AS DECIMAL(38,10))) AS DOUBLE) AS suy,
             CAST(SUM(CAST(v * y AS DECIMAL(38,10))) AS DOUBLE) AS svy
      FROM {src}
    """


def _cramer_cols():
    """Spark Column expressions mirroring the SQL determinant text."""
    n, su, sv, sy = (F.col(x) for x in ("n", "su", "sv", "sy"))
    suu, svv, suv, suy, svy = (
        F.col(x) for x in ("suu", "svv", "suv", "suy", "svy")
    )
    det_g = (
        n * (suu * svv - suv * suv)
        - su * (su * svv - suv * sv)
        + sv * (su * suv - suu * sv)
    )
    det_bu = (
        n * (suy * svv - suv * svy)
        - sy * (su * svv - suv * sv)
        + sv * (su * svy - suy * sv)
    )
    det_bv = (
        n * (suu * svy - suy * suv)
        - su * (su * svy - suy * sv)
        + sy * (su * suv - suu * sv)
    )
    det_a = (
        sy * (suu * svv - suv * suv)
        - su * (suy * svv - suv * svy)
        + sv * (suy * suv - suu * svy)
    )
    return det_g, det_a, det_bu, det_bv


@register(
    "q_adf_test",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y0
      FROM lineitem GROUP BY 1
    ),
    lagged AS (
      SELECT y0, LAG(y0) OVER (ORDER BY d) AS y1,
             LAG(y0, 2) OVER (ORDER BY d) AS y2
      FROM daily
    ),
    pts AS (
      SELECT y0 - y1 AS y, y1 AS u, y1 - y2 AS v
      FROM lagged WHERE y2 IS NOT NULL
    ),
    m AS ({_sql_mom3("pts")}),
    fit AS (
      SELECT n,
             {_DET_BU.format(**_COLS)} / {_DET_G.format(**_COLS)} AS rho,
             {_DET_BV.format(**_COLS)} / {_DET_G.format(**_COLS)} AS phi,
             {_DET_A.format(**_COLS)} / {_DET_G.format(**_COLS)} AS a,
             (n * svv - sv * sv) / {_DET_G.format(**_COLS)} AS inv22
      FROM m
    ),
    ssr AS (
      SELECT f.n, f.rho, f.inv22,
             CAST(SUM(CAST((p.y - f.a - f.rho * p.u - f.phi * p.v)
                           * (p.y - f.a - f.rho * p.u - f.phi * p.v)
                           AS DECIMAL(38,10))) AS DOUBLE) AS sse
      FROM pts p, fit f GROUP BY 1, 2, 3
    )
    SELECT n AS n_obs,
           round(rho, 6) AS adf_rho,
           round(rho / sqrt(sse / (n - 3.0) * inv22), 6) AS adf_t,
           CAST(rho / sqrt(sse / (n - 3.0) * inv22) < -2.86 AS BOOLEAN)
             AS reject_unit_root
    FROM ssr
    """,
)
def q_adf_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Augmented Dickey-Fuller test (constant, one augmentation lag) on
    daily revenue: Δy_t = α + ρ·y_{t-1} + φ·Δy_{t-1} + ε, solved
    exactly by Cramer's rule over decimal-exact moments; t(ρ) below the
    −2.86 5% critical value rejects the unit root. Run together with
    q_kpss_stationarity: KPSS-reject + ADF-fail-to-reject is the
    difference-the-series verdict.

    Determinism: the 3×3 normal equations solve in closed form from
    decimal-exact moments; the residual SSE routes through DECIMAL;
    the determinant expressions are textually identical on both
    engines.

    Scale: facts collapse to the day grid; two lag windows + one 1-row
    moment aggregate + a 1-row fit broadcast for the SSE pass
    (whitelisted). §2.B regression family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.col("l_shipdate").cast("date").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y0")
    )
    w = Window.orderBy("d")
    lagged = daily.select(
        "y0", F.lag("y0").over(w).alias("y1"), F.lag("y0", 2).over(w).alias("y2")
    ).filter(F.col("y2").isNotNull())
    pts = lagged.select(
        (F.col("y0") - F.col("y1")).alias("y"),
        F.col("y1").alias("u"),
        (F.col("y1") - F.col("y2")).alias("v"),
    ).localCheckpoint(eager=True)
    m = _mom3(pts)
    det_g, det_a, det_bu, det_bv = _cramer_cols()
    fit = m.select(
        "n",
        (det_bu / det_g).alias("rho"),
        (det_bv / det_g).alias("phi"),
        (det_a / det_g).alias("a"),
        ((F.col("n") * F.col("svv") - F.col("sv") * F.col("sv")) / det_g).alias(
            "inv22"
        ),
    )
    resid = (
        F.col("y") - F.col("a") - F.col("rho") * F.col("u")
        - F.col("phi") * F.col("v")
    )
    ssr = (
        pts.crossJoin(F.broadcast(fit))
        .groupBy("n", "rho", "inv22")
        .agg(
            F.sum((resid * resid).cast("decimal(38,10)"))
            .cast("double")
            .alias("sse")
        )
    )
    t = F.col("rho") / F.sqrt(
        F.col("sse") / (F.col("n") - 3.0) * F.col("inv22")
    )
    return ssr.select(
        F.col("n").alias("n_obs"),
        F.round("rho", 6).alias("adf_rho"),
        F.round(t, 6).alias("adf_t"),
        (t < -2.86).alias("reject_unit_root"),
    )


@register(
    "q_var_lag1",
    oracle=f"""
    WITH daily AS ({DAILY_CLICK_PURCHASE_SQL}),
    lagged AS (
      SELECT x AS xv, y AS yv,
             LAG(x) OVER (ORDER BY d) AS xl,
             LAG(y) OVER (ORDER BY d) AS yl
      FROM daily
    ),
    base AS (SELECT xv, yv, xl AS u, yl AS v FROM lagged
             WHERE xl IS NOT NULL),
    eqs AS (
      SELECT 'x' AS eq, xv AS y, u, v FROM base
      UNION ALL SELECT 'y', yv, u, v FROM base
    ),
    m AS (
      SELECT eq,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(u AS DECIMAL(38,15))) AS DOUBLE) AS su,
             CAST(SUM(CAST(v AS DECIMAL(38,15))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(u * u AS DECIMAL(38,10))) AS DOUBLE) AS suu,
             CAST(SUM(CAST(v * v AS DECIMAL(38,10))) AS DOUBLE) AS svv,
             CAST(SUM(CAST(u * v AS DECIMAL(38,10))) AS DOUBLE) AS suv,
             CAST(SUM(CAST(u * y AS DECIMAL(38,10))) AS DOUBLE) AS suy,
             CAST(SUM(CAST(v * y AS DECIMAL(38,10))) AS DOUBLE) AS svy
      FROM eqs GROUP BY 1
    )
    SELECT eq AS equation, n AS n_obs,
           round({_DET_A.format(**_COLS)} / {_DET_G.format(**_COLS)}, 4)
             AS const,
           round({_DET_BU.format(**_COLS)} / {_DET_G.format(**_COLS)}, 6)
             AS coef_click_lag,
           round({_DET_BV.format(**_COLS)} / {_DET_G.format(**_COLS)}, 6)
             AS coef_purchase_lag
    FROM m ORDER BY eq
    """,
)
def q_var_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate VAR(1) for daily click value (x) and purchase value
    (y): each equation z_t = α + β_x·x_{t-1} + β_y·y_{t-1} solved
    exactly by Cramer's rule, BOTH equations fitted in one grouped
    aggregate (the equation label is just a grouping key over the
    stacked data) — the smallest multivariate dynamics model; its
    cross-coefficients are the feedback sizes q_granger_causality only
    tests the existence of.

    Determinism: shared decimal-exact moment matrix per equation;
    closed-form determinant ratios with identical expression text on
    both engines.

    Scale: facts collapse to the day grid; stacking doubles the
    bounded grid; one grouped moment aggregate ends it — no iterative
    fitting, no joins. §2.B regression family [NS].
    """
    daily = daily_click_purchase(spark, sf_dir)
    w = Window.orderBy("d")
    base = daily.select(
        F.col("x").alias("xv"),
        F.col("y").alias("yv"),
        F.lag("x").over(w).alias("u"),
        F.lag("y").over(w).alias("v"),
    ).filter(F.col("u").isNotNull())
    eqs = base.select(
        F.lit("x").alias("eq"), F.col("xv").alias("y"), "u", "v"
    ).unionAll(
        base.select(F.lit("y").alias("eq"), F.col("yv").alias("y"), "u", "v")
    )
    c = lambda e, t="decimal(38,10)": F.sum(e.cast(t)).cast("double")  # noqa: E731
    u, v, y = F.col("u"), F.col("v"), F.col("y")
    m = eqs.groupBy("eq").agg(
        bcount("n"),
        c(u, D15).alias("su"),
        c(v, D15).alias("sv"),
        c(y, D15).alias("sy"),
        c(u * u).alias("suu"),
        c(v * v).alias("svv"),
        c(u * v).alias("suv"),
        c(u * y).alias("suy"),
        c(v * y).alias("svy"),
    )
    det_g, det_a, det_bu, det_bv = _cramer_cols()
    return m.select(
        F.col("eq").alias("equation"),
        F.col("n").alias("n_obs"),
        F.round(det_a / det_g, 4).alias("const"),
        F.round(det_bu / det_g, 6).alias("coef_click_lag"),
        F.round(det_bv / det_g, 6).alias("coef_purchase_lag"),
    ).orderBy("equation")


@register(
    "q_dp_sensitivity_audit",
    oracle="""
    WITH per_user AS (
      SELECT event_type, user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CAST(COALESCE(abs(value), 0) AS DECIMAL(18,6)))
                  AS DOUBLE) AS sum_abs
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, n_events, sum_abs,
             CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                  ORDER BY sum_abs, user_id) AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
               AS nu
      FROM per_user
    )
    SELECT event_type,
           CAST(MAX(nu) AS BIGINT) AS n_users,
           CAST(MAX(n_events) AS BIGINT) AS count_sensitivity,
           round(MAX(sum_abs), 4) AS sum_sensitivity,
           round(MAX(CASE WHEN r = CAST(FLOOR(0.95 * nu) AS BIGINT)
                     THEN sum_abs END), 4) AS clip_p95,
           round(MAX(CASE WHEN r = CAST(FLOOR(0.95 * nu) AS BIGINT)
                     THEN sum_abs END)
                 / NULLIF(MAX(sum_abs), 0.0), 6) AS clip_to_max_ratio
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def q_dp_sensitivity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy sensitivity audit per event type: the
    user-level global sensitivity of a count query (max events any one
    user contributes) and of a sum query (max Σ|value| per user), plus
    the 95th-percentile per-user sum as the clipping bound — clipping
    at p95 instead of the max shrinks the Laplace/Gaussian noise scale
    by the reported ratio at the cost of bounded bias. The calibration
    table a DP release of these aggregates starts from (privacy family:
    q_k_anonymity, q_l_diversity_entropy, q_t_closeness).

    Determinism: sensitivities are exact decimal sums and integer
    counts; the p95 is an exact rank selection with user tiebreaks.

    Scale: one rollup to the (type, user) grain + one rank window per
    type partition. §2.B aggregation/privacy family [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("event_type", "user_id").agg(
        bcount("n_events"),
        F.sum(F.coalesce(F.abs("value"), F.lit(0)).cast("decimal(18,6)"))
        .cast("double")
        .alias("sum_abs"),
    )
    wt = Window.partitionBy("event_type").orderBy("sum_abs", "user_id")
    ranked = per_user.select(
        "event_type",
        "n_events",
        "sum_abs",
        F.row_number().over(wt).cast("bigint").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("event_type"))
        .cast("bigint")
        .alias("nu"),
    )
    p95 = F.max(
        F.when(
            F.col("r") == F.floor(0.95 * F.col("nu")).cast("bigint"),
            F.col("sum_abs"),
        )
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("nu").cast("bigint").alias("n_users"),
            F.max("n_events").cast("bigint").alias("count_sensitivity"),
            F.round(F.max("sum_abs"), 4).alias("sum_sensitivity"),
            F.round(p95, 4).alias("clip_p95"),
            F.round(
                p95 / F.nullif(F.max("sum_abs"), F.lit(0.0)), 6
            ).alias("clip_to_max_ratio"),
        )
        .orderBy("event_type")
    )
