"""Analytics batch 130: Gehan–Wilcoxon censored-data test, the mean
excess function (EVT diagnostic), and walk-forward one-step forecast
evaluation.

Gehan's generalized Wilcoxon is the early-difference-sensitive
alternative to the logrank test (logrank weights all event times
equally; Gehan weights by the number still at risk, so early separation
dominates) — the pair every clinical/churn analysis reports together.
The mean excess function e(u) = E[X−u | X>u] is extreme-value theory's
threshold diagnostic: linear-in-u tails are GPD, and its slope picks
the q_peak_over_threshold threshold honestly. Walk-forward evaluation
scores forecasters the only fair way — one step ahead, refit each day
on an expanding window — here naive vs Theta, with MAE/RMSE/MASE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

_ME_THRESH = (100.0, 150.0, 200.0, 250.0, 300.0)
_WF_FOLDS = 10  # last 10 days are the walk-forward test points


@register(
    "q_gehan_wilcoxon",
    oracle="""
    WITH users AS MATERIALIZED (
      SELECT user_id, user_id % 2 = 1 AS grp_b,
             CASE WHEN MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                       IS NOT NULL THEN 1 ELSE 0 END AS died,
             COALESCE(
               (epoch_us(MIN(CASE WHEN event_type = 'purchase' THEN ts END))
                - epoch_us(MIN(ts))) // 3600000000,
               (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 3600000000) AS t
      FROM events GROUP BY 1, 2
    ),
    grid AS (
      SELECT t,
             CAST(SUM(CASE WHEN grp_b THEN died ELSE 0 END) AS BIGINT) AS d1,
             CAST(SUM(died) AS BIGINT) AS d,
             CAST(SUM(CASE WHEN grp_b THEN 1 ELSE 0 END) AS BIGINT) AS l1,
             CAST(COUNT(*) AS BIGINT) AS l
      FROM users GROUP BY 1
    ),
    km AS (
      SELECT t, d1, d,
             CAST(SUM(l) OVER () AS BIGINT)
               - COALESCE(SUM(l) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n_risk,
             CAST(SUM(l1) OVER () AS BIGINT)
               - COALESCE(SUM(l1) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS n1_risk
      FROM grid
    ),
    terms AS (
      SELECT t, n_risk,
             CAST(n_risk AS DOUBLE)
               * (d1 - CAST(d AS DOUBLE) * n1_risk / n_risk) AS u_term,
             CAST(n_risk AS DOUBLE) * n_risk
               * (CAST(d AS DOUBLE) * n1_risk / n_risk)
               * (1.0 - CAST(n1_risk AS DOUBLE) / n_risk)
               * (n_risk - d) / GREATEST(n_risk - 1, 1) AS v_term
      FROM km WHERE d > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_event_times,
           round(CAST(SUM(CAST(u_term AS DECIMAL(38,15))) AS DOUBLE), 4)
             AS gehan_u,
           round(sqrt(CAST(SUM(CAST(v_term AS DECIMAL(38,15))) AS DOUBLE)), 4)
             AS se_u,
           round(CAST(SUM(CAST(u_term AS DECIMAL(38,15))) AS DOUBLE)
                 / sqrt(CAST(SUM(CAST(v_term AS DECIMAL(38,15)))
                             AS DOUBLE)), 6) AS z
    FROM terms
    """,
)
def q_gehan_wilcoxon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gehan–Wilcoxon (generalized Wilcoxon) test comparing
    time-to-first-purchase between the odd/even user arms: at each event
    time the logrank increment (observed − expected arm-B events) is
    weighted by the NUMBER STILL AT RISK, U = Σ n_t(d₁ − d·n₁/n),
    Var = Σ n_t²·d·(n₁/n)(1−n₁/n)(n−d)/(n−1), z = U/√Var. The
    early-weighted partner of q_logrank_test — early conversion
    separation dominates, late-tail noise is down-weighted. Survival
    spells mirror q_cox_ph_newton's integer-hour construction.

    Determinism: risk sets are reverse-cumulative integer windows; every
    term rides DECIMAL(38,15).

    Scale: one per-user rollup, one bounded-grid window pass. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    first_pur = F.unix_micros(
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
    )
    users = ev.groupBy(
        "user_id", (F.col("user_id") % 2 == 1).alias("grp_b")
    ).agg(
        first_pur.alias("pur_us"),
        F.unix_micros(F.min("ts")).alias("first_us"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    ).select(
        "grp_b",
        F.when(F.col("pur_us").isNotNull(), 1).otherwise(0).alias("died"),
        F.floor(
            (F.coalesce(F.col("pur_us"), F.col("last_us")) - F.col("first_us"))
            / F.lit(3600000000)
        )
        .cast("bigint")
        .alias("t"),
    )
    grid = users.groupBy("t").agg(
        F.sum(F.when(F.col("grp_b"), F.col("died")).otherwise(0))
        .cast("bigint")
        .alias("d1"),
        F.sum("died").cast("bigint").alias("d"),
        F.sum(F.when(F.col("grp_b"), 1).otherwise(0)).cast("bigint").alias("l1"),
        bcount("l"),
    )
    wall = Window.partitionBy()
    wexcl = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    km = grid.select(
        "t",
        "d1",
        "d",
        (
            F.sum("l").over(wall).cast("bigint")
            - F.coalesce(F.sum("l").over(wexcl), F.lit(0))
        ).alias("n_risk"),
        (
            F.sum("l1").over(wall).cast("bigint")
            - F.coalesce(F.sum("l1").over(wexcl), F.lit(0))
        ).alias("n1_risk"),
    )
    e1 = F.col("d").cast("double") * F.col("n1_risk") / F.col("n_risk")
    u_term = F.col("n_risk").cast("double") * (F.col("d1") - e1)
    v_term = (
        F.col("n_risk").cast("double")
        * F.col("n_risk")
        * e1
        * (1.0 - F.col("n1_risk").cast("double") / F.col("n_risk"))
        * (F.col("n_risk") - F.col("d"))
        / F.greatest(F.col("n_risk") - 1, F.lit(1))
    )
    terms = km.filter(F.col("d") > 0)
    u = F.sum(u_term.cast(D15)).cast("double")
    v = F.sum(v_term.cast(D15)).cast("double")
    return terms.agg(
        bcount("n_event_times"),
        F.round(u, 4).alias("gehan_u"),
        F.round(F.sqrt(v), 4).alias("se_u"),
        F.round(u / F.sqrt(v), 6).alias("z"),
    )


@register(
    "q_mean_excess_function",
    oracle=f"""
    WITH x AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
    th AS (SELECT CAST(unnest(ARRAY{list(_ME_THRESH)}) AS DOUBLE) AS u),
    me AS (
      SELECT t.u,
             CAST(COUNT(*) FILTER (WHERE x.v > t.u) AS BIGINT) AS n_exceed,
             CAST(SUM(CAST(CASE WHEN x.v > t.u THEN x.v - t.u ELSE 0 END
                           AS DECIMAL(38,15))) AS DOUBLE)
               / NULLIF(COUNT(*) FILTER (WHERE x.v > t.u), 0) AS e_u
      FROM x, th t GROUP BY t.u
    )
    SELECT u AS threshold, n_exceed,
           round(e_u, 6) AS mean_excess
    FROM me ORDER BY threshold
    """,
)
def q_mean_excess_function(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean excess function of event values over a threshold grid:
    e(u) = E[X − u | X > u] at u ∈ {{100..300}} with exceedance counts.
    EVT's threshold diagnostic: if e(u) trends linearly in u the tail is
    generalized-Pareto and the GPD fit of q_peak_over_threshold is
    justified from the u where linearity starts; a flat e(u) is
    exponential, rising-to-infinity is heavier than any GPD
    (complements q_hill_tail_index's log-rank view).

    Determinism: excess sums ride DECIMAL(38,15); the grid is a 5-row
    constant explode; NULL when nothing exceeds (both engines).

    Scale: one pass over events fanned ×5 (map-side combinable). §2.B
    [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    th = spark.range(1).select(
        F.explode(F.array(*[F.lit(u) for u in _ME_THRESH])).alias("u")
    )
    me = (
        ev.select(F.col("value").alias("v"))
        .crossJoin(F.broadcast(th))
        .groupBy("u")
        .agg(
            F.sum(F.when(F.col("v") > F.col("u"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_exceed"),
            F.sum(
                F.when(F.col("v") > F.col("u"), F.col("v") - F.col("u"))
                .otherwise(0.0)
                .cast(D15)
            )
            .cast("double")
            .alias("sum_excess"),
        )
    )
    return me.select(
        F.col("u").alias("threshold"),
        "n_exceed",
        F.round(
            F.col("sum_excess") / F.nullif(F.col("n_exceed"), F.lit(0)), 6
        ).alias("mean_excess"),
    ).orderBy("threshold")


@register(
    "q_walkforward_forecast_eval",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             row_number() OVER (ORDER BY CAST(ts AS DATE)) AS rn,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM events WHERE value IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    feats AS MATERIALIZED (
      -- expanding-window state known at the END of day rn (forecast rn+1)
      SELECT rn, rev,
             lag(rev, 1) OVER w AS naive_prev,
             (rev + 0.5 * lag(rev, 1) OVER w + 0.25 * lag(rev, 2) OVER w
              + 0.125 * lag(rev, 3) OVER w) / 1.875 AS ses_level,
             (CAST(rn AS DOUBLE)
                * CAST(SUM(CAST(rn * rev AS DECIMAL(38,15))) OVER wc AS DOUBLE)
              - CAST(SUM(CAST(rn AS DECIMAL(38,15))) OVER wc AS DOUBLE)
                * CAST(SUM(CAST(rev AS DECIMAL(38,15))) OVER wc AS DOUBLE))
             / (CAST(rn AS DOUBLE)
                  * CAST(SUM(CAST(CAST(rn AS DOUBLE) * rn AS DECIMAL(38,15)))
                         OVER wc AS DOUBLE)
                - CAST(SUM(CAST(rn AS DECIMAL(38,15))) OVER wc AS DOUBLE)
                  * CAST(SUM(CAST(rn AS DECIMAL(38,15))) OVER wc AS DOUBLE))
               AS slope
      FROM daily
      WINDOW w AS (ORDER BY rn),
             wc AS (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW)
    ),
    tests AS (
      SELECT t.rn, t.rev AS actual,
             f.rev AS fc_naive,
             f.ses_level + 0.5 * f.slope AS fc_theta,
             abs(t.rev - lag(t.rev) OVER (ORDER BY t.rn)) AS naive_step
      FROM daily t JOIN feats f ON f.rn = t.rn - 1
      WHERE t.rn > (SELECT MAX(rn) FROM daily) - {_WF_FOLDS}
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_folds,
           round(CAST(SUM(CAST(abs(actual - fc_naive) AS DECIMAL(38,15)))
                      AS DOUBLE) / COUNT(*), 6) AS mae_naive,
           round(CAST(SUM(CAST(abs(actual - fc_theta) AS DECIMAL(38,15)))
                      AS DOUBLE) / COUNT(*), 6) AS mae_theta,
           round(sqrt(CAST(SUM(CAST((actual - fc_naive) * (actual - fc_naive)
                                    AS DECIMAL(38,15))) AS DOUBLE)
                      / COUNT(*)), 6) AS rmse_naive,
           round(sqrt(CAST(SUM(CAST((actual - fc_theta) * (actual - fc_theta)
                                    AS DECIMAL(38,15))) AS DOUBLE)
                      / COUNT(*)), 6) AS rmse_theta,
           round(CAST(SUM(CAST(abs(actual - fc_theta) AS DECIMAL(38,15)))
                      AS DOUBLE)
                 / CAST(SUM(CAST(abs(actual - fc_naive) AS DECIMAL(38,15)))
                        AS DOUBLE), 6) AS mase_theta_vs_naive
    FROM tests
    """,
)
def q_walkforward_forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Walk-forward one-step forecast evaluation over the last 10 days:
    each day t is forecast using ONLY information through t−1 — naive
    (yesterday's value) vs Theta (α=0.5 truncated-EWMA level + half the
    expanding-window OLS drift, i.e. q_theta_forecast refit daily via
    cumulative moments). Reports MAE/RMSE per method and the
    MASE-style ratio (θ MAE over naive MAE; <1 means Theta beats the
    naive benchmark out of sample). The honest-evaluation companion to
    q_seasonal_naive_backtest / q_forecast_accuracy: no leakage, refit
    per fold, fixed test window.

    Determinism: expanding OLS moments are exact-decimal cumulative
    windows; the EWMA stencil is power-of-two weights; fold membership
    is an integer row-number cut.

    Scale: ONE window pass computes every fold's model state (the
    expanding refit costs nothing extra — cumulative sums ARE the
    refit), then a 10-row scoring join. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(dec("value")).cast("double").alias("rev"))
        .select("d", F.row_number().over(Window.orderBy("d")).alias("rn"), "rev")
        .localCheckpoint(eager=True)
    )
    w = Window.orderBy("rn")
    wc = Window.orderBy("rn").rowsBetween(Window.unboundedPreceding, 0)
    ses = (
        F.col("rev")
        + 0.5 * F.lag("rev", 1).over(w)
        + 0.25 * F.lag("rev", 2).over(w)
        + 0.125 * F.lag("rev", 3).over(w)
    ) / 1.875
    k = F.col("rn").cast("double")
    sxy = F.sum((F.col("rn") * F.col("rev")).cast(D15)).over(wc).cast("double")
    sx = F.sum(F.col("rn").cast(D15)).over(wc).cast("double")
    sy = F.sum(F.col("rev").cast(D15)).over(wc).cast("double")
    sxx = (
        F.sum((F.col("rn").cast("double") * F.col("rn")).cast(D15))
        .over(wc)
        .cast("double")
    )
    slope = (k * sxy - sx * sy) / (k * sxx - sx * sx)
    feats = daily.select(
        "rn",
        "rev",
        ses.alias("ses_level"),
        slope.alias("slope"),
    )
    nmax = daily.agg(F.max("rn").alias("m")).head()["m"]
    tests = (
        daily.filter(F.col("rn") > nmax - _WF_FOLDS)
        .select(F.col("rn").alias("trn"), F.col("rev").alias("actual"))
        .join(feats, F.col("rn") == F.col("trn") - 1)
        .join(
            daily.select((F.col("rn") + 1).alias("prn"), F.col("rev").alias("fc_naive")),
            F.col("prn") == F.col("trn"),
        )
        .select(
            "actual",
            "fc_naive",
            (F.col("ses_level") + 0.5 * F.col("slope")).alias("fc_theta"),
        )
    )
    mae_n = F.sum(F.abs(F.col("actual") - F.col("fc_naive")).cast(D15)).cast(
        "double"
    ) / F.count(F.lit(1))
    mae_t = F.sum(F.abs(F.col("actual") - F.col("fc_theta")).cast(D15)).cast(
        "double"
    ) / F.count(F.lit(1))
    return tests.agg(
        bcount("n_folds"),
        F.round(mae_n, 6).alias("mae_naive"),
        F.round(mae_t, 6).alias("mae_theta"),
        F.round(
            F.sqrt(
                F.sum(
                    (
                        (F.col("actual") - F.col("fc_naive"))
                        * (F.col("actual") - F.col("fc_naive"))
                    ).cast(D15)
                ).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("rmse_naive"),
        F.round(
            F.sqrt(
                F.sum(
                    (
                        (F.col("actual") - F.col("fc_theta"))
                        * (F.col("actual") - F.col("fc_theta"))
                    ).cast(D15)
                ).cast("double")
                / F.count(F.lit(1))
            ),
            6,
        ).alias("rmse_theta"),
        F.round(
            F.sum(F.abs(F.col("actual") - F.col("fc_theta")).cast(D15)).cast(
                "double"
            )
            / F.sum(F.abs(F.col("actual") - F.col("fc_naive")).cast(D15)).cast(
                "double"
            ),
            6,
        ).alias("mase_theta_vs_naive"),
    )
