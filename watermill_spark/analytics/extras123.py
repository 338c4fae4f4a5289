"""Analytics batch 131: AIC/BIC model selection, a binomial Bayes
factor, and the Hosmer–Lemeshow calibration test.

AIC/BIC turn log-likelihoods into comparable model scores — here
Poisson vs geometric for per-user purchase counts, the canonical
equidispersed-vs-heavy-tailed count-model face-off (q_overdispersion
diagnoses the symptom; this picks the model). The Bayes factor gives
the evidence ratio Bayesians quote instead of a p-value: uniform-prior
binomial marginal vs the point null, in closed form via log-factorial
prefix sums. Hosmer–Lemeshow is the classical grouped calibration χ²
for probability models, the test-statistic sibling of
q_calibration_ece's loss-style summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register

_BF_P0 = 0.20  # point-null purchase share


@register(
    "q_model_selection_aic",
    oracle="""
    WITH y AS MATERIALIZED (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM events GROUP BY 1
    ),
    mx AS (SELECT CAST(MAX(k) AS BIGINT) AS mk FROM y),
    lf AS MATERIALIZED (
      SELECT g AS i,
             CAST(SUM(CAST(CASE WHEN g > 0 THEN ln(CAST(g AS DOUBLE))
                                ELSE 0.0 END AS DECIMAL(38,15))) OVER (
               ORDER BY g ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS v
      FROM (SELECT DISTINCT g
            FROM (SELECT CAST(row_number() OVER () - 1 AS BIGINT) AS g
                  FROM events UNION ALL SELECT mk FROM mx))
      WHERE g <= (SELECT mk FROM mx)
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS sk,
             CAST(SUM(k) AS DOUBLE) / COUNT(*) AS lam
      FROM y
    ),
    lls AS (
      SELECT f.n, f.lam,
             -- Poisson: sum[k ln λ − λ − ln k!]
             CAST(SUM(CAST(y.k * ln(f.lam) - f.lam - l.v
                           AS DECIMAL(38,15))) AS DOUBLE) AS ll_pois,
             -- Geometric(p = 1/(1+λ)): sum[k ln(λ/(1+λ)) − ln(1+λ)]
             CAST(SUM(CAST(y.k * ln(f.lam / (1.0 + f.lam))
                           - ln(1.0 + f.lam) AS DECIMAL(38,15))) AS DOUBLE)
               AS ll_geom
      FROM y JOIN lf l ON l.i = y.k, fit f
      GROUP BY f.n, f.lam
    )
    SELECT n AS n_users,
           round(lam, 6) AS mean_count,
           round(ll_pois, 4) AS loglik_poisson,
           round(ll_geom, 4) AS loglik_geometric,
           round(-2.0 * ll_pois + 2.0, 4) AS aic_poisson,
           round(-2.0 * ll_geom + 2.0, 4) AS aic_geometric,
           round(-2.0 * ll_pois + ln(CAST(n AS DOUBLE)), 4) AS bic_poisson,
           round(-2.0 * ll_geom + ln(CAST(n AS DOUBLE)), 4) AS bic_geometric,
           CASE WHEN ll_geom > ll_pois THEN 'geometric' ELSE 'poisson' END
             AS preferred
    FROM lls
    """,
)
def q_model_selection_aic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AIC/BIC model selection for per-user purchase counts: Poisson(λ̂)
    vs geometric with the same mean (p = 1/(1+λ̂)), both MLE in closed
    form, log-likelihoods exact via the log-factorial prefix-sum table
    (q_fisher_exact's trick). Each model has one parameter, so AIC =
    −2LL+2 and BIC = −2LL+ln n; the winner is the equidispersion
    verdict q_overdispersion hints at, decided by likelihood. The same
    frame extends to any count-model menu.

    Determinism: counts are integers; ln-factorials are exact decimal
    prefix sums; all LL terms ride DECIMAL(38,15).

    Scale: one per-user rollup, one O(max k) factorial table (bounded by
    the busiest user, not the corpus), one scoring join. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    y = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("k")
    ).localCheckpoint(eager=True)
    mk = y.agg(F.max("k").alias("mk")).head()["mk"]
    wcum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    lf = (
        spark.range(0, mk + 1)
        .select(F.col("id").alias("i"))
        .select(
            "i",
            F.sum(
                F.when(F.col("i") > 0, F.log(F.col("i").cast("double")))
                .otherwise(0.0)
                .cast(D15)
            )
            .over(wcum)
            .cast("double")
            .alias("v"),
        )
    )
    fit = y.agg(
        bcount("n"),
        (F.sum("k").cast("double") / F.count(F.lit(1))).alias("lam"),
    )
    lls = (
        y.join(F.broadcast(lf), F.col("i") == F.col("k"))
        .crossJoin(F.broadcast(fit))
        .groupBy("n", "lam")
        .agg(
            F.sum(
                (
                    F.col("k") * F.log("lam") - F.col("lam") - F.col("v")
                ).cast(D15)
            )
            .cast("double")
            .alias("ll_pois"),
            F.sum(
                (
                    F.col("k") * F.log(F.col("lam") / (1.0 + F.col("lam")))
                    - F.log(1.0 + F.col("lam"))
                ).cast(D15)
            )
            .cast("double")
            .alias("ll_geom"),
        )
    )
    n_d = F.col("n").cast("double")
    return lls.select(
        F.col("n").alias("n_users"),
        F.round("lam", 6).alias("mean_count"),
        F.round("ll_pois", 4).alias("loglik_poisson"),
        F.round("ll_geom", 4).alias("loglik_geometric"),
        F.round(-2.0 * F.col("ll_pois") + 2.0, 4).alias("aic_poisson"),
        F.round(-2.0 * F.col("ll_geom") + 2.0, 4).alias("aic_geometric"),
        F.round(-2.0 * F.col("ll_pois") + F.log(n_d), 4).alias("bic_poisson"),
        F.round(-2.0 * F.col("ll_geom") + F.log(n_d), 4).alias("bic_geometric"),
        F.when(F.col("ll_geom") > F.col("ll_pois"), "geometric")
        .otherwise("poisson")
        .alias("preferred"),
    )


@register(
    "q_bayes_factor_binomial",
    oracle=f"""
    WITH cells AS (
      SELECT CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events
    ),
    lf AS MATERIALIZED (
      SELECT i,
             CAST(SUM(CAST(CASE WHEN i > 0 THEN ln(CAST(i AS DOUBLE))
                                ELSE 0.0 END AS DECIMAL(38,15))) OVER (
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS v
      FROM (SELECT DISTINCT i
            FROM (SELECT CAST(row_number() OVER () - 1 AS BIGINT) AS i
                  FROM events UNION ALL SELECT n FROM cells)) t
    ),
    bf AS (
      SELECT c.s, c.n,
             -- ln m1 (uniform prior): −ln(n+1) − ln C(n,s)
             -ln(CAST(c.n + 1 AS DOUBLE))
               - (ln_n.v - ln_s.v - ln_ns.v) AS ln_m1,
             -- ln m0 (point null): s ln p0 + (n−s) ln(1−p0)
             c.s * ln({_BF_P0}) + (c.n - c.s) * ln(1.0 - {_BF_P0}) AS ln_m0
      FROM cells c
      JOIN lf ln_n ON ln_n.i = c.n
      JOIN lf ln_s ON ln_s.i = c.s
      JOIN lf ln_ns ON ln_ns.i = c.n - c.s
    )
    SELECT s AS conversions, n AS n_events,
           round(ln_m1, 6) AS ln_marginal_uniform,
           round(ln_m0, 6) AS ln_marginal_null,
           round(ln_m1 - ln_m0, 6) AS ln_bf10,
           CASE WHEN ln_m1 - ln_m0 > 0 THEN 1 ELSE 0 END AS favors_alternative
    FROM bf
    """,
)
def q_bayes_factor_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bayes factor for the purchase share: BF₁₀ compares the marginal
    likelihood under a uniform Beta(1,1) prior —
    m₁ = 1/((n+1)·C(n,s)) — against the point null p₀ = 0.2,
    m₀ = p₀^s(1−p₀)^{{n−s}}, in log space via the exact log-factorial
    prefix table. ln BF₁₀ > 0 is evidence AGAINST the null; unlike the
    p-values next door (q_fisher_exact, q_event_rate_wilson_ci) the BF
    can also quantify evidence FOR the null — the Bayesian companion to
    q_bayes_ab_grid's posterior quantities.

    Determinism: s, n are exact integers; ln-factorials are exact
    decimal prefix sums; ln p₀ terms are fixed literals times integers.

    Scale: one conditional aggregation + an O(n)-row factorial table
    (single window pass). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    cells = ev.agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("s"),
        bcount("n"),
    ).localCheckpoint(eager=True)
    n_val = cells.head()["n"]
    wcum = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    lf = (
        spark.range(0, n_val + 1)
        .select(F.col("id").alias("i"))
        .select(
            "i",
            F.sum(
                F.when(F.col("i") > 0, F.log(F.col("i").cast("double")))
                .otherwise(0.0)
                .cast(D15)
            )
            .over(wcum)
            .cast("double")
            .alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    ln_n = lf.select(F.col("i").alias("ni"), F.col("v").alias("vn"))
    ln_s = lf.select(F.col("i").alias("si"), F.col("v").alias("vs"))
    ln_ns = lf.select(F.col("i").alias("nsi"), F.col("v").alias("vns"))
    import math as _math

    lp0 = _math.log(_BF_P0)
    lq0 = _math.log(1.0 - _BF_P0)
    bf = (
        cells.join(F.broadcast(ln_n), F.col("ni") == F.col("n"))
        .join(F.broadcast(ln_s), F.col("si") == F.col("s"))
        .join(F.broadcast(ln_ns), F.col("nsi") == F.col("n") - F.col("s"))
        .select(
            "s",
            "n",
            (
                -F.log((F.col("n") + 1).cast("double"))
                - (F.col("vn") - F.col("vs") - F.col("vns"))
            ).alias("ln_m1"),
            (F.col("s") * lp0 + (F.col("n") - F.col("s")) * lq0).alias("ln_m0"),
        )
    )
    return bf.select(
        F.col("s").alias("conversions"),
        F.col("n").alias("n_events"),
        F.round("ln_m1", 6).alias("ln_marginal_uniform"),
        F.round("ln_m0", 6).alias("ln_marginal_null"),
        F.round(F.col("ln_m1") - F.col("ln_m0"), 6).alias("ln_bf10"),
        F.when(F.col("ln_m1") - F.col("ln_m0") > 0, 1)
        .otherwise(0)
        .alias("favors_alternative"),
    )


@register(
    "q_hosmer_lemeshow",
    oracle="""
    WITH per_user AS MATERIALIZED (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_ev,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1
    ),
    binned AS MATERIALIZED (
      SELECT user_id, y,
             ntile(5) OVER (ORDER BY n_ev, user_id) AS act_bin
      FROM per_user
    ),
    model AS MATERIALIZED (
      -- the "model": conversion rate within each activity quintile,
      -- fit on the even-id half, scored on the odd-id half
      SELECT act_bin,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS p_hat
      FROM binned WHERE user_id % 2 = 0 GROUP BY 1
    ),
    scored AS (
      SELECT b.act_bin, b.y, m.p_hat
      FROM binned b JOIN model m ON m.act_bin = b.act_bin
      WHERE b.user_id % 2 = 1
    ),
    groups AS (
      SELECT act_bin, p_hat,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS o
      FROM scored GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(n) AS BIGINT) AS n_scored,
           round(CAST(SUM(CAST(
             (o - n * p_hat) * (o - n * p_hat)
             / NULLIF(n * p_hat * (1.0 - p_hat), 0)
             AS DECIMAL(38,15))) AS DOUBLE), 6) AS hl_chi2,
           CAST(COUNT(*) - 2 AS BIGINT) AS df
    FROM groups
    """,
)
def q_hosmer_lemeshow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hosmer–Lemeshow calibration test: a binned conversion model
    (quintile-of-activity conversion rates, FIT on even-id users) is
    scored on the held-out odd-id users; per bin,
    χ² term = (O − n·p̂)² / (n·p̂(1−p̂)), summed over the 5 bins with
    df = bins − 2. Large χ² means the model's probabilities don't match
    held-out frequencies — the classical test-statistic form of what
    q_calibration_ece measures as an expected error (and the honest
    version: train/score split, unlike in-sample HL).

    Determinism: quintiles use (n_ev, user_id) total-ordered ntiles;
    rates divide exact integers; χ² terms ride DECIMAL(38,15).

    Scale: one per-user rollup, one ntile window, two tiny joins.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        bcount("n_ev"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    binned = per_user.select(
        "user_id",
        "y",
        F.ntile(5).over(Window.orderBy("n_ev", "user_id")).alias("act_bin"),
    ).localCheckpoint(eager=True)
    model = (
        binned.filter(F.col("user_id") % 2 == 0)
        .groupBy("act_bin")
        .agg((F.sum("y").cast("double") / F.count(F.lit(1))).alias("p_hat"))
    )
    scored = binned.filter(F.col("user_id") % 2 == 1).join(
        F.broadcast(model), "act_bin"
    )
    groups = scored.groupBy("act_bin", "p_hat").agg(
        bcount("n"), F.sum("y").cast("bigint").alias("o")
    )
    term = (
        (F.col("o") - F.col("n") * F.col("p_hat"))
        * (F.col("o") - F.col("n") * F.col("p_hat"))
        / F.nullif(F.col("n") * F.col("p_hat") * (1.0 - F.col("p_hat")), F.lit(0))
    )
    return groups.agg(
        bcount("n_bins"),
        F.sum("n").cast("bigint").alias("n_scored"),
        F.round(F.sum(term.cast(D15)).cast("double"), 6).alias("hl_chi2"),
        (F.count(F.lit(1)) - 2).cast("bigint").alias("df"),
    )
