"""Analytics batch 67: extreme-value theory (Gumbel block-maxima fit with
return levels), Cook's-distance influence diagnostics on the daily trend
OLS, and the two-arm log-rank survival test on hash-split retention.

Gumbel closes the tail-risk family with the *beyond-the-sample* question
(what daily revenue should we provision for once a century?); Cook's D
completes the regression-diagnostics trilogy started by q_durbin_watson /
q_breusch_pagan; log-rank upgrades q_kaplan_meier_retention from
description to inference.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .registry import load, register

_EULER = 0.5772156649015329  # Euler–Mascheroni γ
_SQRT6_PI = 0.779696801233676  # √6/π
_RL100 = 4.600149226776579  # −ln(−ln(0.99)): 100-block Gumbel return factor


@register(
    "q_gumbel_block_maxima",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    blocks AS (
      SELECT m, MAX(rev) AS mx FROM daily GROUP BY m
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(mx) AS DOUBLE) / COUNT(*) AS mean_mx,
             CAST(SUM(CAST(CAST(mx AS DOUBLE) * CAST(mx AS DOUBLE)
                      AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*) AS m2
      FROM blocks
    ),
    fit AS (
      SELECT n, mean_mx,
             sqrt(m2 - mean_mx * mean_mx) * CAST({_SQRT6_PI} AS DOUBLE)
               AS beta
      FROM mom
    )
    SELECT n AS n_months,
           round(mean_mx, 2) AS mean_monthly_max,
           round(beta, 2) AS gumbel_beta,
           round(mean_mx - CAST({_EULER} AS DOUBLE) * beta, 2) AS gumbel_mu,
           round(mean_mx - CAST({_EULER} AS DOUBLE) * beta
                 + beta * CAST({_RL100} AS DOUBLE), 2)
             AS return_level_100
    FROM fit
    """,
)
def q_gumbel_block_maxima(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit by block maxima: monthly maxima of daily
    revenue, method-of-moments parameters (β = √6·σ/π, μ = mean − γβ),
    and the 100-month return level μ + β·(−ln(−ln(0.99))) — the EVT
    answer to "what peak should we provision for?" that no within-sample
    percentile (q_percentiles, q_var_historical) can give, since it
    extrapolates beyond the observed maxima.

    Determinism: block maxima are MAXes of exact decimals; moments are
    exact decimal sums; γ, √6/π and the return factor are precomputed
    shared double literals (CAST AS DOUBLE so DuckDB doesn't parse them
    as DECIMAL).

    Scale: two nested calendar rollups, both map-side combined; the fit
    is a 1-row expression. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.col("o_orderdate").cast("date").alias("d"),
        F.date_trunc("month", F.col("o_orderdate")).alias("m"),
    ).agg(F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"))
    blocks = daily.groupBy("m").agg(F.max("rev").alias("mx"))
    mom = blocks.agg(
        bcount("n"),
        (F.sum("mx").cast("double") / F.count(F.lit(1))).alias("mean_mx"),
        (
            F.sum(
                (F.col("mx").cast("double") * F.col("mx").cast("double")).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
    )
    beta = F.sqrt(F.col("m2") - F.col("mean_mx") * F.col("mean_mx")) * F.lit(
        _SQRT6_PI
    )
    mu = F.col("mean_mx") - F.lit(_EULER) * beta
    return mom.select(
        F.col("n").alias("n_months"),
        F.round("mean_mx", 2).alias("mean_monthly_max"),
        F.round(beta, 2).alias("gumbel_beta"),
        F.round(mu, 2).alias("gumbel_mu"),
        F.round(mu + beta * F.lit(_RL100), 2).alias("return_level_100"),
    )


@register(
    "q_cooks_distance",
    oracle="""
    WITH daily AS (
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
      SELECT n, st / n AS tbar, stt - st * st / n AS sxx,
             (n * sty - st * sy) / (n * stt - st * st) AS b,
             (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n AS a
      FROM m
    ),
    resid AS (
      SELECT i.d, i.t, i.rev - (f.a + f.b * i.t) AS e,
             1.0 / f.n + (i.t - f.tbar) * (i.t - f.tbar) / f.sxx AS h,
             f.n
      FROM idx i, fit f
    ),
    s2 AS (
      SELECT CAST(SUM(CAST(e * e AS DECIMAL(28,6))) AS DOUBLE)
             / (MAX(n) - 2) AS mse
      FROM resid
    )
    SELECT d, round(e, 2) AS residual, round(h, 6) AS leverage,
           round(e * e * h / (2 * mse * (1.0 - h) * (1.0 - h)), 6)
             AS cooks_d
    FROM resid, s2
    ORDER BY cooks_d DESC, d
    LIMIT 10
    """,
)
def q_cooks_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cook's distance for the 1995 daily-revenue OLS trend: per-day
    influence Dₜ = eₜ²hₜ / (p·s²(1−hₜ)²) with the simple-regression
    closed-form leverage hₜ = 1/n + (t−t̄)²/Sxx, returning the 10 most
    influential days — the "which observations own this fit" diagnostic
    completing the residual trilogy (q_durbin_watson: correlation,
    q_breusch_pagan: variance, Cook's D: influence).

    Determinism: fit and MSE come from exact decimal moment sums;
    leverage is fixed-shape double algebra; top-10 tiebreaks on date.

    Scale: 1-row fit broadcast to the calendar-bounded daily grid; the
    top-10 is TakeOrdered. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
    )
    idx = daily.select(
        "d", "rev", F.row_number().over(Window.orderBy("d")).cast("bigint").alias("t")
    )
    # checkpointed once (r6): the OLS moments, the residual/leverage
    # pass, and the MSE each re-derived the fact rollup (4 orders scans
    # in the plan); the ≤365-row 1995 day grid materializes once
    idx = idx.localCheckpoint(eager=True)
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
    fit = m.select(
        "n",
        (F.col("st") / F.col("n")).alias("tbar"),
        (F.col("stt") - F.col("st") * F.col("st") / F.col("n")).alias("sxx"),
        b.alias("b"),
        ((F.col("sy") - b * F.col("st")) / F.col("n")).alias("a"),
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "d",
        "n",
        (F.col("rev") - (F.col("a") + F.col("b") * F.col("t"))).alias("e"),
        (
            F.lit(1.0) / F.col("n")
            + (F.col("t") - F.col("tbar")) * (F.col("t") - F.col("tbar")) / F.col("sxx")
        ).alias("h"),
    )
    s2 = resid.agg(
        (
            F.sum((F.col("e") * F.col("e")).cast("decimal(28,6)")).cast("double")
            / (F.max("n") - 2)
        ).alias("mse")
    )
    scored = resid.crossJoin(F.broadcast(s2)).select(
        "d",
        F.round("e", 2).alias("residual"),
        F.round("h", 6).alias("leverage"),
        F.round(
            F.col("e")
            * F.col("e")
            * F.col("h")
            / (2 * F.col("mse") * (1.0 - F.col("h")) * (1.0 - F.col("h"))),
            6,
        ).alias("cooks_d"),
    )
    return scored.orderBy(F.col("cooks_d").desc(), "d").limit(10)


@register(
    "q_logrank_test",
    oracle=f"""
    WITH life AS (
      SELECT user_id,
             CASE WHEN {sql_hexval("substr(md5('lr1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT) AS life_days
      FROM events GROUP BY 1
    ),
    grid AS (SELECT UNNEST(range(0, 30)) AS day),
    per_day AS (
      SELECT g.day,
             CAST(COUNT(*) FILTER (WHERE l.arm = 'A'
                    AND l.life_days >= g.day) AS BIGINT) AS r_a,
             CAST(COUNT(*) FILTER (WHERE l.arm = 'B'
                    AND l.life_days >= g.day) AS BIGINT) AS r_b,
             CAST(COUNT(*) FILTER (WHERE l.arm = 'A'
                    AND l.life_days = g.day) AS BIGINT) AS d_a,
             CAST(COUNT(*) FILTER (WHERE l.arm = 'B'
                    AND l.life_days = g.day) AS BIGINT) AS d_b
      FROM grid g, life l
      GROUP BY g.day
    ),
    terms AS (
      SELECT day, d_a, r_a, r_b, d_a + d_b AS d_tot, r_a + r_b AS r_tot
      FROM per_day WHERE (d_a + d_b) > 0 AND (r_a + r_b) > 1
    ),
    agg AS (
      SELECT CAST(SUM(d_a) AS BIGINT) AS o_a,
             CAST(SUM(CAST(CAST(d_tot AS DOUBLE) * r_a / r_tot
                      AS DECIMAL(28,12))) AS DOUBLE) AS e_a,
             CAST(SUM(CAST(CAST(d_tot AS DOUBLE) * r_a / r_tot
                      * r_b / r_tot * (r_tot - d_tot) / (r_tot - 1)
                      AS DECIMAL(28,12))) AS DOUBLE) AS v_a
      FROM terms
    )
    SELECT o_a AS observed_a,
           round(e_a, 4) AS expected_a,
           round(v_a, 4) AS variance_a,
           round((o_a - e_a) * (o_a - e_a) / v_a, 6) AS logrank_chi2,
           CASE WHEN (o_a - e_a) * (o_a - e_a) / v_a > 3.841459
                THEN 'arms_differ' ELSE 'no_difference' END AS verdict
    FROM agg
    """,
)
def q_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-arm log-rank test on user lifetime (days between first and
    last event), arms from the deterministic hash split: at each death
    day, observed-vs-expected deaths in arm A under the hypergeometric
    null, χ² = (O−E)²/V against 3.84 — the standard inference layer over
    q_kaplan_meier_retention / q_nelson_aalen (which only *describe*
    survival; log-rank decides if two curves differ).

    Determinism: risk sets and deaths are exact integer counts on an
    explicit day grid; E and V terms are decimal-cast per day before
    summation.

    Scale: lifetimes are one map-side user rollup; the 30-day grid is a
    broadcast spine (a real pipeline builds per-day risk sets by sorted
    aggregation — same counts, this shape keeps the oracle 1:1). §2.B
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("lr1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    # arm is a pure function of the group key, so it is projected AFTER
    # the aggregate (r6): max(arm) carried a string agg buffer, which is
    # not hash-aggregatable and forced a SortAggregate over all of events
    life = ev.groupBy("user_id").agg(
        F.datediff(F.max("ts"), F.min("ts")).cast("bigint").alias("life_days"),
    ).withColumn("arm", arm)
    grid = spark.range(0, 30).select(F.col("id").cast("bigint").alias("day"))
    # broadcast the 30-row day grid and stream the per-user side: the
    # previous orientation broadcast `life` (|users| rows, data-scaled)
    j = life.crossJoin(F.broadcast(grid))
    per_day = j.groupBy("day").agg(
        F.count_if((F.col("arm") == "A") & (F.col("life_days") >= F.col("day")))
        .cast("bigint")
        .alias("r_a"),
        F.count_if((F.col("arm") == "B") & (F.col("life_days") >= F.col("day")))
        .cast("bigint")
        .alias("r_b"),
        F.count_if((F.col("arm") == "A") & (F.col("life_days") == F.col("day")))
        .cast("bigint")
        .alias("d_a"),
        F.count_if((F.col("arm") == "B") & (F.col("life_days") == F.col("day")))
        .cast("bigint")
        .alias("d_b"),
    )
    terms = per_day.select(
        "d_a",
        "r_a",
        "r_b",
        (F.col("d_a") + F.col("d_b")).alias("d_tot"),
        (F.col("r_a") + F.col("r_b")).alias("r_tot"),
    ).filter((F.col("d_tot") > 0) & (F.col("r_tot") > 1))
    e_term = F.col("d_tot").cast("double") * F.col("r_a") / F.col("r_tot")
    v_term = (
        F.col("d_tot").cast("double")
        * F.col("r_a")
        / F.col("r_tot")
        * F.col("r_b")
        / F.col("r_tot")
        * (F.col("r_tot") - F.col("d_tot"))
        / (F.col("r_tot") - 1)
    )
    agg = terms.agg(
        F.sum("d_a").cast("bigint").alias("o_a"),
        F.sum(e_term.cast("decimal(28,12)")).cast("double").alias("e_a"),
        F.sum(v_term.cast("decimal(28,12)")).cast("double").alias("v_a"),
    )
    chi2 = (F.col("o_a") - F.col("e_a")) * (F.col("o_a") - F.col("e_a")) / F.col("v_a")
    return agg.select(
        F.col("o_a").alias("observed_a"),
        F.round("e_a", 4).alias("expected_a"),
        F.round("v_a", 4).alias("variance_a"),
        F.round(chi2, 6).alias("logrank_chi2"),
        F.when(chi2 > 3.841459, "arms_differ")
        .otherwise("no_difference")
        .alias("verdict"),
    )
