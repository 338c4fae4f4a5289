"""Analytics batch 69: negative-binomial fit of per-user purchase counts
(with zero-inflation check), a Simpson's-paradox detector comparing the
pooled discount→quantity slope against within-brand slopes, and L-moments
of the order-price distribution.

L-moments are the robust shape family (L-scale, L-skewness, L-kurtosis are
linear in order statistics, so they exist even where classic skewness
blows up); the Simpson detector is the aggregation-bias guard every
warehouse rollup should run before trusting a pooled trend.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import OLS_SLOPE_SQL, bcount, dec, ols_slope
from .distrib import two_level_order
from .registry import load, register


@register(
    "q_negative_binomial_fit",
    oracle="""
    WITH counts AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS k
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(k) AS BIGINT) AS sk,
             CAST(SUM(k * k) AS BIGINT) AS sk2,
             CAST(COUNT(*) FILTER (WHERE k = 0) AS BIGINT) AS zeros
      FROM counts
    ),
    fit AS (
      SELECT n, zeros,
             CAST(sk AS DOUBLE) / n AS mu,
             CAST(sk2 AS DOUBLE) / n
               - (CAST(sk AS DOUBLE) / n) * (CAST(sk AS DOUBLE) / n) AS v
      FROM mom
    )
    SELECT n AS n_users,
           round(mu, 6) AS mean_purchases,
           round(v, 6) AS variance,
           round(v / mu, 6) AS dispersion,
           round(mu * mu / (v - mu), 6) AS nb_r,
           round(mu / v, 6) AS nb_p,
           round(CAST(zeros AS DOUBLE) / n, 6) AS zero_share_obs,
           round(pow(mu / v, mu * mu / (v - mu)), 6) AS zero_share_nb
    FROM fit
    """,
)
def q_negative_binomial_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Negative-binomial method-of-moments fit to per-user purchase
    counts: r = μ²/(σ²−μ), p = μ/σ², with the observed zero share against
    the NB-predicted P(0) = pʳ — the parametric upgrade of
    q_overdispersion (which only *tests* Var>Mean; this fits the
    distribution a capacity model or LTV simulation would actually use)
    and a zero-inflation check in one pass.

    Determinism: all moments are exact integer sums; pow() is evaluated
    on identical doubles (rounded at 1e-6, far above its ≤1-ulp
    engine difference).

    Scale: one map-side user rollup → 1-row moments. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("k")
    )
    mom = counts.agg(
        bcount("n"),
        F.sum("k").cast("bigint").alias("sk"),
        F.sum(F.col("k") * F.col("k")).cast("bigint").alias("sk2"),
        F.count_if(F.col("k") == 0).cast("bigint").alias("zeros"),
    )
    mu = F.col("sk").cast("double") / F.col("n")
    v = F.col("sk2").cast("double") / F.col("n") - mu * mu
    r = mu * mu / (v - mu)
    p = mu / v
    return mom.select(
        F.col("n").alias("n_users"),
        F.round(mu, 6).alias("mean_purchases"),
        F.round(v, 6).alias("variance"),
        F.round(v / mu, 6).alias("dispersion"),
        F.round(r, 6).alias("nb_r"),
        F.round(p, 6).alias("nb_p"),
        F.round(F.col("zeros").cast("double") / F.col("n"), 6).alias(
            "zero_share_obs"
        ),
        F.round(F.pow(p, r), 6).alias("zero_share_nb"),
    )


@register(
    "q_simpsons_paradox",
    oracle=f"""
    WITH base AS (
      SELECT p.p_brand AS g, l.l_discount AS x, l.l_quantity AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM base
    ),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM base GROUP BY g
    ),
    slopes AS (
      SELECT g, n,
             {OLS_SLOPE_SQL} AS b
      FROM per_g WHERE n * sxx - sx * sx > 0
    ),
    pooled_b AS (
      SELECT {OLS_SLOPE_SQL} AS b FROM pooled
    )
    SELECT CAST((SELECT COUNT(*) FROM slopes) AS BIGINT) AS n_groups,
           round((SELECT b FROM pooled_b), 6) AS pooled_slope,
           CAST(COUNT(*) FILTER (
             WHERE (s.b > 0) <> ((SELECT b FROM pooled_b) > 0)) AS BIGINT)
             AS groups_opposite_sign,
           round(CAST(COUNT(*) FILTER (
             WHERE (s.b > 0) <> ((SELECT b FROM pooled_b) > 0)) AS DOUBLE)
                 / COUNT(*), 6) AS opposite_share,
           CASE WHEN COUNT(*) FILTER (
             WHERE (s.b > 0) <> ((SELECT b FROM pooled_b) > 0))
                > COUNT(*) / 2
                THEN 'paradox' ELSE 'consistent' END AS verdict
    FROM slopes s
    """,
)
def q_simpsons_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox detector on the discount→quantity relationship:
    the pooled OLS slope over all lineitems vs the within-brand slopes —
    if most groups' slopes oppose the pooled sign, the pooled trend is an
    aggregation artifact (confounded by brand mix), the classic warning
    that q_ols_daily_trend-style pooled fits need
    q_fixed_effects_ols-style within-group confirmation.

    Determinism: every slope comes from exact decimal moment sums; sign
    comparisons are exact.

    Scale: pooled and per-group moments are the same one map-side pass
    (per-group rollup + 1-row pooled agg); slope algebra runs on the
    ≤|brands| grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    base = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("p_brand").alias("g"),
        F.col("l_discount").alias("x"),
        F.col("l_quantity").alias("y"),
    )

    # single scan (r6): the per-brand and pooled moment passes each
    # re-scanned the lineitem⨝part join; the per-brand grid now KEEPS
    # its exact decimal sums (checkpointed once, ≤|brands| rows), and the
    # pooled moments are their exact decimal re-sums — decimal addition
    # is associative, so the pooled doubles are bit-identical to the old
    # one-pass sums
    gm = base.groupBy("g").agg(
        bcount("n"),
        F.sum(dec("x")).alias("dsx"),
        F.sum(dec("y")).alias("dsy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(28,12)")).alias("dsxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(28,12)")).alias("dsxx"),
    ).localCheckpoint(eager=True)
    per_g = gm.select(
        "g",
        "n",
        F.col("dsx").cast("double").alias("sx"),
        F.col("dsy").cast("double").alias("sy"),
        F.col("dsxy").cast("double").alias("sxy"),
        F.col("dsxx").cast("double").alias("sxx"),
    )
    pooled_m = gm.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("dsx").cast("double").alias("sx"),
        F.sum("dsy").cast("double").alias("sy"),
        F.sum("dsxy").cast("double").alias("sxy"),
        F.sum("dsxx").cast("double").alias("sxx"),
    )

    slope = ols_slope()
    det = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slopes = per_g.filter(det > 0).select("g", slope.alias("b"))
    pooled_b = pooled_m.select(slope.alias("pb"))
    j = slopes.crossJoin(F.broadcast(pooled_b))
    opp = (F.col("b") > 0) != (F.col("pb") > 0)
    return j.groupBy("pb").agg(
        bcount("n_groups"),
        F.count_if(opp).cast("bigint").alias("groups_opposite_sign"),
        F.round(F.count_if(opp).cast("double") / F.count(F.lit(1)), 6).alias(
            "opposite_share"
        ),
        F.when(
            F.count_if(opp) > F.count(F.lit(1)) / 2, "paradox"
        )
        .otherwise("consistent")
        .alias("verdict"),
    ).select(
        "n_groups",
        F.round("pb", 6).alias("pooled_slope"),
        "groups_opposite_sign",
        "opposite_share",
        "verdict",
    )


@register(
    "q_l_moments",
    oracle="""
    WITH ranked AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS xc,
             CAST(ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey)
                  AS BIGINT) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM orders
    ),
    sums AS (
      SELECT MAX(n) AS n,
             CAST(SUM(CAST(xc AS DECIMAL(38,0))) AS DOUBLE) AS b0c,
             CAST(SUM(CAST((i - 1) * xc AS DECIMAL(38,0))) AS DOUBLE) AS b1c,
             CAST(SUM(CAST(i - 1 AS DECIMAL(38,0)) * (i - 2) * xc)
                  AS DOUBLE) AS b2c,
             CAST(SUM(CAST(i - 1 AS DECIMAL(38,0)) * (i - 2) * (i - 3) * xc)
                  AS DOUBLE) AS b3c
      FROM ranked
    ),
    betas AS (
      SELECT n,
             b0c / n / 100 AS b0,
             b1c / (CAST(n AS DOUBLE) * (n - 1)) / 100 AS b1,
             b2c / (CAST(n AS DOUBLE) * (n - 1) * (n - 2)) / 100 AS b2,
             b3c / (CAST(n AS DOUBLE) * (n - 1) * (n - 2) * (n - 3)) / 100
               AS b3
      FROM sums
    )
    SELECT n AS n_orders,
           round(b0, 4) AS l1_mean,
           round(2 * b1 - b0, 4) AS l2_scale,
           round((6 * b2 - 6 * b1 + b0) / (2 * b1 - b0), 6) AS l_skewness,
           round((20 * b3 - 30 * b2 + 12 * b1 - b0) / (2 * b1 - b0), 6)
             AS l_kurtosis,
           round((2 * b1 - b0) / b0, 6) AS l_cv
    FROM betas
    """,
)
def q_l_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L-moments of the order-price distribution via probability-weighted
    moments: λ₁ (L-mean), λ₂ (L-scale), τ₃ (L-skewness), τ₄ (L-kurtosis),
    and the L-CV — the order-statistics shape family that stays finite
    and robust where classic skewness/kurtosis (q_jarque_bera's
    ingredients) are outlier-dominated; standard kit in hydrology/risk
    for exactly the heavy-tailed data a revenue column is.

    Determinism: prices become integer cents; each PWM is an exact
    DECIMAL(38,0) sum of integer rank-weight × value products (ranks are
    row_number with orderkey tiebreak); only the final β ratios are
    doubles.

    Scale: one global sort provides the ranks (range-partitioned sort at
    scale — the one genuinely order-dependent stage L-moments need);
    everything else is map-side sums. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    # r7 (guide §2.5): the range-partitioned distributed rank the
    # docstring promised — distrib.two_level_order replaces the
    # single-task row_number/count windows over RAW orders (identical
    # ranks: unique (o_totalprice, o_orderkey) order; n rides the same
    # offset grid).
    ranked = two_level_order(
        o.select(
            F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("xc"),
            "o_totalprice",
            "o_orderkey",
        ),
        ["o_totalprice", "o_orderkey"],
        rank_col="i",
        total_count="n",
        project=["xc"],
    )
    i = F.col("i")
    sums = ranked.agg(
        F.max("n").alias("n"),
        F.sum(F.col("xc").cast("decimal(38,0)")).cast("double").alias("b0c"),
        F.sum(((i - 1) * F.col("xc")).cast("decimal(38,0)"))
        .cast("double")
        .alias("b1c"),
        F.sum((i - 1).cast("decimal(38,0)") * (i - 2) * F.col("xc"))
        .cast("double")
        .alias("b2c"),
        F.sum((i - 1).cast("decimal(38,0)") * (i - 2) * (i - 3) * F.col("xc"))
        .cast("double")
        .alias("b3c"),
    )
    nd = F.col("n").cast("double")
    b0 = F.col("b0c") / F.col("n") / 100
    b1 = F.col("b1c") / (nd * (F.col("n") - 1)) / 100
    b2 = F.col("b2c") / (nd * (F.col("n") - 1) * (F.col("n") - 2)) / 100
    b3 = (
        F.col("b3c")
        / (nd * (F.col("n") - 1) * (F.col("n") - 2) * (F.col("n") - 3))
        / 100
    )
    l2 = 2 * b1 - b0
    return sums.select(
        F.col("n").alias("n_orders"),
        F.round(b0, 4).alias("l1_mean"),
        F.round(l2, 4).alias("l2_scale"),
        F.round((6 * b2 - 6 * b1 + b0) / l2, 6).alias("l_skewness"),
        F.round((20 * b3 - 30 * b2 + 12 * b1 - b0) / l2, 6).alias("l_kurtosis"),
        F.round(l2 / b0, 6).alias("l_cv"),
    )
