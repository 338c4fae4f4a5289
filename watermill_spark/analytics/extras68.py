"""Analytics batch 76: price-dispersion audit (law of one price), Taylor's
power law of variance scaling across brands, and a survivorship-bias
check on engagement metrics.

Taylor's law (Var ≈ a·Mean^b across groups) is the aggregation-scaling
diagnostic: b≈1 is Poisson-like, b→2 means variance grows with the square
of volume — which decides how per-group error bars must be scaled at
100 TB. Survivorship bias is the most common silent error in cohort
dashboards; this query prices it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import OLS_SLOPE_SQL, bcount, dec, ols_slope
from .registry import load, register


@register(
    "q_price_dispersion",
    oracle="""
    WITH unit AS (
      SELECT l_partkey,
             CAST(l_extendedprice AS DOUBLE) / l_quantity AS up
      FROM lineitem WHERE l_quantity > 0
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(up AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mu,
             CAST(SUM(CAST(up * up AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS m2
      FROM unit GROUP BY 1 HAVING COUNT(*) >= 3
    ),
    cv AS (
      SELECT l_partkey, n,
             sqrt(GREATEST(m2 - mu * mu, 0.0)) / mu AS cv
      FROM per_part WHERE mu > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(COUNT(*) FILTER (WHERE cv > 0.2) AS BIGINT)
             AS n_dispersed,
           round(CAST(COUNT(*) FILTER (WHERE cv > 0.2) AS DOUBLE)
                 / COUNT(*), 6) AS dispersed_share,
           round(CAST(SUM(CAST(cv AS DECIMAL(18,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cv,
           round(MAX(cv), 6) AS max_cv
    FROM cv
    """,
)
def q_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-of-one-price audit: per part (≥3 sales), the coefficient of
    variation of realized unit price (extendedprice/quantity) across
    transactions; reports how many parts show >20% dispersion and the
    mean/max CV — the price-consistency check behind
    q_price_outliers_iqr (which flags rows; this scores *parts*) and the
    empirical basis for any price-discrimination or data-entry-error
    investigation.

    Determinism: unit prices are deterministic double ratios; per-part
    moments are exact decimal sums; CVs are decimal-cast before the
    cross-part mean.

    Scale: one map-side-combined part rollup; the summary runs on the
    parts grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    unit = li.filter(F.col("l_quantity") > 0).select(
        "l_partkey",
        (F.col("l_extendedprice").cast("double") / F.col("l_quantity")).alias("up"),
    )
    per_part = (
        unit.groupBy("l_partkey")
        .agg(
            bcount("n"),
            (F.sum(dec("up")).cast("double") / F.count(F.lit(1))).alias("mu"),
            (
                F.sum((F.col("up") * F.col("up")).cast("decimal(28,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("m2"),
        )
        .filter(F.col("n") >= 3)
        .filter(F.col("mu") > 0)
    )
    cv = per_part.select(
        (
            F.sqrt(F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(0.0)))
            / F.col("mu")
        ).alias("cv")
    )
    return cv.agg(
        bcount("n_parts"),
        F.count_if(F.col("cv") > 0.2).cast("bigint").alias("n_dispersed"),
        F.round(
            F.count_if(F.col("cv") > 0.2).cast("double") / F.count(F.lit(1)), 6
        ).alias("dispersed_share"),
        F.round(
            F.sum(F.col("cv").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_cv"),
        F.round(F.max("cv"), 6).alias("max_cv"),
    )


@register(
    "q_taylors_law",
    oracle=f"""
    WITH daily AS (
      SELECT p.p_brand AS g, CAST(o.o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(q * q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               - (CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
                 * (CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
               AS v
      FROM daily GROUP BY g HAVING COUNT(*) >= 30
    ),
    pts AS (
      SELECT CAST(ln(mu) AS DECIMAL(18,12)) AS x,
             CAST(ln(v) AS DECIMAL(18,12)) AS y
      FROM per_g WHERE mu > 0 AND v > 0
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT n AS n_brands,
           round({OLS_SLOPE_SQL}, 6)
             AS taylor_exponent_b,
           round(exp((sy - {OLS_SLOPE_SQL} * sx)
                     / n), 6) AS taylor_coeff_a,
           CASE WHEN {OLS_SLOPE_SQL} < 1.3
                THEN 'poisson_like'
                WHEN {OLS_SLOPE_SQL} > 1.7
                THEN 'aggregated' ELSE 'intermediate' END AS regime
    FROM m
    """,
)
def q_taylors_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Taylor's power law across brands: fit ln Var = ln a + b·ln Mean
    over per-brand daily demand (brands with ≥30 active days) — the
    variance-scaling exponent that says whether demand noise grows like
    the mean (b≈1, Poisson-like) or like its square (b≈2, synchronized /
    aggregated), which is exactly the factor deciding how confidence
    intervals must widen when rolling small groups into big ones
    (quantifying the q_bullwhip_effect mechanism group-by-group).

    Determinism: per-brand moments are exact decimal sums; ln points are
    decimal-cast before the OLS moment sums (the q_heaps_law discipline).

    Scale: one three-table rollup (broadcast part dim) → |brands|×|days|
    grid → |brands| moment rows → 1-row fit. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    p = load(spark, sf_dir, "part")
    daily = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("p_brand").alias("g"),
            F.col("o_orderdate").cast("date").alias("d"),
        )
        .agg(F.sum(dec("l_quantity")).cast("double").alias("q"))
    )
    mu = F.sum(dec("q")).cast("double") / F.count(F.lit(1))
    per_g = (
        daily.groupBy("g")
        .agg(
            bcount("n"),
            mu.alias("mu"),
            (
                F.sum((F.col("q") * F.col("q")).cast("decimal(28,6)")).cast(
                    "double"
                )
                / F.count(F.lit(1))
                - mu * mu
            ).alias("v"),
        )
        .filter((F.col("n") >= 30) & (F.col("mu") > 0) & (F.col("v") > 0))
    )
    pts = per_g.select(
        F.log("mu").cast("decimal(18,12)").alias("x"),
        F.log("v").cast("decimal(18,12)").alias("y"),
    )
    m = pts.agg(
        bcount("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            (F.col("x").cast("double") * F.col("y").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("x").cast("double") * F.col("x").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxx"),
    )
    b = ols_slope()
    return m.select(
        F.col("n").alias("n_brands"),
        F.round(b, 6).alias("taylor_exponent_b"),
        F.round(
            F.exp((F.col("sy") - b * F.col("sx")) / F.col("n")), 6
        ).alias("taylor_coeff_a"),
        F.when(b < 1.3, "poisson_like")
        .when(b > 1.7, "aggregated")
        .otherwise("intermediate")
        .alias("regime"),
    )


@register(
    "q_survivorship_bias",
    oracle="""
    WITH anchor AS (SELECT MAX(ts) AS tmax FROM events),
    users AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted,
             CAST(MAX(CASE WHEN e.ts >= a.tmax - INTERVAL 7 DAY
                      THEN 1 ELSE 0 END) AS BIGINT) AS survivor
      FROM events e, anchor a GROUP BY user_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
             CAST(SUM(survivor) AS BIGINT) AS n_survivors,
             CAST(SUM(n_events) AS BIGINT) AS ev_all,
             CAST(SUM(CASE WHEN survivor = 1 THEN n_events END) AS BIGINT)
               AS ev_surv,
             CAST(SUM(converted) AS BIGINT) AS conv_all,
             CAST(SUM(CASE WHEN survivor = 1 THEN converted END) AS BIGINT)
               AS conv_surv
      FROM users
    )
    SELECT n_all AS n_users, n_survivors,
           round(CAST(ev_all AS DOUBLE) / n_all, 6) AS events_per_user_all,
           round(CAST(ev_surv AS DOUBLE) / n_survivors, 6)
             AS events_per_user_survivors,
           round(CAST(ev_surv AS DOUBLE) / n_survivors
                 / (CAST(ev_all AS DOUBLE) / n_all), 4)
             AS engagement_inflation,
           round(CAST(conv_surv AS DOUBLE) / n_survivors
                 - CAST(conv_all AS DOUBLE) / n_all, 6)
             AS conversion_rate_bias
    FROM s
    """,
)
def q_survivorship_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship-bias pricing: compare engagement and conversion
    averaged over ALL users vs only "survivors" (users active in the
    final week of the log) — the inflation factor every dashboard that
    filters to recently-active users silently applies; reporting it as a
    ratio makes the bias a number instead of an anecdote (companion to
    q_dormancy_winback and q_growth_accounting, which track the churn
    this bias hides).

    All counts exact; the anchor week is derived from the data's own max
    timestamp.

    Scale: one user rollup with the 1-row anchor broadcast; summary is
    1 row. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("tmax"))
    users = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            bcount("n_events"),
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("converted"),
            F.max(
                F.when(
                    F.col("ts") >= F.col("tmax") - F.expr("INTERVAL 7 DAY"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("survivor"),
        )
    )
    s = users.agg(
        bcount("n_all"),
        F.sum("survivor").cast("bigint").alias("n_survivors"),
        F.sum("n_events").cast("bigint").alias("ev_all"),
        F.sum(F.when(F.col("survivor") == 1, F.col("n_events")))
        .cast("bigint")
        .alias("ev_surv"),
        F.sum("converted").cast("bigint").alias("conv_all"),
        F.sum(F.when(F.col("survivor") == 1, F.col("converted")))
        .cast("bigint")
        .alias("conv_surv"),
    )
    epu_all = F.col("ev_all").cast("double") / F.col("n_all")
    epu_surv = F.col("ev_surv").cast("double") / F.col("n_survivors")
    return s.select(
        F.col("n_all").alias("n_users"),
        "n_survivors",
        F.round(epu_all, 6).alias("events_per_user_all"),
        F.round(epu_surv, 6).alias("events_per_user_survivors"),
        F.round(epu_surv / epu_all, 4).alias("engagement_inflation"),
        F.round(
            F.col("conv_surv").cast("double") / F.col("n_survivors")
            - F.col("conv_all").cast("double") / F.col("n_all"),
            6,
        ).alias("conversion_rate_bias"),
    )
