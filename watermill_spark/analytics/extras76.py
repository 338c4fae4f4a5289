"""Analytics batch 84: Good–Turing frequency smoothing of the token
distribution, a Bass diffusion fit of cumulative customer adoption, and
the AR(1) mean-reversion half-life of daily revenue.

Good–Turing turns frequency-of-frequencies into the unseen-mass estimate
every language model needs; Bass (via the discrete quadratic regression,
solved with the engine's Cramer machinery) separates innovation from
imitation in adoption; the half-life converts q_ar2_yule_walker-style
autocorrelation into an operational time constant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register
from .extras48 import _SQL_DAILY_1995, _SQL_GAMMAS, _spark_centered_daily, _spark_gammas


@register(
    "q_good_turing",
    oracle="""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE t <> '' GROUP BY t
    ),
    fof AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS nc
      FROM counts GROUP BY c
    ),
    n_tot AS (SELECT CAST(SUM(c * nc) AS BIGINT) AS n FROM fof),
    adj AS (
      SELECT f.c, f.nc,
             f2.nc AS nc_next,
             CAST((f.c + 1) AS DOUBLE) * f2.nc / f.nc AS c_star
      FROM fof f LEFT JOIN fof f2 ON f2.c = f.c + 1
      WHERE f.c <= 5
    )
    SELECT c AS raw_count, nc AS n_types_at_c,
           COALESCE(nc_next, 0) AS n_types_at_c_plus_1,
           round(c_star, 6) AS gt_adjusted_count,
           round(CAST(c AS DOUBLE) - c_star, 6) AS discount,
           round((SELECT CAST(MAX(CASE WHEN c = 1 THEN nc END) AS DOUBLE)
                  FROM fof)
                 / (SELECT n FROM n_tot), 6) AS p_unseen_mass
    FROM adj
    ORDER BY c
    """,
)
def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing smoothing of token frequencies: adjusted counts
    c* = (c+1)·N_{c+1}/N_c for c = 1..5 and the unseen-probability mass
    N₁/N — the classical discounting scheme behind every smoothed n-gram
    language model (and the estimator whose input,
    frequency-of-frequencies, the engine already profiles); pairs with
    q_chao1_richness (how many unseen types) by pricing how much
    probability they deserve.

    All-integer inputs; adjusted counts are exact-count ratios rounded at
    1e-6.

    Scale: tokenize → counts → the ≤max(c) frequency-of-frequencies grid;
    the adjustment is a self-join on c+1 over that tiny grid. §2.B text
    surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    counts = tok.groupBy("t").agg(bcount("c"))
    # checkpoint the tiny frequency-of-frequencies grid (r6): its four
    # consumers each re-derived the whole tokenize+count lineage
    fof = counts.groupBy("c").agg(bcount("nc")).localCheckpoint(eager=True)
    n_tot = fof.agg(F.sum(F.col("c") * F.col("nc")).cast("bigint").alias("n"))
    n1 = fof.filter(F.col("c") == 1).select(F.col("nc").alias("n1"))
    fnext = fof.select((F.col("c") - 1).alias("c"), F.col("nc").alias("nc_next"))
    adj = (
        fof.filter(F.col("c") <= 5)
        .join(F.broadcast(fnext), "c", "left")
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(n1))
    )
    c_star = (F.col("c") + 1).cast("double") * F.col("nc_next") / F.col("nc")
    return (
        adj.select(
            F.col("c").alias("raw_count"),
            F.col("nc").alias("n_types_at_c"),
            F.coalesce(F.col("nc_next"), F.lit(0)).alias("n_types_at_c_plus_1"),
            F.round(c_star, 6).alias("gt_adjusted_count"),
            F.round(F.col("c").cast("double") - c_star, 6).alias("discount"),
            F.round(F.col("n1").cast("double") / F.col("n"), 6).alias(
                "p_unseen_mass"
            ),
        )
        .orderBy("raw_count")
    )


@register(
    "q_bass_diffusion",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(CAST(date_trunc('month', o_orderdate)
                               AS TIMESTAMP)) AS m0
      FROM orders GROUP BY 1
    ),
    adopt AS (
      SELECT m0 AS m, CAST(COUNT(*) AS BIGINT) AS n_new
      FROM firsts GROUP BY 1
    ),
    series AS (
      SELECT m, n_new,
             CAST(COALESCE(SUM(n_new) OVER (ORDER BY m
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS cum_prev
      FROM adopt
    ),
    obs AS (
      SELECT CAST(n_new AS DOUBLE) AS y,
             CAST(cum_prev AS DOUBLE) AS x1,
             CAST(cum_prev AS DOUBLE) * cum_prev AS x2
      FROM series
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x1 AS DECIMAL(28,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(x2 AS DECIMAL(28,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x1 * x1 AS DECIMAL(38,6))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(x2 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(x1 * x2 AS DECIMAL(38,6))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(x1 * y AS DECIMAL(38,6))) AS DOUBLE) AS s1y,
             CAST(SUM(CAST(x2 * y AS DECIMAL(38,6))) AS DOUBLE) AS s2y
      FROM obs
    ),
    fit AS (
      SELECT n,
             ((s1y - s1 * sy / n) * (s22 - s2 * s2 / n)
              - (s2y - s2 * sy / n) * (s12 - s1 * s2 / n))
             / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
                - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS b1,
             ((s2y - s2 * sy / n) * (s11 - s1 * s1 / n)
              - (s1y - s1 * sy / n) * (s12 - s1 * s2 / n))
             / ((s11 - s1 * s1 / n) * (s22 - s2 * s2 / n)
                - (s12 - s1 * s2 / n) * (s12 - s1 * s2 / n)) AS b2,
             sy / n AS my, s1 / n AS m1, s2 / n AS m2
      FROM mom
    )
    SELECT n AS n_months,
           round(my - b1 * m1 - b2 * m2, 4) AS bass_a,
           round(b1, 8) AS bass_b,
           round(b2, 12) AS bass_c,
           round((-b1 - sqrt(b1 * b1 - 4 * b2
                             * (my - b1 * m1 - b2 * m2)))
                 / (2 * b2), 1) AS implied_market_size
    FROM fit
    """,
)
def q_bass_diffusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bass diffusion fit of customer adoption: regress monthly new
    adopters on cumulative prior adopters and its square (the discrete
    Bass identity n_t = a + b·N_{t−1} + c·N²_{t−1}), solved in closed
    form with the engine's Cramer two-regressor machinery; the positive
    root of a + bN + cN² = 0 is the implied ultimate market size —
    marketing science's canonical adoption model, upgrading
    q_product_adoption_ramp (which plots the curve this fits).

    Determinism: adopter counts are exact integers; regression moments
    are DECIMAL-cast per month; Cramer algebra is fixed-shape doubles.

    Scale: first-order rollup per customer → calendar-bounded monthly
    series → 1-row solve. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(
        F.min(F.date_trunc("month", "o_orderdate")).alias("m0")
    )
    adopt = firsts.groupBy(F.col("m0").alias("m")).agg(bcount("n_new"))
    series = adopt.select(
        "n_new",
        F.coalesce(
            F.sum("n_new").over(
                Window.orderBy("m").rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        )
        .cast("bigint")
        .alias("cum_prev"),
    )
    obs = series.select(
        F.col("n_new").cast("double").alias("y"),
        F.col("cum_prev").cast("double").alias("x1"),
        (F.col("cum_prev").cast("double") * F.col("cum_prev")).alias("x2"),
    )

    def cr(a: str, b: str, alias: str, typ: str = "decimal(38,6)"):
        return (
            F.sum((F.col(a) * F.col(b)).cast(typ)).cast("double").alias(alias)
        )

    mom = obs.agg(
        bcount("n"),
        F.sum(F.col("x1").cast("decimal(28,6)")).cast("double").alias("s1"),
        F.sum(F.col("x2").cast("decimal(28,6)")).cast("double").alias("s2"),
        F.sum(F.col("y").cast("decimal(28,6)")).cast("double").alias("sy"),
        cr("x1", "x1", "s11"),
        cr("x2", "x2", "s22"),
        cr("x1", "x2", "s12"),
        cr("x1", "y", "s1y"),
        cr("x2", "y", "s2y"),
    )
    n = F.col("n")
    a11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    a22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    a12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    b1v = F.col("s1y") - F.col("s1") * F.col("sy") / n
    b2v = F.col("s2y") - F.col("s2") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    b1 = (b1v * a22 - b2v * a12) / det
    b2 = (b2v * a11 - b1v * a12) / det
    a = F.col("sy") / n - b1 * F.col("s1") / n - b2 * F.col("s2") / n
    return mom.select(
        n.alias("n_months"),
        F.round(a, 4).alias("bass_a"),
        F.round(b1, 8).alias("bass_b"),
        F.round(b2, 12).alias("bass_c"),
        F.round(
            (-b1 - F.sqrt(b1 * b1 - 4 * b2 * a)) / (2 * b2), 1
        ).alias("implied_market_size"),
    )


@register(
    "q_mean_reversion_half_life",
    oracle=f"""
    WITH {_SQL_DAILY_1995},
    {_SQL_GAMMAS}
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n_days,
           round(g1 / g0, 6) AS rho_1,
           round(-ln(2.0) / ln(g1 / g0), 4) AS half_life_days,
           round(1.0 / (1.0 - g1 / g0), 4) AS mean_reversion_time_days,
           CASE WHEN g1 / g0 > 0.5 THEN 'slow_reverting'
                WHEN g1 / g0 > 0.0 THEN 'fast_reverting'
                ELSE 'anti_persistent' END AS regime
    FROM g
    WHERE g1 / g0 > 0 AND g1 / g0 < 1
    """,
)
def q_mean_reversion_half_life(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(1) mean-reversion half-life of 1995 daily revenue: with
    ρ₁ = γ₁/γ₀, a shock decays to half its size in −ln2/ln ρ₁ days (and
    the integrated reversion time is 1/(1−ρ₁)) — the time-constant
    translation of the autocorrelation machinery (q_acf_daily_revenue,
    q_effective_sample_size) into the operational question "how long
    does a demand shock last?" — the number inventory buffers and alert
    cool-downs should be sized by.

    Determinism: ρ₁ is a ratio of exact DECIMAL autocovariances; ln is
    evaluated on identical doubles and rounded at 1e-4.

    Scale: same calendar-bounded shape as the ACF family. §2.B [NS].
    """
    cdf = _spark_centered_daily(spark, sf_dir)
    g = _spark_gammas(cdf)
    nd = cdf.agg(bcount("n_days"))
    rho = F.col("g1") / F.col("g0")
    s = g.crossJoin(F.broadcast(nd)).filter((rho > 0) & (rho < 1))
    return s.select(
        "n_days",
        F.round(rho, 6).alias("rho_1"),
        F.round(-F.log(F.lit(2.0)) / F.log(rho), 4).alias("half_life_days"),
        F.round(1.0 / (1.0 - rho), 4).alias("mean_reversion_time_days"),
        F.when(rho > 0.5, "slow_reverting")
        .when(rho > 0.0, "fast_reverting")
        .otherwise("anti_persistent")
        .alias("regime"),
    )
