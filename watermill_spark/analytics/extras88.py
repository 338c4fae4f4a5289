"""Analytics batch 96: entropy-weighted TOPSIS multi-criteria ranking of
brands, the ARCH-effect test (volatility clustering via autocorrelation
of squared returns), and the Laplace rule of succession on daily error
incidence.

TOPSIS brings the multi-criteria-decision family into the engine: rank
alternatives by closeness to the ideal point under criterion weights
derived from the data itself (entropy weighting — criteria that vary
more carry more information).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue


@register(
    "q_topsis_ranking",
    oracle="""
    WITH crit AS (
      SELECT p.p_brand AS b,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS c1,
             CAST(COUNT(*) AS DOUBLE) AS c2,
             CAST(COUNT(DISTINCT l.l_partkey) AS DOUBLE) AS c3
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1
    ),
    norms AS (
      SELECT sqrt(CAST(SUM(CAST(c1 * c1 AS DECIMAL(38,6))) AS DOUBLE))
               AS n1,
             sqrt(CAST(SUM(CAST(c2 * c2 AS DECIMAL(38,6))) AS DOUBLE))
               AS n2,
             sqrt(CAST(SUM(CAST(c3 * c3 AS DECIMAL(38,6))) AS DOUBLE))
               AS n3,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM crit
    ),
    nm AS (
      SELECT c.b, c.c1 / n.n1 AS v1, c.c2 / n.n2 AS v2, c.c3 / n.n3 AS v3,
             n.k
      FROM crit c, norms n
    ),
    colsum AS (
      SELECT CAST(SUM(CAST(v1 AS DECIMAL(28,15))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(v2 AS DECIMAL(28,15))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(v3 AS DECIMAL(28,15))) AS DOUBLE) AS s3
      FROM nm
    ),
    ent AS (
      SELECT
        CAST(SUM(CAST(-(nm.v1 / cs.s1) * ln(nm.v1 / cs.s1)
                 AS DECIMAL(28,15))) AS DOUBLE) / ln(CAST(nm.k AS DOUBLE))
          AS e1,
        CAST(SUM(CAST(-(nm.v2 / cs.s2) * ln(nm.v2 / cs.s2)
                 AS DECIMAL(28,15))) AS DOUBLE) / ln(CAST(nm.k AS DOUBLE))
          AS e2,
        CAST(SUM(CAST(-(nm.v3 / cs.s3) * ln(nm.v3 / cs.s3)
                 AS DECIMAL(28,15))) AS DOUBLE) / ln(CAST(nm.k AS DOUBLE))
          AS e3
      FROM nm, colsum cs GROUP BY nm.k
    ),
    wts AS (
      SELECT (1 - e1) / ((1 - e1) + (1 - e2) + (1 - e3)) AS w1,
             (1 - e2) / ((1 - e1) + (1 - e2) + (1 - e3)) AS w2,
             (1 - e3) / ((1 - e1) + (1 - e2) + (1 - e3)) AS w3
      FROM ent
    ),
    weighted AS (
      SELECT nm.b, nm.v1 * w.w1 AS x1, nm.v2 * w.w2 AS x2,
             nm.v3 * w.w3 AS x3
      FROM nm, wts w
    ),
    ideal AS (
      SELECT MAX(x1) AS b1, MAX(x2) AS b2, MAX(x3) AS b3,
             MIN(x1) AS w1, MIN(x2) AS w2, MIN(x3) AS w3
      FROM weighted
    ),
    scored AS (
      SELECT wd.b,
             sqrt((wd.x1 - i.b1) * (wd.x1 - i.b1)
                  + (wd.x2 - i.b2) * (wd.x2 - i.b2)
                  + (wd.x3 - i.b3) * (wd.x3 - i.b3)) AS d_best,
             sqrt((wd.x1 - i.w1) * (wd.x1 - i.w1)
                  + (wd.x2 - i.w2) * (wd.x2 - i.w2)
                  + (wd.x3 - i.w3) * (wd.x3 - i.w3)) AS d_worst
      FROM weighted wd, ideal i
    )
    SELECT b AS brand,
           round(d_worst / (d_best + d_worst), 6) AS topsis_closeness,
           ROW_NUMBER() OVER (
             ORDER BY round(d_worst / (d_best + d_worst), 6) DESC, b)
             AS rank
    FROM scored
    ORDER BY rank
    LIMIT 10
    """,
)
def q_topsis_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy-weighted TOPSIS ranking of brands over three criteria
    (revenue, line count, distinct parts): vector-normalize the criteria
    matrix, derive weights from each criterion's information content
    (1 − normalized entropy), then rank by relative closeness
    d⁻/(d⁺+d⁻) to the ideal/anti-ideal points — the classical
    multi-criteria decision method, giving a principled single ranking
    where q_abc_xyz_matrix's two-axis grid leaves a judgment call.

    Determinism: criteria are exact aggregates; norm/entropy/closeness
    sums are per-term DECIMAL-cast; the rank orders the 6-dp rounded
    closeness with a brand tiebreak.

    Scale: one rollup to |brands| rows; every later stage is grid-sized
    with 1-row norm/weight broadcasts. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    crit = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("b"))
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("c1"),
            F.count(F.lit(1)).cast("double").alias("c2"),
            F.count_distinct("l_partkey").cast("double").alias("c3"),
        )
        # checkpointed once (r6): the |brands| criteria grid feeds norms,
        # entropy weights, and the closeness stage — each reference
        # re-derived the lineitem join (12 scans in the plan)
        .localCheckpoint(eager=True)
    )

    def l2(c: str, alias: str):
        return F.sqrt(
            F.sum((F.col(c) * F.col(c)).cast("decimal(38,6)")).cast("double")
        ).alias(alias)

    norms = crit.agg(l2("c1", "n1"), l2("c2", "n2"), l2("c3", "n3"), bcount("k"))
    nm = crit.crossJoin(F.broadcast(norms)).select(
        "b",
        (F.col("c1") / F.col("n1")).alias("v1"),
        (F.col("c2") / F.col("n2")).alias("v2"),
        (F.col("c3") / F.col("n3")).alias("v3"),
        "k",
    )
    colsum = nm.agg(
        *[
            F.sum(F.col(f"v{i}").cast("decimal(28,15)"))
            .cast("double")
            .alias(f"s{i}")
            for i in (1, 2, 3)
        ]
    )
    j = nm.crossJoin(F.broadcast(colsum))
    lnk = F.log(F.col("k").cast("double"))

    def e(i: int):
        p = F.col(f"v{i}") / F.col(f"s{i}")
        return (
            F.sum((-p * F.log(p)).cast("decimal(28,15)")).cast("double") / F.max(lnk)
        ).alias(f"e{i}")

    ent = j.groupBy("k").agg(e(1), e(2), e(3)).drop("k")
    wsum = (1 - F.col("e1")) + (1 - F.col("e2")) + (1 - F.col("e3"))
    wts = ent.select(
        *[((1 - F.col(f"e{i}")) / wsum).alias(f"w{i}") for i in (1, 2, 3)]
    )
    weighted = nm.crossJoin(F.broadcast(wts)).select(
        "b",
        (F.col("v1") * F.col("w1")).alias("x1"),
        (F.col("v2") * F.col("w2")).alias("x2"),
        (F.col("v3") * F.col("w3")).alias("x3"),
    )
    ideal = weighted.agg(
        F.max("x1").alias("b1"),
        F.max("x2").alias("b2"),
        F.max("x3").alias("b3"),
        F.min("x1").alias("w1"),
        F.min("x2").alias("w2"),
        F.min("x3").alias("w3"),
    )
    sj = weighted.crossJoin(F.broadcast(ideal))
    d_best = F.sqrt(
        (F.col("x1") - F.col("b1")) * (F.col("x1") - F.col("b1"))
        + (F.col("x2") - F.col("b2")) * (F.col("x2") - F.col("b2"))
        + (F.col("x3") - F.col("b3")) * (F.col("x3") - F.col("b3"))
    )
    d_worst = F.sqrt(
        (F.col("x1") - F.col("w1")) * (F.col("x1") - F.col("w1"))
        + (F.col("x2") - F.col("w2")) * (F.col("x2") - F.col("w2"))
        + (F.col("x3") - F.col("w3")) * (F.col("x3") - F.col("w3"))
    )
    closeness = F.round(d_worst / (d_best + d_worst), 6)
    scored = sj.select("b", closeness.alias("topsis_closeness"))
    return (
        scored.select(
            F.col("b").alias("brand"),
            "topsis_closeness",
            F.row_number()
            .over(Window.orderBy(F.col("topsis_closeness").desc(), "b"))
            .alias("rank"),
        )
        .orderBy("rank")
        .limit(10)
    )


@register(
    "q_arch_effect",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    ret AS (
      SELECT d, rev / LAG(rev) OVER (ORDER BY d) - 1.0 AS r FROM daily
    ),
    sq AS (
      SELECT d, r * r AS r2 FROM ret WHERE r IS NOT NULL
    ),
    lagd AS (
      SELECT r2, LAG(r2) OVER (ORDER BY d) AS pr2 FROM sq
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(r2 AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(pr2 AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(r2 * pr2 AS DECIMAL(38,18))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(r2 * r2 AS DECIMAL(38,18))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(pr2 * pr2 AS DECIMAL(38,18))) AS DOUBLE) AS syy
      FROM lagd WHERE pr2 IS NOT NULL
    )
    SELECT n AS n_obs,
           round((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
             AS rho1_squared_returns,
           round(n * ((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                 * ((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))), 6)
             AS arch_lm_stat,
           CASE WHEN n * ((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                 * ((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)))
                     > 3.841459
                THEN 'volatility_clustering' ELSE 'homoscedastic' END
             AS verdict
    FROM mom
    """,
)
def q_arch_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH-effect test (one lag): the autocorrelation of
    *squared* daily revenue returns, with LM = n·ρ₁² against χ²(1) —
    volatility clustering means calm and turbulent days come in spells
    even when returns themselves are uncorrelated, which is what decides
    whether q_var_historical's flat VaR or a regime-aware one is honest
    (this is the formal test behind q_var_backtest's clustered-exceedance
    verdict and q_bollinger_daily's moving bands).

    Determinism: squared returns derive from exact-decimal daily sums;
    correlation moments are DECIMAL-cast per day.

    Scale: two lag windows over the calendar-bounded grid → 1 row.
    §2.B [NS].
    """
    daily = daily_order_revenue(spark, sf_dir)
    w = Window.orderBy("d")
    ret = daily.select(
        "d", (F.col("rev") / F.lag("rev").over(w) - 1.0).alias("r")
    ).filter(F.col("r").isNotNull())
    sq = ret.select("d", (F.col("r") * F.col("r")).alias("r2"))
    lagd = sq.select(
        "r2", F.lag("r2").over(Window.orderBy("d")).alias("pr2")
    ).filter(F.col("pr2").isNotNull())
    mom = lagd.agg(
        bcount("n"),
        F.sum(F.col("r2").cast("decimal(38,15)")).cast("double").alias("sx"),
        F.sum(F.col("pr2").cast("decimal(38,15)")).cast("double").alias("sy"),
        F.sum((F.col("r2") * F.col("pr2")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("r2") * F.col("r2")).cast("decimal(38,18)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("pr2") * F.col("pr2")).cast("decimal(38,18)"))
        .cast("double")
        .alias("syy"),
    )
    n = F.col("n")
    rho = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (n * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (n * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    lm = n * rho * rho
    return mom.select(
        n.alias("n_obs"),
        F.round(rho, 6).alias("rho1_squared_returns"),
        F.round(lm, 6).alias("arch_lm_stat"),
        F.when(lm > 3.841459, "volatility_clustering")
        .otherwise("homoscedastic")
        .alias("verdict"),
    )


@register(
    "q_laplace_succession",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS had_error
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(had_error) AS BIGINT) AS error_days
      FROM daily
    )
    SELECT n_days, error_days,
           round(CAST(error_days AS DOUBLE) / n_days, 6) AS mle_rate,
           round(CAST(error_days + 1 AS DOUBLE) / (n_days + 2), 6)
             AS laplace_rate,
           round(CAST(error_days + 1 AS DOUBLE) / (n_days + 2)
                 - CAST(error_days AS DOUBLE) / n_days, 6)
             AS shrinkage_toward_half
    FROM s
    """,
)
def q_laplace_succession(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Laplace's rule of succession on daily error incidence: the
    probability tomorrow has at least one error event estimated as
    (s+1)/(n+2) rather than the MLE s/n — the oldest regularized
    estimator there is (never exactly 0 or 1 on finite data), and the
    simplest member of the engine's shrinkage family
    (q_eb_shrinkage, q_beta_binomial_posterior generalize the same
    add-pseudo-count idea with data-driven priors).

    All-integer counts; both rates are exact-count ratios.

    Scale: one daily rollup → 1 row. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.max(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("had_error")
    )
    s = daily.agg(
        bcount("n_days"), F.sum("had_error").cast("bigint").alias("error_days")
    )
    mle = F.col("error_days").cast("double") / F.col("n_days")
    lap = (F.col("error_days") + 1).cast("double") / (F.col("n_days") + 2)
    return s.select(
        "n_days",
        "error_days",
        F.round(mle, 6).alias("mle_rate"),
        F.round(lap, 6).alias("laplace_rate"),
        F.round(lap - mle, 6).alias("shrinkage_toward_half"),
    )
