"""Analytics batch 179: Wilson lower-bound ranking, I² heterogeneity,
and a gamma method-of-moments fit.

Wilson's lower confidence bound is THE answer to "how do you sort by
rating?" — ranking by raw rate promotes 1-of-1 flukes, ranking by the
95% lower bound promotes evidence (the reddit/Evan Miller sort,
complementing the posterior-mean shrinkage of
q_beta_binomial_shrinkage). I² quantifies how much of the between-
nation effect spread is real heterogeneity vs sampling noise — the
number that decides whether q_meta_analysis may pool at all. The gamma
moment fit covers the right-skewed positive family the distribution
shelf (weibull/lognormal/negative-binomial) was missing.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B statistics families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .extras167 import _NATION_EFF_SQL, _nation_eff
from .registry import load, register

_Z = 1.96
_Z2 = _Z * _Z


@register(
    "q_wilson_lower_bound",
    oracle=f"""
    WITH rates AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM lineitem GROUP BY 1 HAVING COUNT(*) >= 3
    ),
    scored AS (
      SELECT l_partkey, n, k,
             CAST(k AS DOUBLE) / n AS p,
             ((CAST(k AS DOUBLE) / n) + {_Z2} / (2.0 * n)
              - {_Z} * sqrt(((CAST(k AS DOUBLE) / n)
                             * (1.0 - CAST(k AS DOUBLE) / n)
                             + {_Z2} / (4.0 * n)) / n))
             / (1.0 + {_Z2} / n) AS wilson_lb
      FROM rates
    ),
    top AS (
      SELECT * FROM scored
      ORDER BY wilson_lb DESC, l_partkey LIMIT 10
    )
    SELECT l_partkey, n AS n_lines, k AS n_returned,
           round(p, 6) AS raw_rate,
           round(wilson_lb, 6) AS wilson_lower_bound
    FROM top ORDER BY round(wilson_lb, 6) DESC, l_partkey
    """,
)
def q_wilson_lower_bound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score lower-bound ranking of per-part return rates: the
    10 parts whose 95% lower confidence bound on the return rate is
    highest — the "how to sort by rating" answer that a raw-rate sort
    gets wrong (a 1-of-1 return outranks 40-of-50 on raw rate; the
    Wilson bound inverts that), the frequentist sibling of
    q_beta_binomial_shrinkage's posterior means.

    Determinism: the bound is a fixed double expression of integer
    counts; the top-10 selects on the unrounded bound with partkey
    tiebreaks on both engines.

    Scale: one fact rollup to the part grain + a sort-limit — no
    joins. §2.B statistics/top-k family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    rates = (
        li.groupBy("l_partkey")
        .agg(
            bcount("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("k"),
        )
        .filter(F.col("n") >= 3)
    )
    p = F.col("k").cast("double") / F.col("n")
    lb = (
        p
        + _Z2 / (2.0 * F.col("n"))
        - _Z * F.sqrt((p * (1.0 - p) + _Z2 / (4.0 * F.col("n"))) / F.col("n"))
    ) / (1.0 + _Z2 / F.col("n"))
    scored = rates.select("l_partkey", "n", "k", p.alias("p"), lb.alias("wilson_lb"))
    top = scored.orderBy(F.col("wilson_lb").desc(), "l_partkey").limit(10)
    return top.select(
        "l_partkey",
        F.col("n").alias("n_lines"),
        F.col("k").alias("n_returned"),
        F.round("p", 6).alias("raw_rate"),
        F.round("wilson_lb", 6).alias("wilson_lower_bound"),
    ).orderBy(F.col("wilson_lower_bound").desc(), "l_partkey")


@register(
    "q_i2_heterogeneity",
    oracle=f"""
    WITH {_NATION_EFF_SQL},
    w AS (
      SELECT diff, 1.0 / (se * se) AS wt FROM eff
    ),
    pooled AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(wt * diff AS DECIMAL(38,10))) AS DOUBLE)
             / CAST(SUM(CAST(wt AS DECIMAL(38,15))) AS DOUBLE)
               AS theta
      FROM w
    ),
    q AS (
      SELECT p.k, p.theta,
             CAST(SUM(CAST(w.wt * (w.diff - p.theta)
                           * (w.diff - p.theta)
                           AS DECIMAL(38,10))) AS DOUBLE) AS qstat
      FROM w, pooled p GROUP BY 1, 2
    ),
    i AS (
      SELECT k, theta, qstat,
             CASE WHEN qstat > 0
                  THEN GREATEST(0.0, (qstat - (k - 1.0)) / qstat)
                  ELSE 0.0 END AS i2
      FROM q
    )
    SELECT k AS n_studies,
           round(theta, 4) AS pooled_effect,
           round(qstat, 6) AS cochran_q,
           round(i2 * 100.0, 4) AS i2_pct,
           CASE WHEN i2 < 0.25 THEN 'low'
                WHEN i2 < 0.5 THEN 'moderate'
                ELSE 'substantial' END AS heterogeneity
    FROM i
    """,
)
def q_i2_heterogeneity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q and Higgins' I² across the per-nation weekend-effect
    "studies": Q = Σw(θ_g − θ̂)² with inverse-variance weights, and
    I² = max(0, (Q − df)/Q) — the share of effect spread that is REAL
    heterogeneity rather than sampling noise; I² above ~50% means
    q_meta_analysis's fixed-effect pooling is lying and a
    random-effects model (or q_eggers_test's bias check) is needed.

    Determinism: effects/SEs come from the shared decimal-exact
    per-nation moment builder (extras167); weighted sums route through
    DECIMAL.

    Scale: the study table is ≤|nations| rows from one broadcast-star
    rollup; Q and I² read it twice with a 1-row pooled broadcast.
    §2.B statistics family [NS].
    """
    eff = _nation_eff(spark, sf_dir)
    w = eff.select(
        "diff", (1.0 / (F.col("se") * F.col("se"))).alias("wt")
    )
    pooled = w.agg(
        bcount("k"),
        (
            F.sum((F.col("wt") * F.col("diff")).cast("decimal(38,10)")).cast(
                "double"
            )
            / F.sum(F.col("wt").cast(D15)).cast("double")
        ).alias("theta"),
    )
    q = (
        w.crossJoin(F.broadcast(pooled))
        .groupBy("k", "theta")
        .agg(
            F.sum(
                (
                    F.col("wt")
                    * (F.col("diff") - F.col("theta"))
                    * (F.col("diff") - F.col("theta"))
                ).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("qstat")
        )
    )
    # Q == 0 (all study effects equal the pooled effect) must yield the
    # conventional I² = 0, not -inf/NaN from the 0/0 division
    i2 = F.when(
        F.col("qstat") > 0,
        F.greatest(
            F.lit(0.0), (F.col("qstat") - (F.col("k") - 1.0)) / F.col("qstat")
        ),
    ).otherwise(F.lit(0.0))
    return q.select(
        F.col("k").alias("n_studies"),
        F.round("theta", 4).alias("pooled_effect"),
        F.round("qstat", 6).alias("cochran_q"),
        F.round(i2 * 100.0, 4).alias("i2_pct"),
        F.when(i2 < 0.25, "low")
        .when(i2 < 0.5, "moderate")
        .otherwise("substantial")
        .alias("heterogeneity"),
    )


@register(
    "q_gamma_fit_moments",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM orders GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,10))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS ss,
             CAST(SUM(CAST(ln(y) AS DECIMAL(38,15))) AS DOUBLE) AS slog
      FROM spend WHERE y > 0
    ),
    fit AS (
      SELECT n, s / n AS mean,
             (ss - s * s / n) / (n - 1.0) AS var,
             (s / n) * (s / n) / ((ss - s * s / n) / (n - 1.0)) AS shape,
             (s / n) / ((ss - s * s / n) / (n - 1.0)) AS rate,
             ln(s / n) - slog / n AS log_gap
      FROM mom
    )
    SELECT n AS n_customers,
           round(mean, 4) AS mean_spend,
           round(shape, 6) AS gamma_shape,
           round(rate, 8) AS gamma_rate,
           round((3.0 - log_gap
                  + sqrt((log_gap - 3.0) * (log_gap - 3.0)
                         + 24.0 * log_gap)) / (12.0 * log_gap), 6)
             AS shape_mle_approx
    FROM fit
    """,
)
def q_gamma_fit_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gamma fit to customer spend: method-of-moments shape k = μ²/σ²
    and rate λ = μ/σ², plus the closed-form MLE approximation
    k̂ ≈ (3 − s + √((s−3)² + 24s))/(12s) with s = ln(mean) − mean(ln)
    (Minka/Thom) — the right-skewed positive-support member the
    distribution-fit shelf (q_weibull_median_rank, lognormal KS,
    q_negative_binomial_fit) was missing; MoM vs MLE disagreement
    flags a poor gamma fit before any downstream use.

    Determinism: all moments (including Σln y) are decimal-exact sums
    over identical doubles; the fits are fixed double expressions.

    Scale: one fact rollup + one 1-row aggregate — no joins. §2.B
    statistics family [NS].
    """
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("y")
    ).filter(F.col("y") > 0)
    mom = spend.agg(
        bcount("n"),
        F.sum(F.col("y").cast("decimal(38,10)")).cast("double").alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("ss"),
        F.sum(F.log("y").cast(D15)).cast("double").alias("slog"),
    )
    mean = F.col("s") / F.col("n")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("n")) / (
        F.col("n") - 1.0
    )
    log_gap = F.log(mean) - F.col("slog") / F.col("n")
    shape_mle = (
        3.0
        - log_gap
        + F.sqrt((log_gap - 3.0) * (log_gap - 3.0) + 24.0 * log_gap)
    ) / (12.0 * log_gap)
    return mom.select(
        F.col("n").alias("n_customers"),
        F.round(mean, 4).alias("mean_spend"),
        F.round(mean * mean / var, 6).alias("gamma_shape"),
        F.round(mean / var, 8).alias("gamma_rate"),
        F.round(shape_mle, 6).alias("shape_mle_approx"),
    )
