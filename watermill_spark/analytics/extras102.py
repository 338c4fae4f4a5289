"""Analytics batch 110: Kendall's W coefficient of concordance, Fleiss'
kappa for multi-rater agreement, and the Dirichlet-multinomial
posterior over the event-type mix.

Kendall's W asks "do the yearly revenue rankings of brands agree?" —
the m-ranking generalization of rank correlation (W=1 perfect
agreement, 0 none), the statistic behind panel-of-judges reliability.
Fleiss' kappa generalizes Cohen's kappa past two raters: three
heuristic annotators each bin every user into activity terciles, and
kappa measures their chance-corrected agreement — the standard QA gate
on crowdsourced labels. The Dirichlet-multinomial posterior is
conjugate Bayesian bookkeeping for categorical shares: posterior means,
credible intervals, and the predictive next-event distribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register


@register(
    "q_kendall_w",
    oracle="""
    WITH yb AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr, p.p_brand AS brand,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT yr, brand,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY yr ORDER BY rev DESC, brand) AS BIGINT) AS r
      FROM yb
    ),
    sums AS (
      SELECT brand, CAST(SUM(r) AS BIGINT) AS rsum,
             CAST(COUNT(*) AS BIGINT) AS m
      FROM ranked GROUP BY 1
    ),
    full_b AS (
      SELECT brand, rsum FROM sums
      WHERE m = (SELECT MAX(m) FROM sums)
    ),
    dims AS (
      SELECT (SELECT MAX(m) FROM sums) AS m,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rsum) AS BIGINT) AS tot
      FROM full_b
    ),
    s AS (
      SELECT CAST(SUM(CAST(
               (f.rsum - CAST(d.m AS DOUBLE) * (d.n + 1) / 2.0)
               * (f.rsum - CAST(d.m AS DOUBLE) * (d.n + 1) / 2.0)
               AS DECIMAL(38,15))) AS DOUBLE) AS s,
             MAX(d.m) AS m, MAX(d.n) AS n
      FROM full_b f, dims d
    )
    SELECT m AS n_years, n AS n_brands,
           round(s, 4) AS s_stat,
           round(12.0 * s / (CAST(m AS DOUBLE) * m
                             * (CAST(n AS DOUBLE) * n * n - n)), 6)
             AS kendall_w,
           round(CAST(m AS DOUBLE) * (n - 1)
                 * (12.0 * s / (CAST(m AS DOUBLE) * m
                                * (CAST(n AS DOUBLE) * n * n - n))), 6)
             AS chi2_approx
    FROM s
    """,
)
def q_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's coefficient of concordance W across yearly brand
    revenue rankings: each year ranks the brands (ties broken by brand
    for a total order), S = Σ_b (R_b − m(n+1)/2)² over brands ranked in
    every year, W = 12S/(m²(n³−n)), with the χ² ≈ m(n−1)W large-sample
    statistic — "do the years agree on which brands win?", the
    m-judge generalization of q_spearman_rank_corr.

    Determinism: ranks are exact integers from total-ordered windows
    over exact DECIMAL revenues; S terms ride DECIMAL(38,15).

    Scale: one star-join rollup to the |years|×|brands| grid (map-side
    combine); ranking windows partition by year over ≤|brands| rows;
    the rest is constant-size (1-row dims broadcast — whitelisted
    BNLJ). §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    yb = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(dec("l_extendedprice")).alias("rev"))
    )
    ranked = yb.select(
        "yr",
        "brand",
        F.row_number()
        .over(
            Window.partitionBy("yr").orderBy(F.col("rev").desc(), F.col("brand"))
        )
        .cast("bigint")
        .alias("r"),
    )
    sums = ranked.groupBy("brand").agg(
        F.sum("r").cast("bigint").alias("rsum"), bcount("m")
    )
    # checkpointed once (r6): mmax/full_b/dims/s each re-derived the
    # 3-table fact join + ranking window (5 fact scans in the plan); the
    # ≤|brands|-row rank-sum grid materializes once
    sums = sums.localCheckpoint(eager=True)
    mmax = sums.agg(F.max("m").alias("mx"))
    full_b = sums.crossJoin(F.broadcast(mmax)).filter(
        F.col("m") == F.col("mx")
    ).select("brand", "rsum")
    dims = full_b.crossJoin(F.broadcast(mmax)).agg(
        F.max("mx").alias("m"),
        bcount("n"),
    )
    dev = F.col("rsum") - F.col("m").cast("double") * (F.col("n") + 1) / 2.0
    s = full_b.crossJoin(F.broadcast(dims)).agg(
        F.sum((dev * dev).cast(D15)).cast("double").alias("s"),
        F.max("m").alias("m"),
        F.max("n").alias("n"),
    )
    m, n = F.col("m"), F.col("n")
    w_stat = (
        F.lit(12.0)
        * F.col("s")
        / (m.cast("double") * m * (n.cast("double") * n * n - n))
    )
    return s.select(
        m.alias("n_years"),
        n.alias("n_brands"),
        F.round("s", 4).alias("s_stat"),
        F.round(w_stat, 6).alias("kendall_w"),
        F.round(m.cast("double") * (n - 1) * w_stat, 6).alias("chi2_approx"),
    )


@register(
    "q_fleiss_kappa",
    oracle="""
    WITH feats AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_ev,
             SUM(CAST(value AS DECIMAL(18,6))) AS tot_v,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
      FROM events GROUP BY 1
    ),
    votes AS (
      SELECT user_id, 1 AS rater,
             CAST(NTILE(3) OVER (ORDER BY n_ev, user_id) AS BIGINT) AS cat
      FROM feats
      UNION ALL
      SELECT user_id, 2,
             CAST(NTILE(3) OVER (ORDER BY tot_v, user_id) AS BIGINT)
      FROM feats
      UNION ALL
      SELECT user_id, 3,
             CAST(NTILE(3) OVER (ORDER BY n_types, user_id) AS BIGINT)
      FROM feats
    ),
    nij AS (
      SELECT user_id, cat, CAST(COUNT(*) AS BIGINT) AS c
      FROM votes GROUP BY 1, 2
    ),
    pi AS (
      SELECT user_id,
             (CAST(SUM(c * c) AS DOUBLE) - 3.0) / (3.0 * 2.0) AS p_i
      FROM nij GROUP BY 1
    ),
    pbar AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(p_i AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*)
               AS pb
      FROM pi
    ),
    pj AS (
      SELECT cat, CAST(SUM(c) AS BIGINT) AS tot FROM nij GROUP BY 1
    ),
    pe AS (
      SELECT CAST(SUM(CAST(
               (CAST(tot AS DOUBLE) / (3.0 * (SELECT n FROM pbar)))
               * (CAST(tot AS DOUBLE) / (3.0 * (SELECT n FROM pbar)))
               AS DECIMAL(38,15))) AS DOUBLE) AS pe
      FROM pj
    )
    SELECT pbar.n AS n_subjects,
           CAST(3 AS BIGINT) AS n_raters,
           CAST(3 AS BIGINT) AS n_categories,
           round(pbar.pb, 6) AS p_observed,
           round(pe.pe, 6) AS p_expected,
           round((pbar.pb - pe.pe) / (1.0 - pe.pe), 6) AS fleiss_kappa
    FROM pbar, pe
    """,
)
def q_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa agreement among three heuristic annotators that
    each bin every user into activity terciles — by event count, by
    total value, and by distinct event types (total-ordered NTILE with
    user_id tiebreaks, so each "rater" is deterministic). Per-subject
    agreement P_i = (Σ_j n_ij² − m)/(m(m−1)), chance agreement
    P_e = Σ_j p_j², κ = (P̄−P_e)/(1−P_e) — the multi-rater
    generalization of q_cohen_kappa_heuristics (which compares exactly
    two of these signals).

    Determinism: tercile assignments are exact-ranked NTILEs over exact
    DECIMAL features; all category counts are integers; the P̄/P_e
    accumulators ride DECIMAL(38,15).

    Scale: one per-user rollup; the three rating windows each need a
    global sort of the |users| feature table (at 100 TB: approx
    quantile cuts replace NTILE, same downstream math); everything
    after is a ≤3-category grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the three rating windows each re-derived
    # this per-user rollup from the events scan (9 scans in the plan)
    feats = ev.groupBy("user_id").agg(
        bcount("n_ev"),
        F.sum(dec("value")).alias("tot_v"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
    ).localCheckpoint(eager=True)
    votes = None
    for rater, col in ((1, "n_ev"), (2, "tot_v"), (3, "n_types")):
        v = feats.select(
            "user_id",
            F.lit(rater).alias("rater"),
            F.ntile(3)
            .over(Window.orderBy(F.col(col), F.col("user_id")))
            .cast("bigint")
            .alias("cat"),
        )
        votes = v if votes is None else votes.unionByName(v)
    nij = votes.groupBy("user_id", "cat").agg(bcount("c"))
    pi = nij.groupBy("user_id").agg(
        ((F.sum(F.col("c") * F.col("c")).cast("double") - 3.0) / 6.0).alias(
            "p_i"
        )
    )
    pbar = pi.agg(
        bcount("n"),
        (F.sum(F.col("p_i").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "pb"
        ),
    )
    pj = nij.groupBy("cat").agg(F.sum("c").cast("bigint").alias("tot"))
    share = F.col("tot").cast("double") / (F.lit(3.0) * F.col("n"))
    pe = pj.crossJoin(F.broadcast(pbar.select("n"))).agg(
        F.sum((share * share).cast(D15)).cast("double").alias("pe")
    )
    return pbar.crossJoin(F.broadcast(pe)).select(
        F.col("n").alias("n_subjects"),
        F.lit(3).cast("bigint").alias("n_raters"),
        F.lit(3).cast("bigint").alias("n_categories"),
        F.round("pb", 6).alias("p_observed"),
        F.round("pe", 6).alias("p_expected"),
        F.round((F.col("pb") - F.col("pe")) / (1.0 - F.col("pe")), 6).alias(
            "fleiss_kappa"
        ),
    )


@register(
    "q_dirichlet_multinomial",
    oracle="""
    WITH cnt AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cnt
    )
    SELECT c.event_type, c.n AS count,
           round((c.n + 1.0) / (t.nn + t.k), 6) AS post_mean,
           round(sqrt((c.n + 1.0) * (t.nn + t.k - c.n - 1.0)
                      / ((t.nn + t.k) * (t.nn + t.k)
                         * (t.nn + t.k + 1.0))), 6) AS post_sd,
           round((c.n + 1.0) / (t.nn + t.k)
                 - 1.96 * sqrt((c.n + 1.0) * (t.nn + t.k - c.n - 1.0)
                               / ((t.nn + t.k) * (t.nn + t.k)
                                  * (t.nn + t.k + 1.0))), 6) AS ci_lo,
           round((c.n + 1.0) / (t.nn + t.k)
                 + 1.96 * sqrt((c.n + 1.0) * (t.nn + t.k - c.n - 1.0)
                               / ((t.nn + t.k) * (t.nn + t.k)
                                  * (t.nn + t.k + 1.0))), 6) AS ci_hi,
           round(CAST(c.n AS DOUBLE) / t.nn, 6) AS mle_share
    FROM cnt c, tot t
    ORDER BY c.event_type
    """,
)
def q_dirichlet_multinomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet(1,…,1)-multinomial posterior over the event-type mix:
    per type the posterior mean (n_t+1)/(N+k) — which is also the
    posterior-predictive probability of the next event — the exact
    marginal-Beta posterior sd √(α(α₀−α)/(α₀²(α₀+1))), a ±1.96σ
    credible band, and the raw MLE share for contrast. The k-category
    conjugate upgrade of q_beta_binomial_posterior and q_laplace_succession
    (whose add-one rule is exactly this posterior mean).

    Determinism: counts are integers; every statistic is a closed-form
    double expression per row — no accumulation of doubles at all.

    Scale: one map-side-combined type rollup (≤|types| rows) with the
    1-row total broadcast (whitelisted BNLJ). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the total and the posterior pass both
    # re-derived the counts (2 events scans in the plan); the ≤|types|
    # grid materializes once
    cnt = ev.groupBy("event_type").agg(bcount("n")).localCheckpoint(eager=True)
    tot = cnt.agg(
        F.sum("n").cast("bigint").alias("nn"), bcount("k")
    )
    a0 = F.col("nn") + F.col("k")
    a = F.col("n") + 1.0
    sd = F.sqrt(a * (a0 - a) / (a0 * a0 * (a0 + 1.0)))
    mean = a / a0
    return (
        cnt.crossJoin(F.broadcast(tot))
        .select(
            "event_type",
            F.col("n").alias("count"),
            F.round(mean, 6).alias("post_mean"),
            F.round(sd, 6).alias("post_sd"),
            F.round(mean - 1.96 * sd, 6).alias("ci_lo"),
            F.round(mean + 1.96 * sd, 6).alias("ci_hi"),
            F.round(F.col("n").cast("double") / F.col("nn"), 6).alias(
                "mle_share"
            ),
        )
        .orderBy("event_type")
    )
