"""Analytics batch 48: resampling-free uncertainty (leave-one-group-out
jackknife), empirical-Bayes shrinkage of group means, Beta–binomial
posterior rates, and a throttle-backlog simulation via the closed-form
Lindley recursion (all-integer — the batch twin of the throttle
middleware's capacity planning).

The jackknife replaces the (RNG-bound, oracle-hostile) bootstrap:
leave-one-nation-out replicates are pure algebra on per-group DECIMAL
sums, so the standard error is deterministic. The Lindley backlog uses the
prefix-sum identity backlog_t = D_t − min(0, min_{j<t} D_j) with
D_t = S_t − C·t, turning an inherently sequential queue recursion into two
window functions over integers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_jackknife_se",
    oracle="""
    WITH g AS (
      SELECT c.c_nationkey AS grp,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS s_g
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(SUM(s_g) AS DOUBLE) AS s,
             CAST(COUNT(*) AS BIGINT) AS j
      FROM g
    ),
    reps AS (
      SELECT (s - CAST(s_g AS DOUBLE)) / (n - n_g) AS theta_i, j, n, s
      FROM g, tot
    ),
    m AS (
      SELECT CAST(MAX(j) AS BIGINT) AS j, MAX(n) AS n, MAX(s) AS s,
             CAST(SUM(CAST(theta_i AS DECIMAL(18,9))) AS DOUBLE)
               / MAX(j) AS theta_bar
      FROM reps
    )
    SELECT m.n, m.j AS j_groups,
           round(m.s / m.n, 6) AS full_mean,
           round(sqrt((CAST(m.j AS DOUBLE) - 1) / CAST(m.j AS DOUBLE)
                      * CAST(SUM(CAST((theta_i - theta_bar)
                                      * (theta_i - theta_bar)
                                      AS DECIMAL(24,12))) AS DOUBLE)), 6)
             AS jackknife_se
    FROM reps, m
    GROUP BY m.n, m.j, m.s
    """,
)
def q_jackknife_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-group jackknife standard error of mean order value,
    grouping by customer nation: each replicate drops one nation and
    recomputes the mean from the remaining DECIMAL sums — the
    deterministic, cluster-robust alternative to a bootstrap (which needs
    an RNG and can't be oracle-matched).

    Replicates are algebra on the 25-row per-group sum table; the replicate
    mean and squared-deviation sums route per-term through DECIMAL.

    Scale: one fact aggregation to |groups| rows; J replicates cost one
    pass over that grid, not J passes over the data — the whole point of
    the grouped jackknife. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    g = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("grp"))
        .agg(bcount("n_g"), F.sum(dec("o_totalprice")).alias("s_g"))
    )
    # checkpointed once (r6): tot and both reps derivations each
    # re-derived the orders⨝customer rollup (4 fact scans in the plan);
    # the ≤|nations|-row group-sum grid materializes once
    g = g.localCheckpoint(eager=True)
    tot = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        F.sum("s_g").cast("double").alias("s"),
        bcount("j"),
    )
    reps = g.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("s") - F.col("s_g").cast("double"))
            / (F.col("n") - F.col("n_g"))
        ).alias("theta_i"),
        "j",
        "n",
        "s",
    )
    m = reps.agg(
        F.max("j").cast("bigint").alias("j2"),
        F.max("n").alias("n2"),
        F.max("s").alias("s2"),
        (
            F.sum(F.col("theta_i").cast("decimal(18,9)")).cast("double")
            / F.max("j")
        ).alias("theta_bar"),
    )
    dev = F.col("theta_i") - F.col("theta_bar")
    return (
        reps.drop("j", "n", "s")
        .crossJoin(F.broadcast(m))
        .groupBy(
            F.col("n2").cast("bigint").alias("n"),
            F.col("j2").alias("j_groups"),
            F.col("s2").alias("s2"),
        )
        .agg(
            F.round(F.col("s2") / F.col("n"), 6).alias("full_mean"),
            F.round(
                F.sqrt(
                    (F.col("j_groups").cast("double") - 1)
                    / F.col("j_groups").cast("double")
                    * F.sum((dev * dev).cast("decimal(24,12)")).cast("double")
                ),
                6,
            ).alias("jackknife_se"),
        )
        .select("n", "j_groups", "full_mean", "jackknife_se")
    )


@register(
    "q_eb_shrinkage",
    oracle="""
    WITH base AS (
      SELECT p.p_brand AS brand, l.l_extendedprice AS y
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    g AS (
      SELECT brand,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS m_g,
             CAST(SUM(CAST(y * y AS DECIMAL(30,6))) AS DOUBLE) AS s2_g,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS s_g
      FROM base GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(s_g AS DECIMAL(20,6))) AS DOUBLE)
               / CAST(SUM(n_g) AS DOUBLE) AS grand,
             CAST(SUM(CAST(s2_g - s_g * s_g / n_g AS DECIMAL(30,6)))
                  AS DOUBLE) / CAST(SUM(n_g) - COUNT(*) AS DOUBLE) AS s2w,
             CAST(SUM(CAST(m_g AS DECIMAL(18,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS mean_of_means,
             CAST(SUM(CAST(1.0 / n_g AS DECIMAL(18,15))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS avg_inv_n
      FROM g
    ),
    tau AS (
      SELECT pooled.*,
             GREATEST(
               (SELECT CAST(SUM(CAST((m_g - mean_of_means)
                                     * (m_g - mean_of_means)
                                     AS DECIMAL(24,12))) AS DOUBLE)
                FROM g) / (k - 1) - s2w * avg_inv_n,
               0.0) AS tau2
      FROM pooled
    )
    SELECT brand, n_g,
           round(m_g, 6) AS raw_mean,
           round(tau2 / (tau2 + s2w / n_g), 6) AS weight,
           round((tau2 / (tau2 + s2w / n_g)) * m_g
                 + (1 - tau2 / (tau2 + s2w / n_g)) * grand, 6)
             AS shrunk_mean
    FROM g, tau
    """,
)
def q_eb_shrinkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes (method-of-moments) shrinkage of per-brand mean line
    price toward the grand mean: between-group variance τ² is estimated
    from the spread of group means net of sampling noise, and each brand's
    estimate is pulled by weight τ²/(τ²+σ²/n) — small brands shrink hard,
    big brands barely move (the James–Stein idea that fixes top-N lists
    dominated by low-volume noise).

    All moments are exact DECIMAL sums; τ², weights, and shrunk means are
    fixed-shape double algebra on the |brands| grid.

    Scale: one fact pass to |brands| moment rows; everything else is
    grid-sized. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    y = F.col("l_extendedprice")
    g = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            bcount("n_g"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias(
                "m_g"
            ),
            F.sum((y * y).cast("decimal(30,6)")).cast("double").alias("s2_g"),
            F.sum(dec("l_extendedprice")).cast("double").alias("s_g"),
        )
    ).localCheckpoint(eager=True)
    pooled = g.agg(
        F.sum("n_g").cast("bigint").alias("n"),
        bcount("k"),
        (
            F.sum(F.col("s_g").cast("decimal(20,6)")).cast("double")
            / F.sum("n_g").cast("double")
        ).alias("grand"),
        (
            F.sum(
                (
                    F.col("s2_g") - F.col("s_g") * F.col("s_g") / F.col("n_g")
                ).cast("decimal(30,6)")
            ).cast("double")
            / (F.sum("n_g") - F.count(F.lit(1))).cast("double")
        ).alias("s2w"),
        (
            F.sum(F.col("m_g").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_of_means"),
        (
            F.sum((F.lit(1.0) / F.col("n_g")).cast("decimal(18,15)")).cast(
                "double"
            )
            / F.count(F.lit(1)).cast("double")
        ).alias("avg_inv_n"),
    )
    var_means = g.crossJoin(F.broadcast(pooled)).agg(
        (
            F.sum(
                (
                    (F.col("m_g") - F.col("mean_of_means"))
                    * (F.col("m_g") - F.col("mean_of_means"))
                ).cast("decimal(24,12)")
            ).cast("double")
            / (F.max("k") - 1).cast("double")
        ).alias("vm")
    )
    tau = (
        pooled.crossJoin(F.broadcast(var_means))
        .select(
            "grand",
            "s2w",
            F.greatest(
                F.col("vm") - F.col("s2w") * F.col("avg_inv_n"), F.lit(0.0)
            ).alias("tau2"),
        )
    )
    w = F.col("tau2") / (F.col("tau2") + F.col("s2w") / F.col("n_g"))
    return g.crossJoin(F.broadcast(tau)).select(
        "brand",
        "n_g",
        F.round("m_g", 6).alias("raw_mean"),
        F.round(w, 6).alias("weight"),
        F.round(w * F.col("m_g") + (1 - w) * F.col("grand"), 6).alias(
            "shrunk_mean"
        ),
    )


@register(
    "q_beta_binomial_posterior",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS prio,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS x
      FROM orders GROUP BY 1
    )
    SELECT prio, n, x,
           round(CAST(x AS DOUBLE) / n, 6) AS mle_rate,
           round((2.0 + x) / (4.0 + n), 6) AS posterior_mean,
           round((2.0 + x) / (4.0 + n)
                 - 1.959964 * sqrt(((2.0 + x) / (4.0 + n))
                                   * (1 - (2.0 + x) / (4.0 + n))
                                   / (4.0 + n)), 6) AS cred_lo,
           round((2.0 + x) / (4.0 + n)
                 + 1.959964 * sqrt(((2.0 + x) / (4.0 + n))
                                   * (1 - (2.0 + x) / (4.0 + n))
                                   / (4.0 + n)), 6) AS cred_hi
    FROM cell
    """,
)
def q_beta_binomial_posterior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta–binomial posterior of the fulfilled-rate per order priority
    with a Beta(2,2) prior: posterior mean (α+x)/(α+β+n) and a
    normal-approximation 95% credible interval — the Bayesian smoothing
    that keeps low-volume segments from reading 0% or 100% (companion to
    q_event_rate_wilson_ci's frequentist interval).

    Integer counts in, fixed-shape double algebra out (z constant as a
    shared literal).

    Scale: one map-side-combined groupBy to |priorities| rows. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    cell = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        bcount("n"),
        F.count_if(F.col("o_orderstatus") == "F").cast("bigint").alias("x"),
    )
    pm = (F.lit(2.0) + F.col("x")) / (F.lit(4.0) + F.col("n"))
    half = F.lit(1.959964) * F.sqrt(pm * (1 - pm) / (F.lit(4.0) + F.col("n")))
    return cell.select(
        "prio",
        "n",
        "x",
        F.round(F.col("x").cast("double") / F.col("n"), 6).alias("mle_rate"),
        F.round(pm, 6).alias("posterior_mean"),
        F.round(pm - half, 6).alias("cred_lo"),
        F.round(pm + half, 6).alias("cred_hi"),
    )


@register(
    "q_throttle_backlog",
    oracle="""
    WITH hours AS (
      SELECT date_trunc('hour', ts) AS h, CAST(COUNT(*) AS BIGINT) AS a
      FROM events GROUP BY 1
    ),
    bounds AS (
      SELECT MIN(h) AS h0, MAX(h) AS h1,
             CAST(SUM(a) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS nonzero_hours
      FROM hours
    ),
    spine AS (
      SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h,
             (total + (CAST(date_diff('hour', h0, h1) AS BIGINT) + 1) - 1)
               // (CAST(date_diff('hour', h0, h1) AS BIGINT) + 1) AS cap
      FROM bounds
    ),
    seq AS (
      SELECT spine.h, spine.cap,
             CAST(COALESCE(hours.a, 0) AS BIGINT) AS a,
             ROW_NUMBER() OVER (ORDER BY spine.h) AS t
      FROM spine LEFT JOIN hours ON hours.h = spine.h
    ),
    pre AS (
      SELECT h, a, cap, t,
             CAST(SUM(a) OVER (ORDER BY t
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) - cap * t AS d_t
      FROM seq
    ),
    lind AS (
      SELECT h, a, cap, t, d_t,
             CAST(COALESCE(MIN(d_t) OVER (
                 ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS BIGINT) AS min_prev
      FROM pre
    )
    SELECT CAST(h AS TIMESTAMP) AS hour, a AS arrivals, cap AS capacity,
           CAST(d_t - LEAST(min_prev, 0) AS BIGINT) AS backlog
    FROM lind
    WHERE a > 0 OR d_t - LEAST(min_prev, 0) > 0
    """,
)
def q_throttle_backlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Throttle backlog simulation (the batch twin of the throttle
    middleware / maxOffsetsPerTrigger capacity planning): with hourly
    capacity = ⌈total/hours⌉, the queue backlog after each hour follows the
    Lindley recursion backlog_t = max(0, backlog_{t−1} + a_t − C). The
    recursion is computed *closed-form* — backlog_t = D_t − min(0,
    min_{j<t} D_j) with D_t = S_t − C·t — so two integer window functions
    replace sequential state.

    Everything is exact BIGINT arithmetic on the hour spine (gaps included,
    so idle hours drain the queue).

    Scale: one hour-grained aggregation; the spine and both windows live on
    the #hours grid. The same identity sizes real watermark/throttle
    configs without a stateful streaming job. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the spine bounds and the arrival join both
    # re-derived the rollup (2 events scans in the plan); the
    # calendar-bounded hour grid materializes once
    hours = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        bcount("a")
    ).localCheckpoint(eager=True)
    bounds = hours.agg(
        F.min("h").alias("h0"),
        F.max("h").alias("h1"),
        F.sum("a").cast("bigint").alias("total"),
    )
    n_hours = (
        F.floor(
            (F.unix_timestamp("h1") - F.unix_timestamp("h0")) / F.lit(3600)
        ).cast("bigint")
        + 1
    )
    spine = bounds.select(
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
        (F.floor((F.col("total") + n_hours - 1) / n_hours)).cast("bigint").alias(
            "cap"
        ),
    )
    seq = (
        spine.join(hours, "h", "left")
        .select(
            "h",
            "cap",
            F.coalesce(F.col("a"), F.lit(0)).cast("bigint").alias("a"),
        )
        .withColumn("t", F.row_number().over(Window.orderBy("h")))
    )
    wcum = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    lind = seq.select(
        "h",
        "a",
        "cap",
        "t",
        (F.sum("a").over(wcum).cast("bigint") - F.col("cap") * F.col("t")).alias(
            "d_t"
        ),
    ).withColumn(
        "min_prev",
        F.coalesce(F.min("d_t").over(wprev), F.lit(0)).cast("bigint"),
    )
    backlog = F.col("d_t") - F.least(F.col("min_prev"), F.lit(0))
    return (
        lind.filter((F.col("a") > 0) | (backlog > 0))
        .select(
            F.col("h").cast("timestamp").alias("hour"),
            F.col("a").alias("arrivals"),
            F.col("cap").alias("capacity"),
            backlog.cast("bigint").alias("backlog"),
        )
    )
