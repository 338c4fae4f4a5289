"""Analytics batch 135: Cramér–von Mises normality test, Watson U²
circular uniformity test, and the Anderson–Darling normality test.

Together these finish the goodness-of-fit shelf: q_ks_two_sample /
q_doc_length_lognormal_ks take the sup-norm, q_ad_uniformity weights
the tails of the *uniform* hash space, and q_jarque_bera /
q_shapiro_francia test normality through moments and order-statistic
correlation. CvM integrates squared ECDF error (more power than KS
against lumpy alternatives), AD re-weights that integral toward the
tails where revenue anomalies live, and Watson U² is the rotation-
invariant CvM for *circular* data — the right null test for "is the
time-of-day mix uniform?", where KS would depend on the arbitrary
midnight cut point.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .distrib import two_level_order
from .extras121 import phi_cdf_col, phi_cdf_sql
from .registry import load, register

# Shared daily-revenue z-score scaffold (exact two-pass moments): daily y,
# mu = exact-sum/n, s = sqrt(exact Σ(y−mu)²/(n−1)), ranks by (y, d).
_DAILY_Z_SQL = """
    daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM daily
    ),
    sd AS (
      SELECT m.n, m.mu,
             sqrt(CAST(SUM(CAST((y - m.mu) * (y - m.mu) AS DECIMAL(38,15)))
                       AS DOUBLE) / (m.n - 1)) AS s
      FROM daily, mom m GROUP BY m.n, m.mu
    ),
    zs AS (
      SELECT sd.n,
             (d.y - sd.mu) / sd.s AS z,
             CAST(row_number() OVER (ORDER BY d.y, d.d) AS BIGINT) AS i
      FROM daily d, sd
    )
"""


def _daily_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_DAILY_Z_SQL`: (n, z, i) over daily revenue."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(dec("value")).cast("double").alias("y")
    )
    # checkpointed once (r6): the mean, SD and z passes each re-derived
    # the fact rollup (3 events scans in both consumers' plans); the
    # calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    mom = daily.agg(
        bcount("n"),
        (
            F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))
        ).alias("mu"),
    )
    sd = (
        daily.crossJoin(F.broadcast(mom))
        .groupBy("n", "mu")
        .agg(
            F.sqrt(
                F.sum(
                    ((F.col("y") - F.col("mu")) * (F.col("y") - F.col("mu"))).cast(
                        D15
                    )
                ).cast("double")
                / (F.col("n") - 1)
            ).alias("s")
        )
    )
    w = Window.orderBy("y", "d")
    return daily.crossJoin(F.broadcast(sd)).select(
        "n",
        ((F.col("y") - F.col("mu")) / F.col("s")).alias("z"),
        F.row_number().over(w).cast("bigint").alias("i"),
    )


@register(
    "q_cramer_von_mises",
    oracle=f"""
    WITH {_DAILY_Z_SQL},
    terms AS (
      SELECT n,
             CAST(({phi_cdf_sql('z')} - (2.0 * i - 1.0) / (2.0 * n))
                  * ({phi_cdf_sql('z')} - (2.0 * i - 1.0) / (2.0 * n))
                  AS DECIMAL(38,15)) AS t
      FROM zs
    )
    SELECT n AS n_days,
           round(1.0 / (12.0 * n) + CAST(SUM(t) AS DOUBLE), 6) AS cvm_w2,
           round((1.0 / (12.0 * n) + CAST(SUM(t) AS DOUBLE))
                 * (1.0 + 0.5 / n), 6) AS cvm_w2_adj,
           CASE WHEN (1.0 / (12.0 * n) + CAST(SUM(t) AS DOUBLE))
                     * (1.0 + 0.5 / n) > 0.126
                THEN 'non-normal' ELSE 'normal' END AS verdict
    FROM terms GROUP BY n
    """,
)
def q_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér–von Mises normality test of daily revenue:
    W² = 1/(12n) + Σᵢ(Φ(zᵢ) − (2i−1)/(2n))² over the order statistics of
    the standardized daily totals, small-sample adjusted by (1+0.5/n) and
    cut at 0.126 (5%, estimated-parameter case). Integrated squared ECDF
    error — more power than KS (sup-norm) against distributed lumps, less
    tail-weighted than AD next door.

    Determinism: two-pass exact-decimal moments; Φ is the shared A&S
    7.1.26 polynomial (extras121), identical op-for-op in both engines;
    each squared term cast DECIMAL(38,15) before the order-free SUM.

    Scale: day rollup + one rank pass over the bounded day grid; 1-row
    result. §2.B [NS].
    """
    zs = _daily_z(spark, sf_dir)
    u = phi_cdf_col(F.col("z"))
    e = (2.0 * F.col("i") - 1.0) / (2.0 * F.col("n"))
    w2 = 1.0 / (12.0 * F.col("n")) + F.sum(((u - e) * (u - e)).cast(D15)).cast(
        "double"
    )
    adj = w2 * (1.0 + 0.5 / F.col("n"))
    return (
        zs.groupBy("n")
        .agg(
            F.round(w2, 6).alias("cvm_w2"),
            F.round(adj, 6).alias("cvm_w2_adj"),
            F.when(adj > 0.126, "non-normal").otherwise("normal").alias(
                "verdict"
            ),
        )
        .select(
            F.col("n").alias("n_days"), "cvm_w2", "cvm_w2_adj", "verdict"
        )
    )


@register(
    "q_watson_u2",
    oracle="""
    WITH u AS MATERIALIZED (
      SELECT (epoch_us(ts) % 86400000000) / 86400000000.0 AS u,
             event_id
      FROM events
    ),
    r AS (
      SELECT u,
             CAST(row_number() OVER (ORDER BY u, event_id) AS BIGINT) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM u
    ),
    agg AS (
      SELECT n,
             CAST(SUM(CAST((u - (2.0 * i - 1.0) / (2.0 * n))
                           * (u - (2.0 * i - 1.0) / (2.0 * n))
                           AS DECIMAL(38,15))) AS DOUBLE)
               + 1.0 / (12.0 * n) AS w2,
             CAST(SUM(CAST(u AS DECIMAL(38,15))) AS DOUBLE) / n AS ubar
      FROM r GROUP BY n
    )
    SELECT n AS n_events,
           round(w2, 6) AS cvm_w2,
           round(ubar, 6) AS mean_fraction,
           round(w2 - n * (ubar - 0.5) * (ubar - 0.5), 6) AS watson_u2,
           CASE WHEN w2 - n * (ubar - 0.5) * (ubar - 0.5) > 0.187
                THEN 'nonuniform' ELSE 'uniform' END AS verdict
    FROM agg
    """,
)
def q_watson_u2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watson U² test of time-of-day uniformity: U² = W² − n(ū − ½)²
    where W² is the CvM statistic of the day-fraction order statistics
    u = (µs-of-day)/86.4e9. Subtracting the mean-offset term makes U²
    invariant to rotating the circle — unlike KS/CvM, the answer does not
    depend on where midnight is cut, which is the whole point for
    diurnal-mix questions (5% critical ≈ 0.187). Complements
    q_chi2_type_dow (binned) and q_ad_uniformity (hash space).

    Determinism: u is an integer-µs ratio (one exact double division);
    ranks total-ordered by (u, event_id); squared deviations and the ū
    accumulator cast DECIMAL(38,15) before their order-free SUMs.

    Scale: one narrow map + one global rank sort (the statistic is
    n-stable past ~10⁵ rows — at 100 TB run it on a deterministic hash
    sample, the same contract as q_ad_uniformity). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    u = ev.select(
        (
            (F.unix_micros("ts") % 86400000000) / F.lit(86400000000.0)
        ).alias("u"),
        "event_id",
    )
    # r7 (guide §2.5): distributed rank over RAW events (unique
    # (u, event_id) order) via distrib.two_level_order instead of two
    # single-task global windows.
    r = two_level_order(
        u, ["u", "event_id"], rank_col="i", total_count="n", project=["u"]
    )
    e = (2.0 * F.col("i") - 1.0) / (2.0 * F.col("n"))
    agg = r.groupBy("n").agg(
        (
            F.sum(((F.col("u") - e) * (F.col("u") - e)).cast(D15)).cast("double")
            + 1.0 / (12.0 * F.col("n"))
        ).alias("w2"),
        (F.sum(F.col("u").cast(D15)).cast("double") / F.col("n")).alias("ubar"),
    )
    u2 = F.col("w2") - F.col("n") * (F.col("ubar") - 0.5) * (F.col("ubar") - 0.5)
    return agg.select(
        F.col("n").alias("n_events"),
        F.round("w2", 6).alias("cvm_w2"),
        F.round("ubar", 6).alias("mean_fraction"),
        F.round(u2, 6).alias("watson_u2"),
        F.when(u2 > 0.187, "nonuniform").otherwise("uniform").alias("verdict"),
    )


@register(
    "q_anderson_darling_normal",
    oracle=f"""
    WITH {_DAILY_Z_SQL},
    probs AS (
      SELECT n, i,
             least(greatest({phi_cdf_sql('z')}, 1e-12), 1.0 - 1e-12) AS p
      FROM zs
    ),
    terms AS (
      SELECT n,
             CAST((2.0 * i - 1.0) * ln(p)
                  + (2.0 * (n - i) + 1.0) * ln(1.0 - p)
                  AS DECIMAL(38,15)) AS t
      FROM probs
    )
    SELECT n AS n_days,
           round(-CAST(n AS DOUBLE) - CAST(SUM(t) AS DOUBLE) / n, 6) AS ad_a2,
           round((-CAST(n AS DOUBLE) - CAST(SUM(t) AS DOUBLE) / n)
                 * (1.0 + 0.75 / n + 2.25 / (n * n)), 6) AS ad_a2_star,
           CASE WHEN (-CAST(n AS DOUBLE) - CAST(SUM(t) AS DOUBLE) / n)
                     * (1.0 + 0.75 / n + 2.25 / (n * n)) > 0.752
                THEN 'non-normal' ELSE 'normal' END AS verdict
    FROM terms GROUP BY n
    """,
)
def q_anderson_darling_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anderson–Darling normality test of daily revenue:
    A² = −n − (1/n)Σᵢ[(2i−1)lnΦ(zᵢ) + (2(n−i)+1)ln(1−Φ(zᵢ))] over the
    sorted standardized totals, Stephens-corrected A*² = A²(1 + 0.75/n +
    2.25/n²), 5% cut 0.752 (estimated-parameter case). The tail-weighted
    ECDF test — the one that notices heavy revenue tails that CvM's
    uniform weighting averages away; q_ad_uniformity is the same integral
    applied to the hash space.

    Determinism: shared exact-moment z scaffold and A&S Φ polynomial;
    Φ clamped to [1e-12, 1−1e-12] identically on both sides so the logs
    stay finite; per-row terms cast DECIMAL(38,15) before the SUM.

    Scale: identical shape to q_cramer_von_mises — day rollup + bounded
    rank pass, 1-row result. §2.B [NS].
    """
    zs = _daily_z(spark, sf_dir)
    p = F.least(
        F.greatest(phi_cdf_col(F.col("z")), F.lit(1e-12)), F.lit(1.0 - 1e-12)
    )
    term = (
        (2.0 * F.col("i") - 1.0) * F.log(p)
        + (2.0 * (F.col("n") - F.col("i")) + 1.0) * F.log(1.0 - p)
    ).cast(D15)
    a2 = -F.col("n").cast("double") - F.sum(term).cast("double") / F.col("n")
    corr = 1.0 + 0.75 / F.col("n") + 2.25 / (F.col("n") * F.col("n"))
    return (
        zs.groupBy("n")
        .agg(
            F.round(a2, 6).alias("ad_a2"),
            F.round(a2 * corr, 6).alias("ad_a2_star"),
            F.when(a2 * corr > 0.752, "non-normal")
            .otherwise("normal")
            .alias("verdict"),
        )
        .select(F.col("n").alias("n_days"), "ad_a2", "ad_a2_star", "verdict")
    )
