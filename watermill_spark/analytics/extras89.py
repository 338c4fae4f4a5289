"""Analytics batch 97: the birthday-collision audit of hash identifiers,
cohort-quality retention curve comparison (AUC of early vs late signup
cohorts), and the peak-over-threshold exceedance-rate fit (the GPD-lite
tail view complementing the Gumbel block-maxima fit).

The birthday audit turns the classic collision bound into an ID-space
capacity check: given n keys in a b-bit hash space, the expected
collision count n(n−1)/2^{b+1} says exactly when a shortened fingerprint
stops being safe for dedup keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .distrib import grid_rank_of, two_level_order
from .registry import load, register, spread
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue


@register(
    "q_birthday_collision_audit",
    oracle="""
    WITH fp AS (
      SELECT substr(md5(text), 1, 8) AS h32 FROM documents
    ),
    dedup AS (SELECT DISTINCT h32, md5(h32) AS salt FROM fp),
    n_docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM fp),
    n_distinct AS (
      SELECT CAST(COUNT(DISTINCT h32) AS BIGINT) AS d FROM fp
    ),
    uniq_text AS (
      SELECT CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS u FROM documents
    )
    SELECT n_docs.n AS n_docs,
           uniq_text.u AS n_unique_texts,
           n_distinct.d AS n_distinct_fp32,
           CAST(uniq_text.u - n_distinct.d AS BIGINT)
             AS fp32_collisions_observed,
           round(CAST(uniq_text.u AS DOUBLE) * (uniq_text.u - 1)
                 / 2 / 4294967296.0, 6) AS collisions_expected_32bit,
           round(CAST(uniq_text.u AS DOUBLE) * (uniq_text.u - 1)
                 / 2 / 1.8446744073709552e19, 12)
             AS collisions_expected_64bit
    FROM n_docs, n_distinct, uniq_text
    """,
)
def q_birthday_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Birthday-collision audit of truncated fingerprints: count actual
    collisions when document identity is shortened to a 32-bit hash
    prefix, against the birthday expectation u(u−1)/2^{33} (and the
    64-bit expectation showing the headroom) — the capacity rule that
    decides how short a dedup key (q_dedup_exact, q_doc_fingerprint) can
    safely be before distinct documents start merging; at 10B documents
    even 64 bits expects ~2.7 collisions, which is why content hashes
    ship 128 bits.

    All-integer counts; expectations are fixed-shape expressions with
    power-of-two literals.

    Scale: two distinct-counts over one scan. §2.B dedup surface [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    fp = docs.select(
        F.substring(F.md5("text"), 1, 8).alias("h32"), F.md5("text").alias("hf")
    )
    s = fp.agg(
        bcount("n_docs"),
        F.count_distinct("hf").cast("bigint").alias("n_unique_texts"),
        F.count_distinct("h32").cast("bigint").alias("n_distinct_fp32"),
    )
    u = F.col("n_unique_texts").cast("double")
    return s.select(
        "n_docs",
        "n_unique_texts",
        "n_distinct_fp32",
        (F.col("n_unique_texts") - F.col("n_distinct_fp32"))
        .cast("bigint")
        .alias("fp32_collisions_observed"),
        F.round(u * (F.col("n_unique_texts") - 1) / 2 / F.lit(4294967296.0), 6).alias(
            "collisions_expected_32bit"
        ),
        F.round(
            u * (F.col("n_unique_texts") - 1) / 2 / F.lit(1.8446744073709552e19),
            12,
        ).alias("collisions_expected_64bit"),
    )


@register(
    "q_cohort_quality_auc",
    oracle="""
    WITH spans AS (
      SELECT user_id, MIN(ts) AS t0,
             CAST(date_diff('day', MIN(ts), MAX(ts)) AS BIGINT)
               AS active_days
      FROM events GROUP BY user_id
    ),
    users AS (
      SELECT active_days,
             CASE WHEN ROW_NUMBER() OVER (ORDER BY t0, user_id)
                       <= COUNT(*) OVER () / 2
                  THEN 'early' ELSE 'late' END AS cohort
      FROM spans
    ),
    ranked AS (
      SELECT cohort,
             CAST(RANK() OVER (ORDER BY active_days) AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY active_days) AS BIGINT)
               AS ties
      FROM users
    ),
    mid AS (
      SELECT cohort, CAST(r AS DOUBLE) + (ties - 1) / 2.0 AS mr FROM ranked
    ),
    s AS (
      SELECT CAST(COUNT(*) FILTER (WHERE cohort = 'early') AS BIGINT)
               AS n_early,
             CAST(COUNT(*) FILTER (WHERE cohort = 'late') AS BIGINT)
               AS n_late,
             CAST(SUM(CASE WHEN cohort = 'early'
                      THEN CAST(mr AS DECIMAL(28,6)) END) AS DOUBLE)
               AS rank_sum_early
      FROM mid
    )
    SELECT n_early, n_late,
           round((rank_sum_early
                  - CAST(n_early AS DOUBLE) * (n_early + 1) / 2)
                 / (CAST(n_early AS DOUBLE) * n_late), 6)
             AS p_early_outlasts_late,
           CASE WHEN (rank_sum_early
                  - CAST(n_early AS DOUBLE) * (n_early + 1) / 2)
                 / (CAST(n_early AS DOUBLE) * n_late) > 0.55
                THEN 'early_cohort_stickier'
                WHEN (rank_sum_early
                  - CAST(n_early AS DOUBLE) * (n_early + 1) / 2)
                 / (CAST(n_early AS DOUBLE) * n_late) < 0.45
                THEN 'late_cohort_stickier' ELSE 'comparable' END AS verdict
    FROM s
    """,
)
def q_cohort_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-quality comparison as a probability: P(random early-cohort
    user outlasts a random late-cohort user; cohorts split at the median
    signup rank) via the rank-sum/AUC identity on active-day spans — one number answering "are the users
    we acquired early stickier than recent ones?" (the cohort-quality
    question q_events_retention_cohort's full curves make you eyeball),
    with midrank tie handling and a practical 0.45/0.55 verdict band.

    Determinism: the cohort split is a rank-based median cut on
    (first-event time, user_id) — both cohorts non-empty at any SF;
    spans are integer days; the AUC identity uses exact midranks
    DECIMAL-cast before summation.

    Scale: one user rollup + one global rank; no pairwise stage (the
    rank-sum identity again). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.datediff(F.max("ts"), F.min("ts")).cast("bigint").alias("active_days"),
    )
    # r7 (guide §2.5): the median cut's row_number and the midrank window
    # both ran single-task over the data-scaled user grid. The cut now
    # uses the distributed two-level rank (unique (t0, user_id) order;
    # n rides the offset grid), and the midranks come from the
    # (active_days, count) grid joined back — identical r/ties per row.
    users = two_level_order(
        spans.select("t0", "user_id", "active_days"),
        ["t0", "user_id"],
        rank_col="rk",
        total_count="ntot",
        project=["active_days"],
    ).select(
        "active_days",
        F.when(F.col("rk") <= F.col("ntot") / 2, "early")
        .otherwise("late")
        .alias("cohort"),
    )
    mid = users.join(
        grid_rank_of(users, "active_days", "r", cnt_col="ties"), "active_days"
    ).select(
        "cohort", (F.col("r").cast("double") + (F.col("ties") - 1) / 2.0).alias("mr")
    )
    s = mid.agg(
        F.count_if(F.col("cohort") == "early").cast("bigint").alias("n_early"),
        F.count_if(F.col("cohort") == "late").cast("bigint").alias("n_late"),
        F.sum(
            F.when(F.col("cohort") == "early", F.col("mr").cast("decimal(28,6)"))
        )
        .cast("double")
        .alias("rank_sum_early"),
    )
    auc = (
        F.col("rank_sum_early")
        - F.col("n_early").cast("double") * (F.col("n_early") + 1) / 2
    ) / (F.col("n_early").cast("double") * F.col("n_late"))
    return s.select(
        "n_early",
        "n_late",
        F.round(auc, 6).alias("p_early_outlasts_late"),
        F.when(auc > 0.55, "early_cohort_stickier")
        .when(auc < 0.45, "late_cohort_stickier")
        .otherwise("comparable")
        .alias("verdict"),
    )


@register(
    "q_peak_over_threshold",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    thr AS (
      SELECT rev AS u FROM (
        SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, d) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM daily) x
      WHERE rn = CAST(CEIL(0.9 * n) AS BIGINT)
    ),
    exc AS (
      SELECT d.rev - t.u AS y
      FROM daily d, thr t WHERE d.rev > t.u
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS mean_exc,
             CAST(SUM(CAST(y * y AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS m2
      FROM exc
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily)
    SELECT tot.n AS n_days, mom.k AS n_exceedances,
           round((SELECT u FROM thr), 2) AS threshold_p90,
           round(mom.mean_exc, 2) AS mean_excess,
           round(0.5 * (mom.mean_exc * mom.mean_exc
                        / (mom.m2 - mom.mean_exc * mom.mean_exc) + 1), 6)
             AS gpd_shape_implied_neg,
           round(0.5 * mom.mean_exc
                 * (mom.mean_exc * mom.mean_exc
                    / (mom.m2 - mom.mean_exc * mom.mean_exc) + 1), 2)
             AS gpd_scale_mom
    FROM mom, tot
    """,
)
def q_peak_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-over-threshold tail fit: exceedances of daily revenue above
    its exact p90, with method-of-moments GPD parameters (ξ implied from
    the mean/variance of excesses, σ from the same moments) — EVT's
    second canonical route to the tail (uses every exceedance, where
    q_gumbel_block_maxima keeps only one point per block and discards
    the rest), the basis for high-quantile estimates beyond the sample.

    Determinism: the threshold is an exact order statistic; excess
    moments are exact decimal sums; the MoM formulas are fixed-shape.

    Scale: one daily rollup + one sort for the threshold + one excess
    moment pass. §2.B [NS].
    """
    daily = daily_order_revenue(spark, sf_dir)
    # checkpointed once (r6): the threshold rank, exceedance join and
    # day count each re-derived the fact rollup (3 orders scans in the
    # plan); the calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    thr = (
        daily.select(
            "rev",
            F.row_number().over(Window.orderBy("rev", "d")).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
        )
        .filter(F.col("rn") == F.ceil(0.9 * F.col("n")).cast("bigint"))
        .select(F.col("rev").alias("u"))
    )
    exc = (
        daily.crossJoin(F.broadcast(thr))
        .filter(F.col("rev") > F.col("u"))
        .select((F.col("rev") - F.col("u")).alias("y"), "u")
    )
    mom = exc.agg(
        bcount("k"),
        (F.sum(dec("y")).cast("double") / F.count(F.lit(1))).alias("mean_exc"),
        (
            F.sum((F.col("y") * F.col("y")).cast("decimal(28,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m2"),
        F.max("u").alias("u"),
    )
    tot = daily.agg(bcount("n"))
    s = mom.crossJoin(F.broadcast(tot))
    var_exc = F.col("m2") - F.col("mean_exc") * F.col("mean_exc")
    ratio = F.col("mean_exc") * F.col("mean_exc") / var_exc + 1
    return s.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("n_exceedances"),
        F.round("u", 2).alias("threshold_p90"),
        F.round("mean_exc", 2).alias("mean_excess"),
        F.round(0.5 * ratio, 6).alias("gpd_shape_implied_neg"),
        F.round(0.5 * F.col("mean_exc") * ratio, 2).alias("gpd_scale_mom"),
    )
