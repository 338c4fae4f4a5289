"""Analytics batch 75: empirical-copula tail dependence between daily
revenue and order count, entity-resolution blocking evaluation (reduction
ratio vs pair completeness), and record statistics of the daily revenue
series against the i.i.d. expectation.

Blocking evaluation is the dedup-pipeline design gate: a blocking key is
only usable if it kills almost all candidate pairs (reduction ratio ≈ 1)
while keeping almost all true matches in-block (pair completeness ≈ 1) —
both measured here against exact-duplicate ground truth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register, spread


@register(
    "q_tail_dependence_copula",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ),
    ranked AS (
      SELECT d,
             CAST(ROW_NUMBER() OVER (ORDER BY rev, d) AS BIGINT) AS ru,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt, d) AS BIGINT) AS rv,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    tails AS (
      SELECT n,
             CAST(COUNT(*) FILTER (WHERE ru > 0.9 * n) AS BIGINT) AS n_u,
             CAST(COUNT(*) FILTER (WHERE ru > 0.9 * n AND rv > 0.9 * n)
                  AS BIGINT) AS n_uv,
             CAST(COUNT(*) FILTER (WHERE ru <= 0.1 * n AND rv <= 0.1 * n)
                  AS BIGINT) AS n_ll,
             CAST(COUNT(*) FILTER (WHERE ru <= 0.1 * n) AS BIGINT) AS n_l
      FROM ranked GROUP BY n
    )
    SELECT n AS n_days, n_u AS n_upper_tail,
           round(CAST(n_uv AS DOUBLE) / n_u, 6) AS lambda_upper,
           round(CAST(n_ll AS DOUBLE) / n_l, 6) AS lambda_lower,
           CASE WHEN CAST(n_uv AS DOUBLE) / n_u > 0.5
                THEN 'upper_tail_dependent' ELSE 'weak' END AS verdict
    FROM tails
    """,
)
def q_tail_dependence_copula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-copula tail dependence between daily revenue and daily
    order count: rank-transform both margins, then λ_upper = P(V in top
    decile | U in top decile) and the lower analogue — the dependence
    summary that correlation misses entirely (two series can be weakly
    correlated yet crash together; tail dependence is what stress
    planning actually needs; complements q_stat_corr / q_kendall_tau).

    Determinism: ranks tiebreak on date; tail memberships are exact
    integer comparisons (0.9·n compared as rationals).

    Scale: calendar-bounded daily grid; two rank windows and one 4-cell
    aggregate. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"),
        bcount("cnt"),
    )
    ranked = daily.select(
        F.row_number().over(Window.orderBy("rev", "d")).cast("bigint").alias("ru"),
        F.row_number().over(Window.orderBy("cnt", "d")).cast("bigint").alias("rv"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    up = F.col("ru") > 0.9 * F.col("n")
    vp = F.col("rv") > 0.9 * F.col("n")
    lo_u = F.col("ru") <= 0.1 * F.col("n")
    lo_v = F.col("rv") <= 0.1 * F.col("n")
    tails = ranked.groupBy("n").agg(
        F.count_if(up).cast("bigint").alias("n_u"),
        F.count_if(up & vp).cast("bigint").alias("n_uv"),
        F.count_if(lo_u & lo_v).cast("bigint").alias("n_ll"),
        F.count_if(lo_u).cast("bigint").alias("n_l"),
    )
    lam_u = F.col("n_uv").cast("double") / F.col("n_u")
    return tails.select(
        F.col("n").alias("n_days"),
        F.col("n_u").alias("n_upper_tail"),
        F.round(lam_u, 6).alias("lambda_upper"),
        F.round(F.col("n_ll").cast("double") / F.col("n_l"), 6).alias(
            "lambda_lower"
        ),
        F.when(lam_u > 0.5, "upper_tail_dependent").otherwise("weak").alias(
            "verdict"
        ),
    )


@register(
    "q_blocking_eval",
    oracle="""
    WITH fp AS (
      SELECT doc_id, md5(text) AS h, substr(text, 1, 16) AS blk
      FROM documents
    ),
    truth AS (
      SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS true_pairs
      FROM (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM fp GROUP BY h)
      WHERE c > 1
    ),
    truth_in_block AS (
      SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS caught_pairs
      FROM (SELECT h, blk, CAST(COUNT(*) AS BIGINT) AS c
            FROM fp GROUP BY h, blk)
      WHERE c > 1
    ),
    cand AS (
      SELECT CAST(SUM(c * (c - 1) / 2) AS BIGINT) AS candidate_pairs
      FROM (SELECT blk, CAST(COUNT(*) AS BIGINT) AS c FROM fp GROUP BY blk)
      WHERE c > 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(COUNT(*) AS BIGINT)
                  * (CAST(COUNT(*) AS BIGINT) - 1) / 2 AS BIGINT)
               AS all_pairs
      FROM fp
    )
    SELECT tot.n AS n_docs,
           tot.all_pairs,
           COALESCE(cand.candidate_pairs, 0) AS candidate_pairs,
           COALESCE(truth.true_pairs, 0) AS true_dup_pairs,
           COALESCE(truth_in_block.caught_pairs, 0) AS caught_dup_pairs,
           round(1.0 - CAST(COALESCE(cand.candidate_pairs, 0) AS DOUBLE)
                 / tot.all_pairs, 6) AS reduction_ratio,
           round(CAST(COALESCE(truth_in_block.caught_pairs, 0) AS DOUBLE)
                 / NULLIF(truth.true_pairs, 0), 6) AS pair_completeness
    FROM tot, truth, truth_in_block, cand
    """,
)
def q_blocking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution blocking evaluation: block documents on their
    first 16 characters, score the scheme by reduction ratio (share of
    the n² candidate space eliminated) and pair completeness (share of
    true exact-duplicate pairs — same md5(text) — that land in the same
    block) — the two-axis design gate every dedup pipeline (q_dedup_*)
    runs before committing to a blocking key, since a key that misses
    true pairs silently caps recall forever.

    All-integer: pair counts are c·(c−1)/2 over exact group sizes.

    Scale: three groupBys (hash, hash×block, block), each map-side
    combined — the evaluation never materializes a single candidate
    pair. §2.B dedup surface [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    fp = docs.select(
        "doc_id",
        F.md5("text").alias("h"),
        F.substring("text", 1, 16).alias("blk"),
    )
    # checkpointed once (r6): the truth/caught/candidate pair counts and
    # the total each re-scanned+re-fingerprinted documents (4 scans in
    # the plan); the doc-grain fingerprint table materializes once
    fp = fp.localCheckpoint(eager=True)

    def pairs(df: DataFrame, keys: list[str], alias: str) -> DataFrame:
        return (
            df.groupBy(*keys)
            .agg(bcount("c"))
            .filter(F.col("c") > 1)
            .agg(
                F.sum(F.col("c") * (F.col("c") - 1) / 2)
                .cast("bigint")
                .alias(alias)
            )
        )

    truth = pairs(fp, ["h"], "true_pairs")
    caught = pairs(fp, ["h", "blk"], "caught_pairs")
    cand = pairs(fp, ["blk"], "candidate_pairs")
    tot = fp.agg(
        bcount("n"),
        (
            F.count(F.lit(1)).cast("bigint")
            * (F.count(F.lit(1)).cast("bigint") - 1)
            / 2
        )
        .cast("bigint")
        .alias("all_pairs"),
    )
    s = (
        tot.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(caught))
        .crossJoin(F.broadcast(cand))
    )
    return s.select(
        F.col("n").alias("n_docs"),
        "all_pairs",
        F.coalesce(F.col("candidate_pairs"), F.lit(0)).alias("candidate_pairs"),
        F.coalesce(F.col("true_pairs"), F.lit(0)).alias("true_dup_pairs"),
        F.coalesce(F.col("caught_pairs"), F.lit(0)).alias("caught_dup_pairs"),
        F.round(
            1.0
            - F.coalesce(F.col("candidate_pairs"), F.lit(0)).cast("double")
            / F.col("all_pairs"),
            6,
        ).alias("reduction_ratio"),
        F.round(
            F.coalesce(F.col("caught_pairs"), F.lit(0)).cast("double")
            / F.nullif(F.col("true_pairs"), F.lit(0)),
            6,
        ).alias("pair_completeness"),
    )


@register(
    "q_record_statistics",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders GROUP BY 1
    ),
    runmax AS (
      SELECT d, rev,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
             MAX(rev) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING) AS prev_max
      FROM daily
    ),
    rec AS (
      SELECT t, CASE WHEN prev_max IS NULL OR rev > prev_max
                     THEN 1 ELSE 0 END AS is_rec
      FROM runmax
    ),
    obs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_rec) AS BIGINT) AS n_records,
             CAST(MAX(CASE WHEN is_rec = 1 THEN t END) AS BIGINT)
               AS last_record_day
      FROM rec
    ),
    harm AS (
      SELECT CAST(SUM(CAST(1.0 / t AS DECIMAL(28,18))) AS DOUBLE)
               AS expected_records
      FROM rec
    )
    SELECT n AS n_days, n_records, last_record_day,
           round(expected_records, 6) AS expected_records_iid,
           round(CAST(n_records AS DOUBLE) / expected_records, 6)
             AS record_ratio,
           CASE WHEN CAST(n_records AS DOUBLE) / expected_records > 1.5
                THEN 'trending' ELSE 'stationary_like' END AS verdict
    FROM obs, harm
    """,
)
def q_record_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record statistics of daily revenue: count record-high days and
    compare against the i.i.d. expectation Hₙ = Σ 1/t (under
    exchangeability, day t sets a record with probability exactly 1/t) —
    a beautifully assumption-light trend test: record counts far above
    the harmonic number betray growth without estimating any trend line
    (complements q_mann_kendall / q_theil_sen_trend).

    Determinism: record flags compare exact decimal running maxima; the
    harmonic expectation is a per-term DECIMAL(28,18) sum of exact
    rationals.

    Scale: one calendar-bounded running-max window; both aggregates are
    1-row. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev")
    )
    w = Window.orderBy("d")
    runmax = daily.select(
        "rev",
        F.row_number().over(w).cast("bigint").alias("t"),
        F.max("rev").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias(
            "prev_max"
        ),
    )
    rec = runmax.select(
        "t",
        F.when(
            F.col("prev_max").isNull() | (F.col("rev") > F.col("prev_max")), 1
        )
        .otherwise(0)
        .alias("is_rec"),
    )
    obs = rec.agg(
        bcount("n"),
        F.sum("is_rec").cast("bigint").alias("n_records"),
        F.max(F.when(F.col("is_rec") == 1, F.col("t")))
        .cast("bigint")
        .alias("last_record_day"),
    )
    harm = rec.agg(
        F.sum((F.lit(1.0) / F.col("t")).cast("decimal(28,18)"))
        .cast("double")
        .alias("expected_records")
    )
    s = obs.crossJoin(F.broadcast(harm))
    ratio = F.col("n_records").cast("double") / F.col("expected_records")
    return s.select(
        F.col("n").alias("n_days"),
        "n_records",
        "last_record_day",
        F.round("expected_records", 6).alias("expected_records_iid"),
        F.round(ratio, 6).alias("record_ratio"),
        F.when(ratio > 1.5, "trending").otherwise("stationary_like").alias(
            "verdict"
        ),
    )
