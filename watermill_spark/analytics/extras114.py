"""Analytics batch 122: TOST equivalence testing, quantile treatment
effects, and an anytime-valid e-value sequential test.

TOST (two one-sided tests) is how you demonstrate two variants are the
SAME within a margin — the flip side of the significance tests already
here (q_welch_ttest shows difference; TOST shows equivalence, the
regulatory and "safe rollout" standard). Quantile treatment effects
expose WHERE in the outcome distribution an effect lives (deciles, not
means — a lift concentrated in the top decile looks identical to a
uniform lift under a t-test). The e-value sequential test is the modern
anytime-valid inference: a likelihood-ratio e-process you may peek at
continuously, stopping the moment E ≥ 1/α, with no peeking penalty —
the successor to q_sprt_ab_sequential's classical SPRT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .distrib import two_level_order
from .registry import load, register

_TOST_MARGIN = 25.0  # equivalence margin on mean user value
_EV_P0 = 0.20  # null purchase share
_EV_P1 = 0.25  # alternative the e-process bets on
_EV_ALPHA = 0.05
# precomputed-transcendental rule (SCALE.md): both engines consume these
# exact double literals, neither evaluates ln where an ulp could differ
import math as _math  # noqa: E402

math_log_ratio_pos = _math.log(_EV_P1 / _EV_P0)
math_log_ratio_neg = _math.log((1 - _EV_P1) / (1 - _EV_P0))
_LOG_1_OVER_ALPHA = _math.log(1 / _EV_ALPHA)


@register(
    "q_tost_equivalence",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 = 1 AS is_b,
             CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6))) AS DOUBLE)
               / COUNT(*) AS mv
      FROM events GROUP BY 1, 2
    ),
    arms AS (
      SELECT is_b,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(mv AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM per_user GROUP BY 1
    ),
    devs AS (
      SELECT p.is_b,
             CAST(SUM(CAST((p.mv - a.mu) * (p.mv - a.mu) AS DECIMAL(38,15)))
                  AS DOUBLE) AS ssd
      FROM per_user p JOIN arms a ON a.is_b = p.is_b
      GROUP BY p.is_b
    ),
    stats AS (
      SELECT MAX(CASE WHEN a.is_b THEN a.mu END)
               - MAX(CASE WHEN NOT a.is_b THEN a.mu END) AS diff,
             sqrt(MAX(CASE WHEN a.is_b THEN d.ssd / (a.n * (a.n - 1)) END)
                  + MAX(CASE WHEN NOT a.is_b
                        THEN d.ssd / (a.n * (a.n - 1)) END)) AS se,
             MAX(CASE WHEN a.is_b THEN a.n END) AS n_b,
             MAX(CASE WHEN NOT a.is_b THEN a.n END) AS n_a
      FROM arms a JOIN devs d ON d.is_b = a.is_b
    )
    SELECT n_a, n_b,
           round(diff, 6) AS mean_diff,
           round(se, 6) AS se_diff,
           round((diff + {_TOST_MARGIN}) / se, 6) AS t_lower,
           round((diff - {_TOST_MARGIN}) / se, 6) AS t_upper,
           CASE WHEN (diff + {_TOST_MARGIN}) / se > 1.6448536269514722
                 AND (diff - {_TOST_MARGIN}) / se < -1.6448536269514722
                THEN 1 ELSE 0 END AS equivalent_at_90
    FROM stats
    """,
)
def q_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test of mean per-event user value between the
    odd/even user-id arms: H₀ "arms differ by ≥ ±25" is rejected when
    BOTH one-sided Welch statistics clear z₀.₉₅ = 1.645 — i.e. the 90%
    CI of the difference sits inside the margin. Declares EQUIVALENCE,
    which q_welch_ttest's non-significance cannot (absence of evidence
    vs evidence of absence) — the safe-rollout / non-inferiority gate.

    Determinism: per-arm means use exact decimal sums; squared
    deviations are two-pass (cancellation-free); the z threshold is a
    fixed double literal.

    Scale: one per-user rollup, one per-arm moment pass with the 2-row
    means broadcast back. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy(
        "user_id", (F.col("user_id") % 2 == 1).alias("is_b")
    ).agg(
        (
            F.sum(dec(F.coalesce(F.col("value"), F.lit(0)))).cast("double")
            / F.count(F.lit(1))
        ).alias("mv")
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the arm means and the deviation join both
    # re-derived the rollup (2 events scans in the plan); the user-domain
    # grid materializes once
    arms = per_user.groupBy("is_b").agg(
        bcount("n"),
        (F.sum(F.col("mv").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    devs = (
        per_user.join(F.broadcast(arms), "is_b")
        .groupBy("is_b", "n", "mu")
        .agg(
            F.sum(((F.col("mv") - F.col("mu")) * (F.col("mv") - F.col("mu"))).cast(D15))
            .cast("double")
            .alias("ssd")
        )
    )
    stats = devs.agg(
        (
            F.max(F.when(F.col("is_b"), F.col("mu")))
            - F.max(F.when(~F.col("is_b"), F.col("mu")))
        ).alias("diff"),
        F.sqrt(
            F.max(
                F.when(F.col("is_b"), F.col("ssd") / (F.col("n") * (F.col("n") - 1)))
            )
            + F.max(
                F.when(~F.col("is_b"), F.col("ssd") / (F.col("n") * (F.col("n") - 1)))
            )
        ).alias("se"),
        F.max(F.when(F.col("is_b"), F.col("n"))).alias("n_b"),
        F.max(F.when(~F.col("is_b"), F.col("n"))).alias("n_a"),
    )
    z95 = 1.6448536269514722
    return stats.select(
        "n_a",
        "n_b",
        F.round("diff", 6).alias("mean_diff"),
        F.round("se", 6).alias("se_diff"),
        F.round((F.col("diff") + _TOST_MARGIN) / F.col("se"), 6).alias("t_lower"),
        F.round((F.col("diff") - _TOST_MARGIN) / F.col("se"), 6).alias("t_upper"),
        F.when(
            ((F.col("diff") + _TOST_MARGIN) / F.col("se") > z95)
            & ((F.col("diff") - _TOST_MARGIN) / F.col("se") < -z95),
            1,
        )
        .otherwise(0)
        .alias("equivalent_at_90"),
    )


@register(
    "q_quantile_treatment_effect",
    oracle="""
    WITH per_user AS (
      SELECT user_id, user_id % 2 = 1 AS is_b,
             CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6))) AS DOUBLE)
               AS tv
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT is_b, tv,
             ntile(10) OVER (PARTITION BY is_b ORDER BY tv, user_id) AS dec
      FROM per_user
    ),
    qs AS (
      SELECT is_b, dec, MAX(tv) AS q
      FROM ranked GROUP BY 1, 2
    )
    SELECT a.dec AS decile,
           round(a.q, 6) AS q_control,
           round(b.q, 6) AS q_treatment,
           round(b.q - a.q, 6) AS qte,
           round((b.q - a.q) / a.q, 6) AS qte_rel
    FROM (SELECT dec, q FROM qs WHERE NOT is_b) a
    JOIN (SELECT dec, q FROM qs WHERE is_b) b ON b.dec = a.dec
    ORDER BY decile
    """,
)
def q_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects: per-user total value split into the
    odd/even arms, decile boundaries (max within each ntile, user_id
    tiebreak) compared decile-by-decile — QTE(τ) = q_B(τ) − q_A(τ),
    absolute and relative. Shows WHERE the effect lives: a mean lift
    (q_welch_ttest, q_ab_conversion_lift) concentrated in the top decile
    and a uniform shift are indistinguishable to a t-test but opposite
    stories here.

    Determinism: ntile with total-order tiebreaks; boundaries are exact
    MAX order statistics; no interpolation.

    Scale: one per-user rollup, one ntile window per arm (both
    partition-parallel), a 10-row join. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy(
        "user_id", (F.col("user_id") % 2 == 1).alias("is_b")
    ).agg(F.sum(dec(F.coalesce(F.col("value"), F.lit(0)))).cast("double").alias("tv"))
    # checkpointed once (r6): both arm slices re-derived the rollup
    # (2 events scans in the plan); the user-domain grid materializes
    # once
    per_user = per_user.localCheckpoint(eager=True)
    ranked = per_user.select(
        "is_b",
        "tv",
        F.ntile(10)
        .over(Window.partitionBy("is_b").orderBy("tv", "user_id"))
        .alias("dec"),
    )
    qs = ranked.groupBy("is_b", "dec").agg(F.max("tv").alias("q"))
    a = qs.filter(~F.col("is_b")).select("dec", F.col("q").alias("qa"))
    b = qs.filter(F.col("is_b")).select(F.col("dec").alias("decb"), F.col("q").alias("qb"))
    return (
        a.join(F.broadcast(b), F.col("decb") == F.col("dec"))
        .select(
            F.col("dec").alias("decile"),
            F.round("qa", 6).alias("q_control"),
            F.round("qb", 6).alias("q_treatment"),
            F.round(F.col("qb") - F.col("qa"), 6).alias("qte"),
            F.round((F.col("qb") - F.col("qa")) / F.col("qa"), 6).alias("qte_rel"),
        )
        .orderBy("decile")
    )


@register(
    "q_evalue_sequential",
    oracle=f"""
    WITH seq AS (
      SELECT ts, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    lr AS (
      SELECT ts, event_id, x,
             CASE WHEN x = 1 THEN CAST({math_log_ratio_pos!r} AS DOUBLE)
                  ELSE CAST({math_log_ratio_neg!r} AS DOUBLE) END AS llr
      FROM seq
    ),
    walk AS (
      SELECT row_number() OVER (ORDER BY ts, event_id) AS n,
             CAST(SUM(CAST(llr AS DECIMAL(38,15))) OVER (
               ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS DOUBLE) AS log_e
      FROM lr
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_events,
           round(MAX(log_e), 6) AS max_log_e,
           round(CAST(SUM(CASE WHEN n = (SELECT MAX(n) FROM walk)
                          THEN log_e ELSE 0 END) AS DOUBLE), 6)
             AS final_log_e,
           CAST(MIN(CASE WHEN log_e >= CAST({_LOG_1_OVER_ALPHA!r} AS DOUBLE)
                    THEN n END) AS BIGINT) AS first_rejection_n,
           CASE WHEN MAX(log_e) >= CAST({_LOG_1_OVER_ALPHA!r} AS DOUBLE)
                THEN 1 ELSE 0 END AS rejected
    FROM walk
    """,
)
def q_evalue_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anytime-valid e-value test of the purchase share: the e-process
    E_n = Π (p₁/p₀)^xᵢ ((1−p₁)/(1−p₀))^(1−xᵢ) bets p₁=0.25 against
    H₀: p₀=0.20 over the event stream in time order; by Ville's
    inequality P(sup E ≥ 1/α) ≤ α under H₀, so the test may be
    monitored continuously and stopped at the first crossing — no
    peeking penalty, unlike fixed-n tests and with a simpler guarantee
    than q_sprt_ab_sequential's two-boundary SPRT. Reports the walk's
    max/final log-E and the first rejection index.

    Determinism: the two log-likelihood-ratio increments are
    Python-computed double literals (the precomputed-transcendental
    rule from SCALE.md); the walk is an exact decimal cumulative sum
    over a (ts, event_id) total order.

    Scale: one window pass over the ordered stream; at 100 TB the same
    e-process runs as a streaming stateful aggregation (the increment is
    associative in log space). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    seq = ev.select(
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    llr = F.when(
        F.col("x") == 1, F.lit(math_log_ratio_pos)
    ).otherwise(F.lit(math_log_ratio_neg))
    # r7 (guide §2.5): the e-process walk over RAW events ran as THREE
    # single-task global windows (row_number, the decimal prefix sum, and
    # the max-n attach). distrib.two_level_order computes the identical
    # exact rank and decimal running sum distributed; nmax is the total
    # count riding the same offset grid.
    walk = two_level_order(
        seq.select("ts", "event_id", llr.alias("llr")),
        ["ts", "event_id"],
        rank_col="n",
        sums=[{"col": "llr", "acc": D15, "running": "log_ed"}],
        total_count="nmax",
        project=["llr"],
    ).select("n", F.col("log_ed").cast("double").alias("log_e"), "nmax")
    thresh = _LOG_1_OVER_ALPHA
    return walk.agg(
        F.max("n").cast("bigint").alias("n_events"),
        F.round(F.max("log_e"), 6).alias("max_log_e"),
        F.round(
            F.sum(
                F.when(F.col("n") == F.col("nmax"), F.col("log_e")).otherwise(0.0)
            ).cast("double"),
            6,
        ).alias("final_log_e"),
        F.min(F.when(F.col("log_e") >= thresh, F.col("n")))
        .cast("bigint")
        .alias("first_rejection_n"),
        F.when(F.max("log_e") >= thresh, 1).otherwise(0).alias("rejected"),
    )
