"""Analytics batch 89: the Hodges–Lehmann shift estimator between the
A/B arms (median of pairwise Walsh differences, contracted onto support
histograms), the Youden-J optimal decision threshold for the propensity
score, and split-half reliability of the activity metric with the
Spearman–Brown correction.

Hodges–Lehmann is the robust effect-size *location* estimate the rank
tests imply (Mann–Whitney says arms differ; HL says by how much, without
assuming normality); split-half reliability asks whether a metric is
stable enough to be worth testing at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register
from .relations import FIRST_EVENT_TYPES_SQL, first_event_types


@register(
    "q_hodges_lehmann",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS k,
             CASE WHEN {sql_hexval("substr(md5('hl1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      FROM events GROUP BY 1
    ),
    ha AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM users
      WHERE arm = 'A' GROUP BY k
    ),
    hb AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS c FROM users
      WHERE arm = 'B' GROUP BY k
    ),
    diffs AS (
      SELECT CAST(b.k - a.k AS BIGINT) AS d,
             CAST(SUM(a.c * b.c) AS BIGINT) AS w
      FROM ha a CROSS JOIN hb b
      GROUP BY b.k - a.k
    ),
    cum AS (
      SELECT d, w,
             CAST(SUM(w) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cw,
             CAST(SUM(w) OVER () AS BIGINT) AS tw
      FROM diffs
    ),
    med AS (
      SELECT CAST(MIN(d) AS BIGINT) AS hl
      FROM cum WHERE cw * 2 >= tw + (tw % 2)
    )
    SELECT (SELECT CAST(SUM(c) AS BIGINT) FROM ha) AS n_arm_a,
           (SELECT CAST(SUM(c) AS BIGINT) FROM hb) AS n_arm_b,
           (SELECT CAST(SUM(w) AS BIGINT) FROM diffs) AS n_pairs,
           med.hl AS hodges_lehmann_shift
    FROM med
    """,
)
def q_hodges_lehmann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hodges–Lehmann shift estimator between the hash-split arms on
    per-user event counts: the (lower) weighted median of all pairwise
    differences B−A — the robust "how much did the treatment move the
    metric" location estimate that pairs with q_mannwhitney_u /
    q_cliffs-delta-style rank inference (they decide *whether*; HL says
    *how much* without normality).

    Determinism: the pairwise difference distribution is *contracted
    onto the support histograms* (difference value → exact integer pair
    weight), so the median is a cumulative-weight pick on a ≤|support|²
    grid with an exact lower-median rule.

    Scale: the user table never self-joins — pair mass comes from the
    cross of two ≤|support|-row histograms (the production form at any
    n); one ordered cumsum finds the median. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("hl1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    # arm projected after the aggregate — pure function of the group key
    # (r6: string agg buffers force SortAggregate over all of events)
    users = ev.groupBy("user_id").agg(bcount("k")).withColumn("arm", arm)
    # checkpointed once (r6): the two arm histograms, their totals, and
    # both cross-join sides each re-derived the per-user rollup from the
    # fact (6 events scans in the plan); the per-user grid materializes
    # once, and the tiny per-k histograms are cut too so each is
    # aggregated once, not three times
    users = users.localCheckpoint(eager=True)
    ha = (
        users.filter(F.col("arm") == "A")
        .groupBy("k")
        .agg(bcount("c"))
        .localCheckpoint(eager=True)
    )
    hb = (
        users.filter(F.col("arm") == "B")
        .groupBy("k")
        .agg(bcount("c"))
        .localCheckpoint(eager=True)
    )
    diffs = (
        ha.alias("a")
        .crossJoin(F.broadcast(hb.alias("b")))
        .groupBy((F.col("b.k") - F.col("a.k")).cast("bigint").alias("d"))
        .agg(F.sum(F.col("a.c") * F.col("b.c")).cast("bigint").alias("w"))
    )
    wseq = Window.orderBy("d")
    cum = diffs.select(
        "d",
        "w",
        F.sum("w")
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cw"),
        F.sum("w").over(Window.partitionBy()).cast("bigint").alias("tw"),
    )
    med = cum.filter(
        F.col("cw") * 2 >= F.col("tw") + (F.col("tw") % 2)
    ).agg(F.min("d").cast("bigint").alias("hl"))
    na = ha.agg(F.sum("c").cast("bigint").alias("n_arm_a"))
    nb = hb.agg(F.sum("c").cast("bigint").alias("n_arm_b"))
    np_ = diffs.agg(F.sum("w").cast("bigint").alias("n_pairs"))
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(np_))
        .crossJoin(F.broadcast(med))
        .select(
            "n_arm_a", "n_arm_b", "n_pairs", F.col("hl").alias("hodges_lehmann_shift")
        )
    )


@register(
    "q_youden_threshold",
    oracle=f"""
    WITH firsts AS ({FIRST_EVENT_TYPES_SQL}),
    users AS (
      SELECT e.user_id,
             CAST(COUNT(*) AS BIGINT) AS score,
             MAX(CASE WHEN f.first_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events e
      JOIN firsts f ON f.user_id = e.user_id
      GROUP BY e.user_id
    ),
    support AS (
      SELECT score,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
      FROM users GROUP BY score
    ),
    tot AS (
      SELECT CAST(SUM(pos) AS BIGINT) AS p, CAST(SUM(neg) AS BIGINT) AS n
      FROM support
    ),
    sweep AS (
      SELECT score,
             CAST(SUM(pos) OVER (ORDER BY score DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
             CAST(SUM(neg) OVER (ORDER BY score DESC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
      FROM support
    ),
    scored AS (
      SELECT s.score, s.tp, s.fp, t.p, t.n,
             CAST(s.tp AS DOUBLE) / t.p - CAST(s.fp AS DOUBLE) / t.n AS j,
             ROW_NUMBER() OVER (
               ORDER BY CAST(s.tp AS DOUBLE) / t.p
                        - CAST(s.fp AS DOUBLE) / t.n DESC, s.score) AS pick
      FROM sweep s, tot t
    )
    SELECT CAST(score AS BIGINT) AS optimal_threshold,
           round(CAST(tp AS DOUBLE) / p, 6) AS tpr_at_threshold,
           round(CAST(fp AS DOUBLE) / n, 6) AS fpr_at_threshold,
           round(j, 6) AS youden_j
    FROM scored WHERE pick = 1
    """,
)
def q_youden_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Youden-J optimal operating point for the propensity score: sweep
    thresholds over the score support (descending cumulative TP/FP on
    the support histogram), pick the score maximizing J = TPR − FPR —
    the threshold that q_auc_mann_whitney's global AUC deliberately
    refuses to choose, turning a ranking into a decision rule (the
    vertical-distance twin of the KS statistic between class
    conditionals).

    Determinism: the sweep runs on exact integer cumulative counts; the
    argmax tiebreaks on score.

    Scale: user rollup → support histogram (≤ distinct scores) → one
    ordered window + argmax. §2.B ML-ops surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    firsts = first_event_types(spark, sf_dir)
    users = (
        ev.join(firsts, "user_id")
        .groupBy("user_id")
        .agg(
            bcount("score"),
            F.max(
                F.when(F.col("first_type") == "purchase", 1).otherwise(0)
            ).alias("y"),
        )
    )
    # checkpointed once (r6): the totals and the descending ROC sweep each
    # re-derived support → the events⨝firsts join (4 events scans in the
    # plan); the ≤|distinct score| histogram materializes once, leaving
    # the two-pass (window + join-agg) fact read the window shape needs
    support = users.groupBy("score").agg(
        F.sum("y").cast("bigint").alias("pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("neg"),
    ).localCheckpoint(eager=True)
    tot = support.agg(
        F.sum("pos").cast("bigint").alias("p"),
        F.sum("neg").cast("bigint").alias("n"),
    )
    wdesc = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    sweep = support.select(
        "score",
        F.sum("pos").over(wdesc).cast("bigint").alias("tp"),
        F.sum("neg").over(wdesc).cast("bigint").alias("fp"),
    )
    j = sweep.crossJoin(F.broadcast(tot))
    jval = F.col("tp").cast("double") / F.col("p") - F.col("fp").cast(
        "double"
    ) / F.col("n")
    scored = j.select(
        "score",
        "tp",
        "fp",
        "p",
        "n",
        jval.alias("j"),
        F.row_number().over(Window.orderBy(jval.desc(), "score")).alias("pick"),
    ).filter(F.col("pick") == 1)
    return scored.select(
        F.col("score").cast("bigint").alias("optimal_threshold"),
        F.round(F.col("tp").cast("double") / F.col("p"), 6).alias(
            "tpr_at_threshold"
        ),
        F.round(F.col("fp").cast("double") / F.col("n"), 6).alias(
            "fpr_at_threshold"
        ),
        F.round("j", 6).alias("youden_j"),
    )


@register(
    "q_split_half_reliability",
    oracle="""
    WITH halves AS (
      SELECT user_id,
             CAST(COUNT(*) FILTER (WHERE day(ts) % 2 = 1) AS BIGINT) AS x,
             CAST(COUNT(*) FILTER (WHERE day(ts) % 2 = 0) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM halves
    ),
    r AS (
      SELECT n,
             (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy / n)
             / sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                    * (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n))
               AS half_r
      FROM mom
    )
    SELECT n AS n_users,
           round(half_r, 6) AS split_half_r,
           round(2.0 * half_r / (1.0 + half_r), 6) AS spearman_brown,
           CASE WHEN 2.0 * half_r / (1.0 + half_r) >= 0.8
                THEN 'reliable'
                WHEN 2.0 * half_r / (1.0 + half_r) >= 0.6
                THEN 'questionable' ELSE 'unreliable' END AS verdict
    FROM r
    """,
)
def q_split_half_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-half reliability of the per-user activity metric: correlate
    each user's odd-day activity with their even-day activity, then
    apply the Spearman–Brown prophecy 2r/(1+r) — psychometrics'
    measurement-reliability gate imported into product analytics: a
    metric with low reliability cannot support per-user targeting or
    experiments no matter how the test is run (it caps every observable
    correlation at √reliability), the measurement-side complement to
    q_cuped_adjustment and q_power_mde.

    Determinism: both halves are exact integer counts; r and the
    correction are fixed-shape double algebra on integer moments.

    Scale: one user rollup with conditional counting → 1-row moments.
    §2.B experimentation surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    halves = ev.groupBy("user_id").agg(
        F.count_if(F.dayofmonth("ts") % 2 == 1).cast("bigint").alias("x"),
        F.count_if(F.dayofmonth("ts") % 2 == 0).cast("bigint").alias("y"),
    )
    mom = halves.agg(
        bcount("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    n = F.col("n")
    r = (
        F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy") / n
    ) / F.sqrt(
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / n)
        * (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy") / n)
    )
    sb = 2.0 * r / (1.0 + r)
    return mom.select(
        n.alias("n_users"),
        F.round(r, 6).alias("split_half_r"),
        F.round(sb, 6).alias("spearman_brown"),
        F.when(sb >= 0.8, "reliable")
        .when(sb >= 0.6, "questionable")
        .otherwise("unreliable")
        .alias("verdict"),
    )
