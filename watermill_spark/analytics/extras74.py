"""Analytics batch 82: effective rank (participation ratio) of the
embedding covariance computed without any eigensolver, exact ROC-AUC via
the rank-sum identity, and a geometric-distribution fit to session
lengths.

The effective-rank trick — PR = trace²/‖Σ‖²_F, both computable from raw
second moments — gives the spectral health of an embedding space (how
many dimensions actually carry variance) with two aggregate passes, no
iteration; AUC-by-rank-sums is the exact, O(n log n), engine-friendly
form of the most-used classifier metric.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register
from .relations import FIRST_EVENT_TYPES_SQL, first_event_types


@register(
    "q_effective_rank",
    oracle="""
    WITH flat AS (
      SELECT e.vec_id, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
      FROM embeddings e, (SELECT UNNEST(range(1, 65)) AS i) d
    ),
    mu AS (
      SELECT i, CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*)
               AS m
      FROM flat GROUP BY i
    ),
    c AS (
      SELECT f.vec_id, f.i, f.x - mu.m AS xc
      FROM flat f JOIN mu USING (i)
    ),
    cov AS (
      SELECT a.i AS i, b.i AS j,
             CAST(SUM(CAST(a.xc * b.xc AS DECIMAL(28,12))) AS DOUBLE)
             / (SELECT COUNT(DISTINCT vec_id) FROM flat) AS s
      FROM c a JOIN c b ON b.vec_id = a.vec_id AND b.i >= a.i
      GROUP BY a.i, b.i
    ),
    stats AS (
      SELECT CAST(SUM(CASE WHEN i = j
                      THEN CAST(s AS DECIMAL(28,15)) END) AS DOUBLE)
               AS trace_v,
             CAST(SUM(CAST(CASE WHEN i = j THEN s * s
                           ELSE 2 * s * s END AS DECIMAL(28,15)))
                  AS DOUBLE) AS frob2
      FROM cov
    )
    SELECT CAST(64 AS BIGINT) AS n_dims,
           round(trace_v, 6) AS total_variance,
           round(sqrt(frob2), 6) AS frobenius_norm,
           round(trace_v * trace_v / frob2, 4) AS effective_rank,
           round(trace_v * trace_v / frob2 / 64, 6) AS rank_utilization
    FROM stats
    """,
)
def q_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Effective rank (participation ratio) of the embedding covariance:
    PR = (Σλ)²/Σλ² = trace(Σ)²/‖Σ‖²_F — computed *without any
    eigensolver* because trace and Frobenius norm are plain second-moment
    aggregates — the dimensional-collapse detector for embedding spaces
    (PR ≈ 64 means variance spreads across all dims; PR ≈ 3 means the
    space collapsed and q_knn_* distances are mostly noise); the
    closed-form companion to q_pca_power_iteration (top eigenpair) and
    q_jl_projection_distortion (dimensionality reduction budget).

    Determinism: centered products are DECIMAL-cast per (vector, i, j)
    term; trace/Frobenius contraction terms are DECIMAL-cast per cell.

    Scale: the covariance build joins the flat table to itself on vec_id
    (key-local, 64²/2 cells out); everything after runs on the 2080-cell
    upper triangle. §2.B similarity surface [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "xv")
    ).select(
        "vec_id", (F.col("pos") + 1).alias("i"), F.col("xv").cast("double").alias("x")
    )
    # checkpointed once (r6): the per-dim means, the vector count, and
    # the centering join each re-scanned+re-exploded embeddings (5 scans
    # in the plan); the component table materializes once (state linear
    # in corpus×64, the posting-list class from pass 2)
    flat = flat.localCheckpoint(eager=True)
    mu = flat.groupBy("i").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    nvec = flat.agg(F.count_distinct("vec_id").cast("bigint").alias("nv"))
    c = flat.join(F.broadcast(mu), "i").select(
        "vec_id", "i", (F.col("x") - F.col("m")).alias("xc")
    )
    # both sides of the Gram self-join read the centered table once
    c = c.localCheckpoint(eager=True)
    ca, cb = c.alias("ca"), c.alias("cb")
    cov = (
        ca.join(
            cb,
            (F.col("cb.vec_id") == F.col("ca.vec_id"))
            & (F.col("cb.i") >= F.col("ca.i")),
        )
        .groupBy(F.col("ca.i").alias("i"), F.col("cb.i").alias("j"))
        .agg(
            F.sum((F.col("ca.xc") * F.col("cb.xc")).cast("decimal(28,12)"))
            .cast("double")
            .alias("sp")
        )
        .crossJoin(F.broadcast(nvec))
        .select("i", "j", (F.col("sp") / F.col("nv")).alias("s"))
    )
    stats = cov.agg(
        F.sum(
            F.when(F.col("i") == F.col("j"), F.col("s").cast("decimal(28,15)"))
        )
        .cast("double")
        .alias("trace_v"),
        F.sum(
            F.when(F.col("i") == F.col("j"), F.col("s") * F.col("s"))
            .otherwise(2 * F.col("s") * F.col("s"))
            .cast("decimal(28,15)")
        )
        .cast("double")
        .alias("frob2"),
    )
    pr = F.col("trace_v") * F.col("trace_v") / F.col("frob2")
    return stats.select(
        F.lit(64).cast("bigint").alias("n_dims"),
        F.round("trace_v", 6).alias("total_variance"),
        F.round(F.sqrt("frob2"), 6).alias("frobenius_norm"),
        F.round(pr, 4).alias("effective_rank"),
        F.round(pr / 64, 6).alias("rank_utilization"),
    )


@register(
    "q_auc_mann_whitney",
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
    ranked AS (
      SELECT y,
             CAST(RANK() OVER (ORDER BY score) AS BIGINT) AS r,
             CAST(COUNT(*) OVER (PARTITION BY score) AS BIGINT) AS ties
      FROM users
    ),
    mid AS (
      SELECT y, CAST(r AS DOUBLE) + (ties - 1) / 2.0 AS mr FROM ranked
    ),
    s AS (
      SELECT CAST(SUM(y) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN y = 1
                      THEN CAST(mr AS DECIMAL(28,6)) END) AS DOUBLE)
               AS rank_sum_pos
      FROM mid
    )
    SELECT n1 AS n_positives, n0 AS n_negatives,
           round((rank_sum_pos - CAST(n1 AS DOUBLE) * (n1 + 1) / 2)
                 / (CAST(n1 AS DOUBLE) * n0), 6) AS auc,
           round(2.0 * ((rank_sum_pos - CAST(n1 AS DOUBLE) * (n1 + 1) / 2)
                 / (CAST(n1 AS DOUBLE) * n0)) - 1.0, 6) AS gini
    FROM s
    """,
)
def q_auc_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of the activity propensity score (per-user event
    count predicting whether the user's *first* event was a purchase —
    a label with a real negative class at every SF) via the rank-sum
    identity
    AUC = (R₊ − n₁(n₁+1)/2)/(n₁n₀) with midrank tie handling — the
    O(n log n) exact form of the most-used classifier metric (no
    threshold sweep, no trapezoid grid), plus the accuracy-Gini 2·AUC−1;
    the global-ranking counterpart to q_decile_lift (binned) and
    q_calibration_ece (absolute values).

    Determinism: midranks are exact rationals from RANK + tie counts
    (halves are exactly representable); the positive rank sum is
    DECIMAL-cast per user.

    Scale: one user rollup + one global rank; the identity avoids any
    pairwise or threshold-sweep stage. §2.B ML-ops surface [NS].
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
    ranked = users.select(
        "y",
        F.rank().over(Window.orderBy("score")).cast("bigint").alias("r"),
        F.count(F.lit(1))
        .over(Window.partitionBy("score"))
        .cast("bigint")
        .alias("ties"),
    )
    mid = ranked.select(
        "y", (F.col("r").cast("double") + (F.col("ties") - 1) / 2.0).alias("mr")
    )
    s = mid.agg(
        F.sum("y").cast("bigint").alias("n1"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("y") == 1, F.col("mr").cast("decimal(28,6)")))
        .cast("double")
        .alias("rank_sum_pos"),
    )
    auc = (
        F.col("rank_sum_pos")
        - F.col("n1").cast("double") * (F.col("n1") + 1) / 2
    ) / (F.col("n1").cast("double") * F.col("n0"))
    return s.select(
        F.col("n1").alias("n_positives"),
        F.col("n0").alias("n_negatives"),
        F.round(auc, 6).alias("auc"),
        F.round(2.0 * auc - 1.0, 6).alias("gini"),
    )


@register(
    "q_geometric_fit",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ),
    lens AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS len
      FROM sess GROUP BY user_id, sess_id
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(len) AS BIGINT) AS s1,
             CAST(COUNT(*) FILTER (WHERE len = 1) AS BIGINT) AS n_1,
             CAST(COUNT(*) FILTER (WHERE len = 2) AS BIGINT) AS n_2,
             CAST(COUNT(*) FILTER (WHERE len >= 3) AS BIGINT) AS n_3p
      FROM lens
    )
    SELECT n AS n_sessions,
           round(CAST(s1 AS DOUBLE) / n, 6) AS mean_len,
           round(CAST(n AS DOUBLE) / s1, 6) AS geom_p,
           round(CAST(n_1 AS DOUBLE) / n, 6) AS obs_p1,
           round(CAST(n AS DOUBLE) / s1, 6) AS pred_p1,
           round(CAST(n_2 AS DOUBLE) / n, 6) AS obs_p2,
           round((CAST(n AS DOUBLE) / s1)
                 * (1.0 - CAST(n AS DOUBLE) / s1), 6) AS pred_p2,
           round(abs(CAST(n_1 AS DOUBLE) / n - CAST(n AS DOUBLE) / s1)
                 + abs(CAST(n_2 AS DOUBLE) / n
                       - (CAST(n AS DOUBLE) / s1)
                         * (1.0 - CAST(n AS DOUBLE) / s1)), 6)
             AS fit_gap_12
    FROM mom
    """,
)
def q_geometric_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric-distribution fit to session lengths (events per 30-min
    session): MLE p̂ = 1/mean, with observed vs predicted masses at
    lengths 1 and 2 and their absolute gap — the memoryless-ness check
    for sessions (geometric ⇔ constant per-event continue probability;
    a bad fit at length 1 is the bounce spike q_bounce_dwell measures),
    joining the distribution-fitting family (q_negative_binomial_fit,
    q_weibull_median_rank, q_gumbel_block_maxima).

    Determinism: session lengths are exact integers off the engine's
    standard sessionizer; every statistic is integer ratios.

    Scale: sessionize windows on user_id; lengths collapse map-side to a
    1-row moment set. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sess = marked.select(
        "user_id",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "sess_id"
        ),
    )
    lens = sess.groupBy("user_id", "sess_id").agg(bcount("len"))
    mom = lens.agg(
        bcount("n"),
        F.sum("len").cast("bigint").alias("s1"),
        F.count_if(F.col("len") == 1).cast("bigint").alias("n_1"),
        F.count_if(F.col("len") == 2).cast("bigint").alias("n_2"),
    )
    p = F.col("n").cast("double") / F.col("s1")
    obs1 = F.col("n_1").cast("double") / F.col("n")
    obs2 = F.col("n_2").cast("double") / F.col("n")
    pred2 = p * (1.0 - p)
    return mom.select(
        F.col("n").alias("n_sessions"),
        F.round(F.col("s1").cast("double") / F.col("n"), 6).alias("mean_len"),
        F.round(p, 6).alias("geom_p"),
        F.round(obs1, 6).alias("obs_p1"),
        F.round(p, 6).alias("pred_p1"),
        F.round(obs2, 6).alias("obs_p2"),
        F.round(pred2, 6).alias("pred_p2"),
        F.round(F.abs(obs1 - p) + F.abs(obs2 - pred2), 6).alias("fit_gap_12"),
    )
