"""Analytics batch 116: Hampel outlier filter, Box–Cox λ profile
likelihood, and deterministic RANSAC line fitting.

The Hampel filter is the robust time-series despiker ops teams run
before alerting: a point is an outlier when it sits more than k·MAD
from the rolling window median (median/MAD instead of mean/σ, so the
spike can't mask itself). Box–Cox picks the variance-stabilizing power
transform by profile log-likelihood over a λ grid — the pre-modeling
step for skewed positive metrics. RANSAC fits a line that ignores
outliers by scoring candidate models drawn from data pairs; candidates
here are chosen by md5-rank (deterministic, so the oracle replays the
exact same "random" sample — the engine's general trick for making
randomized algorithms cross-engine checkable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

_HAMPEL_HALF = 3  # window = day ± 3
_HAMPEL_K = 3.0
_MAD_CONSISTENT = 1.4826  # normal-consistency constant
_BOXCOX_LAMBDAS = (-1.0, -0.5, 0.0, 0.5, 1.0)
_RANSAC_SAMPLE = 32  # md5-ranked rows -> 16 candidate lines
_RANSAC_TOL = 5000.0


@register(
    "q_hampel_filter",
    oracle=f"""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY 1
    ),
    med AS MATERIALIZED (
      SELECT a.d, a.y,
             median(b.y) AS win_med,
             CAST(COUNT(*) AS BIGINT) AS win_n
      FROM daily a JOIN daily b
        ON b.d BETWEEN a.d - {_HAMPEL_HALF} AND a.d + {_HAMPEL_HALF}
      GROUP BY a.d, a.y
    ),
    mad AS (
      SELECT m.d, m.y, m.win_med, m.win_n,
             median(abs(b.y - m.win_med)) AS win_mad
      FROM med m JOIN daily b
        ON b.d BETWEEN m.d - {_HAMPEL_HALF} AND m.d + {_HAMPEL_HALF}
      GROUP BY m.d, m.y, m.win_med, m.win_n
    )
    SELECT d AS day, round(y, 6) AS y, round(win_med, 6) AS win_median,
           round({_MAD_CONSISTENT} * win_mad, 6) AS win_sigma,
           CASE WHEN abs(y - win_med)
                     > {_HAMPEL_K} * {_MAD_CONSISTENT} * win_mad
                THEN 1 ELSE 0 END AS is_outlier
    FROM mad ORDER BY day
    """,
)
def q_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter over daily revenue: flag day i when
    |y_i − median(window)| > 3 · 1.4826 · MAD(window), window = ±3 days.
    The robust replacement for z-score despiking (q_events_anomaly_zscore):
    a genuine spike inflates the mean AND the σ it is tested against,
    but barely moves median/MAD. Median and MAD come from a bounded
    range self-join on the day grid (the windowed-median shape of
    q_rolling_median_7d, plus the second nested-median pass z-scores
    don't need).

    Determinism: daily sums are exact decimals; medians are exact order
    statistics over integer-keyed windows; the constant 1.4826 is the
    standard normal-consistency factor.

    Scale: both joins are day-range joins over the BOUNDED day grid
    (SF-invariant after the first rollup); at a 10-year span that is
    ~3.7k × 7 rows per pass. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.sum(dec("value")).cast("double").alias("y")
    ).localCheckpoint(eager=True)
    b = daily.select(F.col("d").alias("bd"), F.col("y").alias("by"))
    in_win = (F.col("bd") >= F.date_sub(F.col("d"), _HAMPEL_HALF)) & (
        F.col("bd") <= F.date_add(F.col("d"), _HAMPEL_HALF)
    )
    med = (
        daily.join(b, in_win)
        .groupBy("d", "y")
        .agg(
            F.median("by").alias("win_med"),
            bcount("win_n"),
        )
    )
    mad = (
        med.join(b, in_win)
        .groupBy("d", "y", "win_med", "win_n")
        .agg(F.median(F.abs(F.col("by") - F.col("win_med"))).alias("win_mad"))
    )
    sigma = F.lit(_MAD_CONSISTENT) * F.col("win_mad")
    return mad.select(
        F.col("d").alias("day"),
        F.round("y", 6).alias("y"),
        F.round("win_med", 6).alias("win_median"),
        F.round(sigma, 6).alias("win_sigma"),
        F.when(F.abs(F.col("y") - F.col("win_med")) > _HAMPEL_K * sigma, 1)
        .otherwise(0)
        .alias("is_outlier"),
    ).orderBy("day")


@register(
    "q_boxcox_lambda_grid",
    oracle=f"""
    WITH x AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS v FROM orders
    ),
    lams AS (SELECT CAST(unnest(ARRAY{list(_BOXCOX_LAMBDAS)}) AS DOUBLE) AS lam),
    tr AS (
      SELECT l.lam,
             CASE WHEN l.lam = 0.0 THEN ln(v)
                  ELSE (pow(v, l.lam) - 1.0) / l.lam END AS t,
             ln(v) AS lnv
      FROM x, lams l
    ),
    mom1 AS MATERIALIZED (
      SELECT lam,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(t AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(lnv AS DECIMAL(38,15))) AS DOUBLE) AS slnv
      FROM tr GROUP BY 1
    ),
    mom2 AS (
      -- two-pass variance: (t-mu)^2 sums avoid the catastrophic
      -- cancellation the raw-moment form hits when t ~ 1 (lambda = -1)
      SELECT t.lam,
             CAST(SUM(CAST((t.t - m.mu) * (t.t - m.mu) AS DECIMAL(38,15)))
                  AS DOUBLE) AS ssd
      FROM tr t JOIN mom1 m ON m.lam = t.lam
      GROUP BY t.lam
    ),
    ll AS (
      SELECT m.lam, m.n,
             -0.5 * m.n * ln(s.ssd / m.n) + (m.lam - 1.0) * m.slnv AS loglik
      FROM mom1 m JOIN mom2 s ON s.lam = m.lam
    )
    SELECT lam AS lambda, n,
           round(loglik, 4) AS profile_loglik,
           CASE WHEN loglik = (SELECT MAX(loglik) FROM ll)
                THEN 1 ELSE 0 END AS is_best
    FROM ll ORDER BY lambda
    """,
)
def q_boxcox_lambda_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Box–Cox transform selection for order totals: profile
    log-likelihood LL(λ) = −(n/2)·ln(σ̂²_λ) + (λ−1)·Σln(x) over the
    grid λ ∈ {{−1, −0.5, 0, 0.5, 1}} (inverse, inverse-sqrt, log, sqrt,
    identity), flagging the maximizing λ — the variance-stabilizing
    pre-transform check run before fitting anything Gaussian to a
    right-skewed money metric (complements q_jarque_bera /
    q_shapiro_francia, which diagnose; this one prescribes).

    Determinism: each transform/ln term is DECIMAL(38,15)-cast before
    summing; σ̂² is the exact-moments form; the λ grid replicates rows
    by a constant 5-element explode.

    Scale: one pass over orders fanned out ×5 (map-side combinable
    conditional aggregation); no shuffle beyond the 5-group rollup.
    §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    lams = spark.range(1).select(
        F.explode(F.array(*[F.lit(l) for l in _BOXCOX_LAMBDAS])).alias("lam")
    )
    x = orders.select(F.col("o_totalprice").cast("double").alias("v"))
    t = F.when(F.col("lam") == 0.0, F.log("v")).otherwise(
        (F.pow("v", F.col("lam")) - 1.0) / F.col("lam")
    )
    tr = x.crossJoin(F.broadcast(lams)).select(
        "lam", t.alias("t"), F.log("v").alias("lnv")
    )
    mom1 = tr.groupBy("lam").agg(
        bcount("n"),
        (F.sum(F.col("t").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
        F.sum(F.col("lnv").cast(D15)).cast("double").alias("slnv"),
    )
    # checkpointed once (r6): mom2's mean join and the final LL join each
    # re-derived the first fact pass (6 orders scans in the plan); the
    # 5-row first-moment grid materializes once
    mom1 = mom1.localCheckpoint(eager=True)
    # two-pass variance (see oracle comment): join the per-lambda mean back
    mom2 = (
        tr.join(F.broadcast(mom1.select("lam", "mu")), "lam")
        .groupBy("lam")
        .agg(
            F.sum(((F.col("t") - F.col("mu")) * (F.col("t") - F.col("mu"))).cast(D15))
            .cast("double")
            .alias("ssd")
        )
    )
    n = F.col("n").cast("double")
    joined = mom1.join(F.broadcast(mom2), "lam")
    loglik = -0.5 * n * F.log(F.col("ssd") / n) + (F.col("lam") - 1.0) * F.col(
        "slnv"
    )
    ll = joined.select("lam", "n", loglik.alias("loglik"))
    # the best-λ probe and the output each reference ll; materializing
    # the 5-row grid keeps the second fact pass (mom2) single-run:
    # 6 fact scans → 2, the two-pass variance minimum
    ll = ll.localCheckpoint(eager=True)
    best = ll.agg(F.max("loglik").alias("mx"))
    return (
        ll.crossJoin(F.broadcast(best))
        .select(
            F.col("lam").alias("lambda"),
            "n",
            F.round("loglik", 4).alias("profile_loglik"),
            F.when(F.col("loglik") == F.col("mx"), 1).otherwise(0).alias("is_best"),
        )
        .orderBy("lambda")
    )


@register(
    "q_ransac_line",
    oracle=f"""
    WITH pts AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x,
             CAST(l_extendedprice AS DOUBLE) AS y,
             md5(CAST(l_orderkey AS VARCHAR) || '-'
                 || CAST(l_linenumber AS VARCHAR)) AS h
      FROM lineitem
    ),
    sample AS MATERIALIZED (
      SELECT x, y,
             CAST(row_number() OVER (ORDER BY h, x, y) AS BIGINT) AS rn
      FROM pts
      ORDER BY h, x, y LIMIT {_RANSAC_SAMPLE}
    ),
    cand AS MATERIALIZED (
      SELECT a.rn // 2 AS cid,
             (b.y - a.y) / (b.x - a.x) AS slope,
             a.y - (b.y - a.y) / (b.x - a.x) * a.x AS intercept
      FROM sample a JOIN sample b
        ON b.rn = a.rn + 1 AND a.rn % 2 = 1 AND b.x <> a.x
    ),
    scored AS (
      SELECT c.cid, c.slope, c.intercept,
             CAST(SUM(CASE WHEN abs(p.y - (c.intercept + c.slope * p.x))
                                <= {_RANSAC_TOL} THEN 1 ELSE 0 END)
                  AS BIGINT) AS inliers,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM cand c, pts p
      GROUP BY 1, 2, 3
    )
    SELECT cid AS candidate_id,
           round(slope, 6) AS slope,
           round(intercept, 6) AS intercept,
           inliers, n,
           round(CAST(inliers AS DOUBLE) / n, 6) AS inlier_share
    FROM scored
    ORDER BY inliers DESC, cid
    LIMIT 3
    """,
)
def q_ransac_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic RANSAC line fit of extended price on quantity:
    the "random" sample is the 32 md5-lowest rows (hash-rank sampling —
    reproducible in any engine, the same trick as q_sample_md5_topk), every
    consecutive pair proposes a line, and ONE broadcast pass over the
    full table counts inliers within ±5000 per candidate; the top-3
    consensus models are reported. Robust-fit complement to
    q_theil_sen_trend (median of slopes) and q_cooks_distance
    (influence): RANSAC tolerates arbitrarily-gross outliers as long as
    the consensus set is a majority.

    Determinism: the sample is a total md5 order; candidate ids are
    integer ranks; inlier counts are exact integers against a fixed
    tolerance.

    Scale: candidates (≤16 rows) broadcast to a single full-table pass —
    the scoring is one conditional aggregation per candidate (constant
    fan-out), never per-candidate scans. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    pts = li.select(
        F.col("l_quantity").cast("double").alias("x"),
        F.col("l_extendedprice").cast("double").alias("y"),
        F.md5(
            F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))
        ).alias("h"),
    )
    # (h, x, y) total order: md5 keys can tie on duplicate rows, and a
    # tie inside the LIMIT boundary would desync the two engines' samples
    sample = (
        pts.orderBy("h", "x", "y")
        .limit(_RANSAC_SAMPLE)
        .select(
            "x",
            "y",
            F.row_number()
            .over(Window.orderBy("h", "x", "y"))
            .cast("bigint")
            .alias("rn"),
        )
        .localCheckpoint(eager=True)
    )
    a = sample.select(
        F.col("rn").alias("arn"), F.col("x").alias("ax"), F.col("y").alias("ay")
    )
    bb = sample.select(
        F.col("rn").alias("brn"), F.col("x").alias("bx"), F.col("y").alias("by")
    )
    slope = (F.col("by") - F.col("ay")) / (F.col("bx") - F.col("ax"))
    cand = (
        a.join(
            bb,
            (F.col("brn") == F.col("arn") + 1)
            & (F.col("arn") % 2 == 1)
            & (F.col("bx") != F.col("ax")),
        )
        .select(
            F.floor(F.col("arn") / 2).alias("cid"),
            slope.alias("slope"),
            (F.col("ay") - slope * F.col("ax")).alias("intercept"),
        )
        .localCheckpoint(eager=True)
    )
    scored = (
        pts.crossJoin(F.broadcast(cand))
        .groupBy("cid", "slope", "intercept")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        F.col("y") - (F.col("intercept") + F.col("slope") * F.col("x"))
                    )
                    <= _RANSAC_TOL,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("inliers"),
            bcount("n"),
        )
    )
    return (
        scored.select(
            F.col("cid").alias("candidate_id"),
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
            "inliers",
            "n",
            F.round(F.col("inliers").cast("double") / F.col("n"), 6).alias(
                "inlier_share"
            ),
        )
        .orderBy(F.desc("inliers"), F.asc("candidate_id"))
        .limit(3)
    )
