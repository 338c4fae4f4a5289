"""Analytics batch 72: approximation accounting and model evaluation —
the error a fixed-width histogram quantile estimator pays against exact
order statistics, mutual-information feature ranking over the embedding
dimensions, and a calibration curve with expected calibration error for a
propensity proxy.

The histogram-quantile query is the accuracy bill of the only quantile
shape that scales embarrassingly (fixed buckets merge associatively — the
streaming/distributed-friendly estimator); MI ranking and ECE are the two
standard "is this feature/score any good" gates of an ML data pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register

_NBUCKETS = 50


@register(
    "q_histogram_quantile_error",
    oracle=f"""
    WITH cents AS (
      SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    bounds AS (
      SELECT CAST(MIN(v) AS BIGINT) AS lo, CAST(MAX(v) AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM cents
    ),
    bucketed AS (
      SELECT LEAST(CAST(FLOOR((v - b.lo) * {_NBUCKETS}.0 / (b.hi - b.lo + 1))
                        AS BIGINT), {_NBUCKETS} - 1) AS bk,
             b.lo, b.hi, b.n
      FROM cents, bounds b
    ),
    hist AS (
      SELECT bk, lo, hi, n, CAST(COUNT(*) AS BIGINT) AS c
      FROM bucketed GROUP BY bk, lo, hi, n
    ),
    cum AS (
      SELECT bk, lo, hi, n, c,
             CAST(SUM(c) OVER (ORDER BY bk ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_c
      FROM hist
    ),
    est AS (
      SELECT MIN(lo + CAST(CEIL((bk + 1) * (hi - lo + 1.0) / {_NBUCKETS})
                           AS BIGINT)) AS p95_est
      FROM cum WHERE cum_c >= CAST(CEIL(0.95 * n) AS BIGINT)
    ),
    exact AS (
      SELECT v AS p95_exact FROM (
        SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM cents) x
      WHERE rn = CAST(CEIL(0.95 * n) AS BIGINT)
    )
    SELECT CAST({_NBUCKETS} AS BIGINT) AS n_buckets,
           round(CAST(p95_exact AS DOUBLE) / 100, 2) AS p95_exact,
           round(CAST(p95_est AS DOUBLE) / 100, 2) AS p95_histogram,
           round(abs(CAST(p95_est AS DOUBLE) - p95_exact)
                 / p95_exact * 100, 4) AS rel_error_pct
    FROM est, exact
    """,
)
def q_histogram_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-quantile accuracy bill: estimate the p95 order price from
    a 50-bucket equi-width histogram (report the upper edge of the bucket
    where the cumulative count crosses 0.95·n) and compare to the exact
    rank-based p95 — fixed-bucket histograms are the only quantile
    estimator whose state merges associatively across a 1000-executor
    fleet / streaming micro-batches, and this query prices the accuracy
    traded for that mergeability (companion to q_percentiles: exact;
    q_equi_depth_deciles: exact by sort).

    Determinism: bucket indexes, cumulative counts, and both quantiles
    are exact integer arithmetic on cents.

    Scale: the histogram is one map-side-combined 50-cell aggregation
    (the exact side needs the global sort the histogram avoids — the
    comparison IS the point). §2.B sketches [NS].
    """
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("v")
    )
    # single scan (r6): bounds, the histogram and the exact p95 each
    # re-scanned orders; ONE scan now builds the per-distinct-value count
    # grid, checkpointed once (state linear in the distinct-price domain
    # — posting-list class). The exact rank-r value over the raw rows is
    # recovered losslessly from the grid: it is the smallest v whose
    # cumulative count reaches r.
    vc = cents.groupBy("v").agg(bcount("c")).localCheckpoint(eager=True)
    bounds = vc.agg(
        F.min("v").cast("bigint").alias("lo"),
        F.max("v").cast("bigint").alias("hi"),
        F.sum("c").cast("bigint").alias("n"),
    )
    bucketed = vc.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.floor(
                (F.col("v") - F.col("lo"))
                * _NBUCKETS
                / (F.col("hi") - F.col("lo") + 1)
            ).cast("bigint"),
            F.lit(_NBUCKETS - 1).cast("bigint"),
        ).alias("bk"),
        "lo",
        "hi",
        "n",
        "c",
    )
    hist = bucketed.groupBy("bk", "lo", "hi", "n").agg(
        F.sum("c").cast("bigint").alias("c")
    )
    cum = hist.select(
        "bk",
        "lo",
        "hi",
        "n",
        F.sum("c")
        .over(Window.orderBy("bk").rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("cum_c"),
    )
    est = cum.filter(
        F.col("cum_c") >= F.ceil(0.95 * F.col("n")).cast("bigint")
    ).agg(
        F.min(
            F.col("lo")
            + F.ceil(
                (F.col("bk") + 1) * (F.col("hi") - F.col("lo") + 1.0) / _NBUCKETS
            ).cast("bigint")
        ).alias("p95_est")
    )
    exact = (
        vc.select(
            "v",
            F.sum("c")
            .over(Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
            .cast("bigint")
            .alias("cum"),
            F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
        )
        .filter(F.col("cum") >= F.ceil(0.95 * F.col("n")).cast("bigint"))
        .agg(F.min("v").alias("p95_exact"))
    )
    s = est.crossJoin(F.broadcast(exact))
    return s.select(
        F.lit(_NBUCKETS).cast("bigint").alias("n_buckets"),
        F.round(F.col("p95_exact").cast("double") / 100, 2).alias("p95_exact"),
        F.round(F.col("p95_est").cast("double") / 100, 2).alias("p95_histogram"),
        F.round(
            F.abs(F.col("p95_est").cast("double") - F.col("p95_exact"))
            / F.col("p95_exact")
            * 100,
            4,
        ).alias("rel_error_pct"),
    )


_MI_DIMS = 8


@register(
    "q_mutual_information",
    oracle=f"""
    WITH flat AS (
      SELECT e.label, d.i,
             CASE WHEN CAST(e.embedding[d.i] AS DOUBLE) > 0 THEN 1 ELSE 0 END
               AS b
      FROM embeddings e, (SELECT UNNEST(range(1, {_MI_DIMS} + 1)) AS i) d
    ),
    joint AS (
      SELECT i, label, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM flat GROUP BY 1, 2, 3
    ),
    margins AS (
      SELECT i,
             CAST(SUM(c) AS BIGINT) AS n
      FROM joint GROUP BY i
    ),
    lab_m AS (
      SELECT i, label, CAST(SUM(c) AS BIGINT) AS cl
      FROM joint GROUP BY i, label
    ),
    bit_m AS (
      SELECT i, b, CAST(SUM(c) AS BIGINT) AS cb
      FROM joint GROUP BY i, b
    ),
    mi AS (
      SELECT j.i,
             CAST(SUM(CAST((CAST(j.c AS DOUBLE) / m.n)
                      * ln(CAST(j.c AS DOUBLE) * m.n
                           / (CAST(l.cl AS DOUBLE) * b.cb))
                      AS DECIMAL(28,15))) AS DOUBLE) AS mi_nats
      FROM joint j
      JOIN margins m USING (i)
      JOIN lab_m l ON l.i = j.i AND l.label = j.label
      JOIN bit_m b ON b.i = j.i AND b.b = j.b
      GROUP BY j.i
    )
    SELECT CAST(i AS BIGINT) AS dim, round(mi_nats, 6) AS mi_nats,
           round(mi_nats / ln(2.0), 6) AS mi_bits,
           ROW_NUMBER() OVER (ORDER BY round(mi_nats, 6) DESC, i)
             AS info_rank
    FROM mi
    """,
)
def q_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(label; sign(dimᵢ)) for the first 8 embedding
    dimensions, ranked — the filter-method feature selection gate (which
    dimensions carry label information at all), computed from the exact
    joint/marginal count tables; the information-theoretic sibling of
    q_zscore_features / q_covariance_matrix which only see second
    moments.

    Determinism: all probabilities are integer-count ratios; each
    p·ln(p/(pq)) term is DECIMAL(28,15)-cast per cell before summation;
    the rank orders the 6-dp rounded MI with a dim tiebreak.

    Scale: one posexplode over the dims-of-interest spine → a
    (dims×labels×2)-cell joint table, all map-side combined. §2.B ML-ops
    surface [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    dims = spark.range(1, _MI_DIMS + 1).select(F.col("id").cast("int").alias("i"))
    flat = (
        emb.select("label", F.posexplode("embedding").alias("pos", "xv"))
        .select(
            "label",
            (F.col("pos") + 1).alias("i"),
            F.when(F.col("xv").cast("double") > 0, 1).otherwise(0).alias("b"),
        )
        .join(F.broadcast(dims), "i")
    )
    joint = flat.groupBy("i", "label", "b").agg(bcount("c"))
    # checkpointed once (r6): the three marginals and the MI pass each
    # re-derived the joint grid from the fact (4 embeddings scans in the
    # plan); the ≤dims×|labels|×2 grid materializes once
    joint = joint.localCheckpoint(eager=True)
    margins = joint.groupBy("i").agg(F.sum("c").cast("bigint").alias("n"))
    lab_m = joint.groupBy("i", "label").agg(F.sum("c").cast("bigint").alias("cl"))
    bit_m = joint.groupBy("i", "b").agg(F.sum("c").cast("bigint").alias("cb"))
    term = (
        (F.col("c").cast("double") / F.col("n"))
        * F.log(
            F.col("c").cast("double")
            * F.col("n")
            / (F.col("cl").cast("double") * F.col("cb"))
        )
    ).cast("decimal(28,15)")
    mi = (
        joint.join(F.broadcast(margins), "i")
        .join(F.broadcast(lab_m), ["i", "label"])
        .join(F.broadcast(bit_m), ["i", "b"])
        .groupBy("i")
        .agg(F.sum(term).cast("double").alias("mi_nats"))
    )
    return mi.select(
        F.col("i").cast("bigint").alias("dim"),
        F.round("mi_nats", 6).alias("mi_nats"),
        F.round(F.col("mi_nats") / F.log(F.lit(2.0)), 6).alias("mi_bits"),
        F.row_number()
        .over(Window.orderBy(F.round("mi_nats", 6).desc(), "i"))
        .alias("info_rank"),
    )


@register(
    "q_calibration_ece",
    oracle="""
    WITH users AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events GROUP BY 1
    ),
    mx AS (SELECT CAST(MAX(n_events) AS BIGINT) AS m FROM users),
    scored AS (
      SELECT y, CAST(n_events AS DOUBLE) / mx.m AS score,
             NTILE(5) OVER (ORDER BY n_events, user_id) AS bin
      FROM users, mx
    ),
    bins AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(CAST(score AS DECIMAL(18,12))) AS DOUBLE) / COUNT(*)
               AS mean_score
      FROM scored GROUP BY bin
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM bins)
    SELECT CAST(bin AS BIGINT) AS bin, n,
           round(mean_score, 6) AS mean_score,
           round(CAST(pos AS DOUBLE) / n, 6) AS obs_rate,
           round(abs(CAST(pos AS DOUBLE) / n - mean_score), 6) AS gap,
           round((SELECT CAST(SUM(CAST(CAST(b2.n AS DOUBLE) / t.n_tot
                          * abs(CAST(b2.pos AS DOUBLE) / b2.n - b2.mean_score)
                          AS DECIMAL(28,15))) AS DOUBLE)
                  FROM bins b2, tot t), 6) AS ece
    FROM bins
    """,
)
def q_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve + expected calibration error for the activity
    propensity proxy (score = event count normalized by the max,
    predicting purchase): 5 equal-population bins, each with mean score
    vs observed conversion rate, plus the population-weighted ECE — the
    reliability diagram every score must pass before its absolute values
    (not just its ranking, which q_decile_lift grades) can be trusted.

    Determinism: bins are NTILE over (count, user_id) — fully tiebroken;
    scores are exact ratios decimal-cast before the bin mean; ECE terms
    are decimal-cast before the cross-bin sum.

    Scale: one user rollup, one 5-bin grid; the NTILE sort is the only
    ordered stage. §2.B ML-ops surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        bcount("n_events"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("y"),
    )
    # checkpointed once (r6): the max probe and the scored pass each
    # re-derived the user rollup, and tot/ece/final re-derived the bin
    # grid (6 events scans in the plan); the per-user grid and the 5-row
    # bin grid materialize once — events is scanned exactly once
    users = users.localCheckpoint(eager=True)
    mx = users.agg(F.max("n_events").cast("bigint").alias("m"))
    scored = users.crossJoin(F.broadcast(mx)).select(
        "y",
        (F.col("n_events").cast("double") / F.col("m")).alias("score"),
        F.ntile(5).over(Window.orderBy("n_events", "user_id")).alias("bin"),
    )
    bins = scored.groupBy("bin").agg(
        bcount("n"),
        F.sum("y").cast("bigint").alias("pos"),
        (
            F.sum(F.col("score").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mean_score"),
    )
    bins = bins.localCheckpoint(eager=True)
    tot = bins.agg(F.sum("n").cast("bigint").alias("n_tot"))
    ece = (
        bins.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (
                    F.col("n").cast("double")
                    / F.col("n_tot")
                    * F.abs(F.col("pos").cast("double") / F.col("n") - F.col("mean_score"))
                ).cast("decimal(28,15)")
            )
            .cast("double")
            .alias("ece_v")
        )
    )
    return bins.crossJoin(F.broadcast(ece)).select(
        F.col("bin").cast("bigint").alias("bin"),
        "n",
        F.round("mean_score", 6).alias("mean_score"),
        F.round(F.col("pos").cast("double") / F.col("n"), 6).alias("obs_rate"),
        F.round(
            F.abs(F.col("pos").cast("double") / F.col("n") - F.col("mean_score")), 6
        ).alias("gap"),
        F.round("ece_v", 6).alias("ece"),
    )
