"""Analytics batch 83: the forecast-accuracy metric bundle (MAE / RMSE /
MAPE / MASE for the drift forecaster against the naive baseline), a
Kolmogorov–Smirnov test of inter-order gaps against their fitted
exponential, and Newman modularity of the region partition on the trade
graph.

MASE is the scale-free forecast metric (error relative to the naive
one-step error) that makes accuracy comparable across series; modularity
asks whether the geographic communities actually structure trade.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges


@register(
    "q_forecast_accuracy",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    lagd AS (
      SELECT d, rev,
             LAG(rev, 1) OVER (ORDER BY d) AS prev1,
             LAG(rev, 2) OVER (ORDER BY d) AS prev2
      FROM daily
    ),
    scored AS (
      SELECT rev,
             prev1 AS naive_pred,
             prev1 + (prev1 - prev2) AS drift_pred
      FROM lagd WHERE prev2 IS NOT NULL
    ),
    errs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(abs(rev - drift_pred) AS DECIMAL(18,6)))
                  AS DOUBLE) AS sae_drift,
             CAST(SUM(CAST(abs(rev - naive_pred) AS DECIMAL(18,6)))
                  AS DOUBLE) AS sae_naive,
             CAST(SUM(CAST((rev - drift_pred) * (rev - drift_pred)
                      AS DECIMAL(28,6))) AS DOUBLE) AS sse_drift,
             CAST(SUM(CAST(abs(rev - drift_pred) / rev
                      AS DECIMAL(18,12))) AS DOUBLE) AS sape_drift
      FROM scored
    )
    SELECT n AS n_forecasts,
           round(sae_drift / n, 2) AS mae_drift,
           round(sqrt(sse_drift / n), 2) AS rmse_drift,
           round(sape_drift / n * 100, 4) AS mape_pct_drift,
           round(sae_drift / sae_naive, 6) AS mase_vs_naive,
           CASE WHEN sae_drift / sae_naive < 1.0
                THEN 'beats_naive' ELSE 'worse_than_naive' END AS verdict
    FROM errs
    """,
)
def q_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast accuracy bundle for the drift forecaster (ŷₜ = yₜ₋₁ +
    (yₜ₋₁−yₜ₋₂)) on daily revenue: MAE, RMSE, MAPE, and MASE (MAE
    relative to the naive yₜ₋₁ baseline, the scale-free score that makes
    accuracy comparable across series) — the standard evaluation sheet
    every forecaster in the engine (q_holt_linear, q_forecast_revenue,
    q_seasonal_naive_backtest) should be read against; the verdict says
    whether drift even beats persistence.

    Determinism: predictions are lag algebra on exact-sum daily values;
    each |error| / squared error / percentage term is DECIMAL-cast per
    day before summation.

    Scale: one lag window over the calendar-bounded grid, 1-row metrics.
    §2.B [NS].
    """
    daily = daily_order_revenue(spark, sf_dir)
    w = Window.orderBy("d")
    lagd = daily.select(
        "rev",
        F.lag("rev", 1).over(w).alias("prev1"),
        F.lag("rev", 2).over(w).alias("prev2"),
    ).filter(F.col("prev2").isNotNull())
    scored = lagd.select(
        "rev",
        F.col("prev1").alias("naive_pred"),
        (F.col("prev1") + (F.col("prev1") - F.col("prev2"))).alias("drift_pred"),
    )
    errs = scored.agg(
        bcount("n"),
        F.sum(F.abs(F.col("rev") - F.col("drift_pred")).cast("decimal(18,6)"))
        .cast("double")
        .alias("sae_drift"),
        F.sum(F.abs(F.col("rev") - F.col("naive_pred")).cast("decimal(18,6)"))
        .cast("double")
        .alias("sae_naive"),
        F.sum(
            (
                (F.col("rev") - F.col("drift_pred"))
                * (F.col("rev") - F.col("drift_pred"))
            ).cast("decimal(28,6)")
        )
        .cast("double")
        .alias("sse_drift"),
        F.sum(
            (F.abs(F.col("rev") - F.col("drift_pred")) / F.col("rev")).cast(
                "decimal(18,12)"
            )
        )
        .cast("double")
        .alias("sape_drift"),
    )
    mase = F.col("sae_drift") / F.col("sae_naive")
    return errs.select(
        F.col("n").alias("n_forecasts"),
        F.round(F.col("sae_drift") / F.col("n"), 2).alias("mae_drift"),
        F.round(F.sqrt(F.col("sse_drift") / F.col("n")), 2).alias("rmse_drift"),
        F.round(F.col("sape_drift") / F.col("n") * 100, 4).alias(
            "mape_pct_drift"
        ),
        F.round(mase, 6).alias("mase_vs_naive"),
        F.when(mase < 1.0, "beats_naive")
        .otherwise("worse_than_naive")
        .alias("verdict"),
    )


@register(
    "q_interarrival_exponential_ks",
    oracle="""
    WITH gaps AS (
      SELECT CAST(date_diff('second', LAG(ts) OVER (ORDER BY ts, event_id),
                            ts) AS BIGINT) AS g
      FROM events
    ),
    pos AS (SELECT g FROM gaps WHERE g IS NOT NULL AND g > 0),
    lam AS (
      SELECT CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(g) AS DOUBLE) AS lambda_hat,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pos
    ),
    ranked AS (
      SELECT CAST(g AS DOUBLE) AS g,
             CAST(ROW_NUMBER() OVER (ORDER BY g) AS BIGINT) AS i,
             l.n, l.lambda_hat
      FROM pos, lam l
    ),
    devs AS (
      SELECT MAX(n) AS n, MAX(lambda_hat) AS lambda_hat,
             MAX(GREATEST(
               CAST(i AS DOUBLE) / n - (1.0 - exp(-lambda_hat * g)),
               (1.0 - exp(-lambda_hat * g)) - CAST(i - 1 AS DOUBLE) / n))
               AS d_stat
      FROM ranked
    )
    SELECT n AS n_gaps,
           round(1.0 / lambda_hat, 2) AS mean_gap_seconds,
           round(d_stat, 6) AS ks_d,
           round(d_stat * sqrt(CAST(n AS DOUBLE)), 6) AS ks_scaled,
           CASE WHEN d_stat * sqrt(CAST(n AS DOUBLE)) > 1.358
                THEN 'not_exponential' ELSE 'exponential_like' END AS verdict
    FROM devs
    """,
)
def q_interarrival_exponential_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov test of global event inter-arrival gaps against
    their fitted exponential (λ̂ = 1/mean): D = sup|EDF − (1−e^{−λ̂g})| —
    the Poisson-process check that decides whether rate-based capacity
    math (q_littles_law, q_throttle_backlog) can assume memoryless
    arrivals or must model burstiness (q_events_burst_detection's
    complementary view); the parametric sibling of q_ks_hash_uniformity.

    Determinism: gaps are integer seconds; ranks are exact; the only
    transcendental is exp on identical doubles inside a MAX whose margin
    dwarfs ulp noise, with the output rounded at 1e-6.

    Scale: one ordered lag pass + one sort; 1-row result. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    gaps = ev.select(
        (
            F.unix_timestamp("ts")
            - F.unix_timestamp(F.lag("ts").over(Window.orderBy("ts", "event_id")))
        )
        .cast("bigint")
        .alias("g")
    ).filter(F.col("g").isNotNull() & (F.col("g") > 0)).localCheckpoint(
        eager=True
    )
    # ^ checkpointed once (r6): the rate fit and the KS ranking both
    # re-derived the gap stream (2 events scans AND 2 global lag sorts
    # in the plan); the narrow 1-column stream materializes once
    # (posting-list class: state linear in the corpus)
    lam = gaps.agg(
        (F.count(F.lit(1)).cast("double") / F.sum("g").cast("double")).alias(
            "lambda_hat"
        ),
        bcount("n"),
    )
    ranked = gaps.crossJoin(F.broadcast(lam)).select(
        F.col("g").cast("double").alias("g"),
        F.row_number().over(Window.orderBy("g")).cast("bigint").alias("i"),
        "n",
        "lambda_hat",
    )
    cdf = 1.0 - F.exp(-F.col("lambda_hat") * F.col("g"))
    devs = ranked.agg(
        F.max("n").alias("n"),
        F.max("lambda_hat").alias("lambda_hat"),
        F.max(
            F.greatest(
                F.col("i").cast("double") / F.col("n") - cdf,
                cdf - (F.col("i") - 1).cast("double") / F.col("n"),
            )
        ).alias("d_stat"),
    )
    scaled = F.col("d_stat") * F.sqrt(F.col("n").cast("double"))
    return devs.select(
        F.col("n").alias("n_gaps"),
        F.round(1.0 / F.col("lambda_hat"), 2).alias("mean_gap_seconds"),
        F.round("d_stat", 6).alias("ks_d"),
        F.round(scaled, 6).alias("ks_scaled"),
        F.when(scaled > 1.358, "not_exponential")
        .otherwise("exponential_like")
        .alias("verdict"),
    )


@register(
    "q_trade_modularity",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    comm AS (
      SELECT n_nationkey AS node, CAST(n_regionkey AS BIGINT) AS c
      FROM nation
    ),
    labeled AS (
      SELECT e.w, cs.c AS c_src, cd.c AS c_dst
      FROM edges e
      JOIN comm cs ON cs.node = e.src
      JOIN comm cd ON cd.node = e.dst
    ),
    m AS (SELECT CAST(SUM(w) AS BIGINT) AS m FROM labeled),
    per_c AS (
      SELECT c,
             CAST(SUM(CASE WHEN src_side THEN w ELSE 0 END) AS BIGINT)
               AS out_w,
             CAST(SUM(CASE WHEN NOT src_side THEN w ELSE 0 END) AS BIGINT)
               AS in_w,
             CAST(SUM(CASE WHEN src_side AND same THEN w ELSE 0 END)
                  AS BIGINT) AS intra_w
      FROM (
        SELECT c_src AS c, w, TRUE AS src_side, c_src = c_dst AS same
        FROM labeled
        UNION ALL
        SELECT c_dst, w, FALSE, c_src = c_dst FROM labeled
      ) u GROUP BY c
    ),
    q AS (
      SELECT CAST(SUM(CAST(
               CAST(intra_w AS DOUBLE) / mm.m
               - (CAST(out_w AS DOUBLE) / mm.m)
                 * (CAST(in_w AS DOUBLE) / mm.m)
             AS DECIMAL(28,15))) AS DOUBLE) AS modularity,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM per_c, m mm GROUP BY mm.m
    )
    SELECT k AS n_communities,
           round(modularity, 6) AS modularity_q,
           CASE WHEN modularity > 0.3 THEN 'strong_community_structure'
                WHEN modularity > 0.0 THEN 'weak' ELSE 'none' END AS verdict
    FROM q
    """,
)
def q_trade_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity of the geographic partition on the directed
    trade graph: Q = Σ_c [e_cc/m − (out_c/m)(in_c/m)] with communities =
    regions — does geography actually structure trade flows beyond what
    degree alone predicts? The community-*evaluation* metric completing
    the graph family (q_label_propagation finds communities; modularity
    scores a given partition; q_harmonic_centrality / q_pagerank_nations
    rank nodes).

    Determinism: all flow masses are exact integers; each community's
    modularity term is DECIMAL-cast before the cross-community sum.

    Scale: the labeled edge list is ≤|nations|² with a broadcast
    community map; per-community masses collapse map-side. §2.B [NS].
    """
    nation = load(spark, sf_dir, "nation")
    edges = nation_trade_edges(spark, sf_dir)
    comm = nation.select(
        F.col("n_nationkey").alias("node"), F.col("n_regionkey").cast("bigint").alias("c")
    )
    labeled = (
        edges.join(
            F.broadcast(comm.withColumnRenamed("node", "src").withColumnRenamed("c", "c_src")),
            "src",
        )
        .join(
            F.broadcast(comm.withColumnRenamed("node", "dst").withColumnRenamed("c", "c_dst")),
            "dst",
        )
        .select("w", "c_src", "c_dst")
    ).localCheckpoint(eager=True)
    m = labeled.agg(F.sum("w").cast("bigint").alias("m"))
    same = F.col("c_src") == F.col("c_dst")
    u = labeled.select(
        F.col("c_src").alias("c"),
        "w",
        F.lit(True).alias("src_side"),
        same.alias("same"),
    ).unionByName(
        labeled.select(
            F.col("c_dst").alias("c"),
            "w",
            F.lit(False).alias("src_side"),
            same.alias("same"),
        )
    )
    per_c = u.groupBy("c").agg(
        F.sum(F.when(F.col("src_side"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("out_w"),
        F.sum(F.when(~F.col("src_side"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("in_w"),
        F.sum(F.when(F.col("src_side") & F.col("same"), F.col("w")).otherwise(0))
        .cast("bigint")
        .alias("intra_w"),
    )
    term = (
        F.col("intra_w").cast("double") / F.col("m")
        - (F.col("out_w").cast("double") / F.col("m"))
        * (F.col("in_w").cast("double") / F.col("m"))
    ).cast("decimal(28,15)")
    q = per_c.crossJoin(F.broadcast(m)).groupBy("m").agg(
        F.sum(term).cast("double").alias("modularity"), bcount("k")
    )
    return q.select(
        F.col("k").alias("n_communities"),
        F.round("modularity", 6).alias("modularity_q"),
        F.when(F.col("modularity") > 0.3, "strong_community_structure")
        .when(F.col("modularity") > 0.0, "weak")
        .otherwise("none")
        .alias("verdict"),
    )
