"""Analytics batch 70: rank-biased overlap between two brand rankings,
stratified (standardized) treatment-effect adjustment, and the
Davies–Bouldin cluster-quality index over the labeled embeddings.

RBO is the top-weighted list-comparison metric (two rankings can share
every item yet order the head differently — Kendall/Spearman over-weight
the tail); stratification is the simplest confounder adjustment
(direct standardization); Davies–Bouldin complements
q_silhouette_by_label with a centroid-scatter-based index.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .registry import load, register

_RBO_P = 0.9
_RBO_K = 10
# (1-p)/p * p^d weights, d = 1..K, precomputed as shared literals
_RBO_W = {d: (1 - _RBO_P) / _RBO_P * _RBO_P**d for d in range(1, _RBO_K + 1)}


@register(
    "q_rbo_rank_overlap",
    oracle=f"""
    WITH by_rev AS (
      SELECT p.p_brand AS b,
             ROW_NUMBER() OVER (
               ORDER BY SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) DESC,
                        p.p_brand) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ),
    by_cnt AS (
      SELECT p.p_brand AS b,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, p.p_brand) AS r
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY p.p_brand
    ),
    depths AS (SELECT UNNEST(range(1, {_RBO_K} + 1)) AS d),
    ovl AS (
      SELECT d.d,
             CAST((SELECT COUNT(*) FROM by_rev a JOIN by_cnt c ON c.b = a.b
                   WHERE a.r <= d.d AND c.r <= d.d) AS BIGINT) AS ov
      FROM depths d
    )
    SELECT CAST({_RBO_K} AS BIGINT) AS k_depth,
           CAST(MAX(CASE WHEN d = {_RBO_K} THEN ov END) AS BIGINT)
             AS overlap_at_k,
           round(SUM((CASE d {" ".join(f"WHEN {d} THEN CAST({_RBO_W[d]!r} AS DOUBLE)" for d in range(1, _RBO_K + 1))} END)
                     * ov / d), 6) AS rbo_score
    FROM ovl
    """,
)
def q_rbo_rank_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (p=0.9, depth 10) between two brand rankings —
    by revenue vs by line count: RBO = Σ_d w_d·|A₁..d ∩ B₁..d|/d with
    geometrically decaying depth weights — the top-weighted agreement
    measure for comparing ranking systems (search engines, leaderboards,
    "did the metric change reorder the top?"), where q_kendall_tau /
    q_spearman_rank_corr weight all positions equally.

    Determinism: both rankings tiebreak on brand; prefix overlaps are
    exact integers; the ≤10 depth weights are precomputed shared double
    literals, so the weighted sum is a fixed 10-term expression.

    Scale: two rankings from one joined rollup (≤|brands| rows); the
    depth spine is a 10-row broadcast; prefix overlap is a bounded
    non-equi count. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    base = li.join(part, li.l_partkey == part.p_partkey)
    agg = base.groupBy(F.col("p_brand").alias("b")).agg(
        F.sum(dec("l_extendedprice")).alias("rev"), bcount("cnt")
    )
    by_rev = agg.select(
        "b",
        F.row_number().over(Window.orderBy(F.col("rev").desc(), "b")).alias("r_rev"),
    )
    by_cnt = agg.select(
        "b",
        F.row_number().over(Window.orderBy(F.col("cnt").desc(), "b")).alias("r_cnt"),
    )
    both = by_rev.join(F.broadcast(by_cnt), "b")
    depths = spark.range(1, _RBO_K + 1).select(F.col("id").cast("int").alias("d"))
    overlaps = (
        depths.join(
            F.broadcast(both),
            (F.col("r_rev") <= F.col("d")) & (F.col("r_cnt") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(F.count("b").cast("bigint").alias("ov"))
    )
    w = F.lit(0.0)
    for d in range(1, _RBO_K + 1):
        w = F.when(F.col("d") == d, F.lit(_RBO_W[d])).otherwise(w)
    return overlaps.agg(
        F.lit(_RBO_K).cast("bigint").alias("k_depth"),
        F.max(F.when(F.col("d") == _RBO_K, F.col("ov")))
        .cast("bigint")
        .alias("overlap_at_k"),
        F.round(F.sum(w * F.col("ov") / F.col("d")), 6).alias("rbo_score"),
    )


@register(
    "q_stratified_adjustment",
    oracle=f"""
    WITH activity AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted,
             CASE WHEN {sql_hexval("substr(md5('sa1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm
      FROM events GROUP BY 1
    ),
    strat AS (
      SELECT arm, converted,
             CASE WHEN n_events <= 2 THEN 'low'
                  WHEN n_events <= 5 THEN 'mid' ELSE 'high' END AS s
      FROM activity
    ),
    cells AS (
      SELECT s, arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS conv
      FROM strat GROUP BY 1, 2
    ),
    sw AS (
      SELECT s, CAST(SUM(n) AS BIGINT) AS n_s FROM cells GROUP BY s
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n FROM cells),
    crude AS (
      SELECT CAST(SUM(CASE WHEN arm = 'B' THEN conv END) AS DOUBLE)
             / SUM(CASE WHEN arm = 'B' THEN n END)
             - CAST(SUM(CASE WHEN arm = 'A' THEN conv END) AS DOUBLE)
               / SUM(CASE WHEN arm = 'A' THEN n END) AS crude_diff
      FROM cells
    ),
    within AS (
      SELECT c.s, sw.n_s, tot.n,
             CAST(MAX(CASE WHEN arm = 'B' THEN conv END) AS DOUBLE)
             / MAX(CASE WHEN arm = 'B' THEN c.n END)
             - CAST(MAX(CASE WHEN arm = 'A' THEN conv END) AS DOUBLE)
               / MAX(CASE WHEN arm = 'A' THEN c.n END) AS diff_s
      FROM cells c JOIN sw USING (s) CROSS JOIN tot
      GROUP BY c.s, sw.n_s, tot.n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           round((SELECT crude_diff FROM crude), 6) AS crude_diff,
           round(SUM(CAST(CAST(n_s AS DOUBLE) / n * diff_s
                     AS DECIMAL(28,15)))::DOUBLE, 6) AS adjusted_diff
    FROM within
    """,
)
def q_stratified_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct standardization of the A/B conversion effect over activity
    strata (low/mid/high event counts): the crude B−A rate difference vs
    the stratum-weighted average of within-stratum differences — the
    minimal confounder adjustment (activity level influences both arm
    exposure time and conversion), i.e. the deliberate *fix* for the
    aggregation bias q_simpsons_paradox detects.

    Determinism: strata, counts, conversions are exact integers; each
    stratum's weighted difference is DECIMAL-cast before the cross-
    stratum sum (3 strata).

    Scale: one user rollup → 6-cell grid; everything downstream is on
    the grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("sa1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    # arm projected after the aggregate — pure function of the group key
    # (r6: string agg buffers force SortAggregate over all of events)
    activity = ev.groupBy("user_id").agg(
        bcount("n_events"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
    ).withColumn("arm", arm)
    strat = activity.select(
        "arm",
        "converted",
        F.when(F.col("n_events") <= 2, "low")
        .when(F.col("n_events") <= 5, "mid")
        .otherwise("high")
        .alias("s"),
    )
    cells = strat.groupBy("s", "arm").agg(
        bcount("n"), F.sum("converted").cast("bigint").alias("conv")
    )
    # checkpointed once (r6): stratum sizes, the total, the crude diff,
    # and the within-stratum rates each re-derived the 6-cell grid from
    # the fact (4 events scans in the plan); it materializes once
    cells = cells.localCheckpoint(eager=True)
    sw = cells.groupBy("s").agg(F.sum("n").cast("bigint").alias("n_s"))
    tot = cells.agg(F.sum("n").cast("bigint").alias("n_tot"))
    rate = lambda a, c: (
        F.max(F.when(F.col("arm") == a, F.col(c))).cast("double")
        / F.max(F.when(F.col("arm") == a, F.col("n")))
    )
    crude = cells.agg(
        (
            F.sum(F.when(F.col("arm") == "B", F.col("conv"))).cast("double")
            / F.sum(F.when(F.col("arm") == "B", F.col("n")))
            - F.sum(F.when(F.col("arm") == "A", F.col("conv"))).cast("double")
            / F.sum(F.when(F.col("arm") == "A", F.col("n")))
        ).alias("crude_diff")
    )
    within = (
        cells.join(F.broadcast(sw), "s")
        .crossJoin(F.broadcast(tot))
        .groupBy("s", "n_s", "n_tot")
        .agg((rate("B", "conv") - rate("A", "conv")).alias("diff_s"))
    )
    return (
        within.agg(
            bcount("n_strata"),
            F.round(
                F.sum(
                    (F.col("n_s").cast("double") / F.col("n_tot") * F.col("diff_s")).cast(
                        "decimal(28,15)"
                    )
                ).cast("double"),
                6,
            ).alias("adjusted_diff"),
        )
        .crossJoin(F.broadcast(crude))
        .select(
            "n_strata",
            F.round("crude_diff", 6).alias("crude_diff"),
            "adjusted_diff",
        )
    )


@register(
    "q_davies_bouldin",
    oracle="""
    WITH flat AS (
      SELECT e.vec_id, e.label, d.i, CAST(e.embedding[d.i] AS DOUBLE) AS x
      FROM embeddings e, (SELECT UNNEST(range(1, 65)) AS i) d
    ),
    cent AS (
      SELECT label, i,
             CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
      FROM flat GROUP BY label, i
    ),
    dist2 AS (
      SELECT f.vec_id, f.label,
             CAST(SUM(CAST((f.x - c.c) * (f.x - c.c) AS DECIMAL(28,12)))
                  AS DOUBLE) AS d2
      FROM flat f JOIN cent c ON c.label = f.label AND c.i = f.i
      GROUP BY f.vec_id, f.label
    ),
    scatter AS (
      SELECT label,
             CAST(SUM(CAST(sqrt(d2) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS s
      FROM dist2 GROUP BY label
    ),
    cdist AS (
      SELECT a.label AS li, b.label AS lj,
             sqrt(CAST(SUM(CAST((a.c - b.c) * (a.c - b.c)
                      AS DECIMAL(28,12))) AS DOUBLE)) AS dc
      FROM cent a JOIN cent b ON b.i = a.i AND b.label <> a.label
      GROUP BY 1, 2
    ),
    ratios AS (
      SELECT cd.li, MAX((si.s + sj.s) / cd.dc) AS r
      FROM cdist cd
      JOIN scatter si ON si.label = cd.li
      JOIN scatter sj ON sj.label = cd.lj
      GROUP BY cd.li
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           round(CAST(SUM(CAST(r AS DECIMAL(28,12))) AS DOUBLE)
                 / COUNT(*), 6) AS davies_bouldin,
           round(MAX(r), 6) AS worst_pair_ratio
    FROM ratios
    """,
)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin index of the labeled embedding clustering:
    DB = mean over clusters of max_j (sᵢ+sⱼ)/d(cᵢ,cⱼ) with sᵢ the mean
    distance to the centroid — lower is tighter/better-separated; the
    centroid-scatter complement to q_silhouette_by_label (point-level)
    and q_label_centroids (the centroids themselves).

    Determinism: centroids are exact-decimal-sum means; every distance
    sum is per-term DECIMAL(28,12); per-cluster scatters decimal-cast
    before averaging; the max over ≤|labels| ratios is an exact
    comparison.

    Scale: one posexplode pass → (label,dim) centroid grid; per-point
    distances are an equi-join on (label,dim) with map-side combine; the
    pairwise stage is on the 10×10 centroid grid only. §2.B similarity
    surface [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    flat = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "xv")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("i"),
        F.col("xv").cast("double").alias("x"),
    )
    cent = flat.groupBy("label", "i").agg(
        (
            F.sum(F.col("x").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("c")
    )
    # checkpointed once (r6): the distance join and both centroid-pair
    # sides each re-derived the posexplode pass (6 embeddings scans in
    # the plan); the ≤|labels|×dims centroid grid materializes once,
    # leaving centroid pass + distance pass as the only fact scans
    cent = cent.localCheckpoint(eager=True)
    dist2 = (
        flat.join(F.broadcast(cent), ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))).cast("decimal(28,12)"))
            .cast("double")
            .alias("d2")
        )
    )
    scatter = dist2.groupBy("label").agg(
        (
            F.sum(F.sqrt("d2").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("s")
    )
    # si/sj reference the ≤|labels|-row scatter table twice
    scatter = scatter.localCheckpoint(eager=True)
    ca, cb = cent.alias("ca"), cent.alias("cb")
    cdist = (
        ca.join(
            F.broadcast(cb),
            (F.col("cb.i") == F.col("ca.i"))
            & (F.col("cb.label") != F.col("ca.label")),
        )
        .groupBy(F.col("ca.label").alias("li"), F.col("cb.label").alias("lj"))
        .agg(
            F.sqrt(
                F.sum(
                    (
                        (F.col("ca.c") - F.col("cb.c"))
                        * (F.col("ca.c") - F.col("cb.c"))
                    ).cast("decimal(28,12)")
                ).cast("double")
            ).alias("dc")
        )
    )
    si = scatter.select(F.col("label").alias("li"), F.col("s").alias("s_i"))
    sj = scatter.select(F.col("label").alias("lj"), F.col("s").alias("s_j"))
    ratios = (
        cdist.join(F.broadcast(si), "li")
        .join(F.broadcast(sj), "lj")
        .groupBy("li")
        .agg(F.max((F.col("s_i") + F.col("s_j")) / F.col("dc")).alias("r"))
    )
    return ratios.agg(
        bcount("n_clusters"),
        F.round(
            F.sum(F.col("r").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("davies_bouldin"),
        F.round(F.max("r"), 6).alias("worst_pair_ratio"),
    )
