"""Analytics batch 42: iterative linear algebra (PCA first principal
component via power iteration on the embedding covariance matrix), paired
nonparametric tests (Wilcoxon signed-rank, McNemar), partial correlation,
and the dedup cluster-size distribution report.

PCA follows the q_pagerank_nations iterative recipe — a fixed number of
driver-loop matvec steps mirrored by chained CTEs, every reduction routed
through DECIMAL, divisions/sqrt in fixed-shape double — extended from
vectors over nodes to vectors over embedding dimensions. Wilcoxon reuses
the distinct-value midrank machinery of q_kruskal_wallis on *exact DECIMAL*
paired differences, so ranks are unambiguous.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register, spread

# --- PCA: shared covariance CTEs -------------------------------------------

_SQL_PCA_BASE = """
    WITH u AS (
      SELECT vec_id,
             generate_subscripts(embedding, 1) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ),
    mean_ AS (
      SELECT dim, CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM u GROUP BY 1
    ),
    mom AS (
      SELECT a.dim AS i, b.dim AS j,
             CAST(SUM(CAST(a.x * b.x AS DECIMAL(24,12))) AS DOUBLE) AS sxy
      FROM u a JOIN u b ON b.vec_id = a.vec_id
      GROUP BY 1, 2
    ),
    cov AS (
      SELECT m.i, m.j,
             (m.sxy - ma.sx * mb.sx / ma.n) / (ma.n - 1) AS c
      FROM mom m
      JOIN mean_ ma ON ma.dim = m.i
      JOIN mean_ mb ON mb.dim = m.j
    ),
    v0 AS (SELECT dim, 1.0 AS v FROM mean_)
"""

_SQL_PCA_STEP = """
    w{k} AS (
      SELECT cov.i AS dim,
             CAST(SUM(CAST(cov.c * {prev}.v AS DECIMAL(28,12))) AS DOUBLE) AS wv
      FROM cov JOIN {prev} ON {prev}.dim = cov.j
      GROUP BY 1
    ),
    n{k} AS (
      SELECT sqrt(CAST(SUM(CAST(wv * wv AS DECIMAL(38,12))) AS DOUBLE)) AS nrm
      FROM w{k}
    ),
    v{k} AS (SELECT dim, wv / nrm AS v FROM w{k}, n{k})
"""


@register(
    "q_pca_power_iteration",
    oracle=_SQL_PCA_BASE
    + ","
    + ",".join(
        _SQL_PCA_STEP.format(k=k, prev=f"v{k-1}") for k in (1, 2, 3)
    )
    + """
    SELECT CAST(v3.dim AS BIGINT) AS dim,
           round(v3.v, 6) AS pc1_loading,
           round(n3.nrm, 4) AS eigenvalue_est
    FROM v3, n3
    """,
)
def q_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First principal component of the embedding corpus by power iteration
    (3 matvec steps on the 64×64 sample covariance matrix, normalizing each
    step) — the whitening/PCA building block of a feature pipeline, with the
    dominant eigenvalue estimated by the final pre-normalization norm.

    The iterative-linear-algebra showcase: the covariance build is one
    exploded self-join with DECIMAL moment sums; each iteration's
    matrix-vector reduction routes per-term products through DECIMAL(28,12)
    (so distributed partial-agg order can't move any component), and the
    normalization is fixed-shape double sqrt/division — the q_pagerank
    determinism recipe applied to eigenvector computation. Start vector
    all-ones ⇒ a deterministic sign orientation.

    Scale: the O(n·d²) covariance build is the only data-sized stage and is
    map-side combinable after the vec_id-local self-join (rows explode to
    d²=4096 per vector — at 100 TB you'd block by dimension ranges);
    iterations run on the d×d grid, broadcast everywhere. §2.B [NS].
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    u = emb.select(
        "vec_id",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    ).select("vec_id", (F.col("pos") + 1).alias("dim"), "x")
    mean_ = u.groupBy("dim").agg(
        F.sum(F.col("x").cast("decimal(18,9)")).cast("double").alias("sx"),
        bcount("n"),
    )
    a = u.select("vec_id", F.col("dim").alias("i"), F.col("x").alias("xa"))
    b = u.select("vec_id", F.col("dim").alias("j"), F.col("x").alias("xb"))
    mom = (
        a.join(b, "vec_id")
        .groupBy("i", "j")
        .agg(
            F.sum((F.col("xa") * F.col("xb")).cast("decimal(24,12)"))
            .cast("double")
            .alias("sxy")
        )
    )
    ma = mean_.select(F.col("dim").alias("i"), F.col("sx").alias("sxi"), "n")
    mb = mean_.select(F.col("dim").alias("j"), F.col("sx").alias("sxj"))
    cov = (
        mom.join(F.broadcast(ma), "i")
        .join(F.broadcast(mb), "j")
        .select(
            "i",
            "j",
            (
                (F.col("sxy") - F.col("sxi") * F.col("sxj") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    v = mean_.select("dim", F.lit(1.0).alias("v"))
    nrm_df = None
    for _ in range(3):
        w = (
            cov.join(F.broadcast(v.withColumnRenamed("dim", "j")), "j")
            .groupBy(F.col("i").alias("dim"))
            .agg(
                F.sum((F.col("c") * F.col("v")).cast("decimal(28,12)"))
                .cast("double")
                .alias("wv")
            )
        )
        nrm_df = w.agg(
            F.sqrt(
                F.sum((F.col("wv") * F.col("wv")).cast("decimal(38,12)")).cast(
                    "double"
                )
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm_df)).select(
            "dim", (F.col("wv") / F.col("nrm")).alias("v")
        )
    return v.crossJoin(F.broadcast(nrm_df)).select(
        F.col("dim").cast("bigint").alias("dim"),
        F.round("v", 6).alias("pc1_loading"),
        F.round("nrm", 4).alias("eigenvalue_est"),
    )


@register(
    "q_wilcoxon_signed_rank",
    oracle="""
    WITH wk AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS y
      FROM orders
      WHERE year(o_orderdate) IN (1996, 1997)
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.wk, b.y - a.y AS dif
      FROM wk a JOIN wk b ON b.wk = a.wk AND a.yr = 1996 AND b.yr = 1997
      WHERE b.y <> a.y
    ),
    byd AS (
      SELECT ABS(dif) AS ad,
             CAST(COUNT(*) AS BIGINT) AS n_v,
             CAST(COUNT(*) FILTER (WHERE dif > 0) AS BIGINT) AS np
      FROM pairs GROUP BY 1
    ),
    rk AS (
      SELECT ad, n_v, np,
             CAST(COALESCE(SUM(n_v) OVER (ORDER BY ad
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS DOUBLE) + (CAST(n_v AS DOUBLE) + 1) / 2 AS avg_rank
      FROM byd
    ),
    s AS (
      SELECT CAST(SUM(n_v) AS BIGINT) AS n,
             CAST(SUM(CAST(CAST(np AS DOUBLE) * avg_rank
                           AS DECIMAL(18,1))) AS DOUBLE) AS w_plus,
             CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_t
      FROM rk
    )
    SELECT n,
           round(w_plus, 1) AS w_plus,
           round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 2 - w_plus, 1)
             AS w_minus,
           round((w_plus - CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)
                        * (2 * CAST(n AS DOUBLE) + 1) / 24
                        - CAST(tie_t AS DOUBLE) / 48), 6) AS z_stat
    FROM s
    """,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test: did weekly revenue shift between 1996 and
    1997? Pairs ISO weeks across the two years, ranks |differences| with
    midranks, and reports W⁺/W⁻ and the tie-corrected normal approximation
    z — the paired, outlier-robust cousin of a t-test.

    Differences are *exact decimals* (difference of DECIMAL week sums), so
    rank order and tie groups are unambiguous; midranks come from the same
    distinct-value running-sum used by q_kruskal_wallis (no per-row global
    sort); rank sums live on the 0.5 lattice (DECIMAL(18,1)).

    Scale: everything after the week aggregation operates on ≤52 rows.
    §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    wk = (
        o.filter(F.year("o_orderdate").isin(1996, 1997))
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.weekofyear("o_orderdate").cast("bigint").alias("wk"),
        )
        .agg(F.sum(dec("o_totalprice")).alias("y"))
        # checkpointed once (r6): both year slices re-derived the rollup
        # (2 orders scans in the plan); the 2-year week grid
        # materializes once
        .localCheckpoint(eager=True)
    )
    a = wk.filter(F.col("yr") == 1996).select("wk", F.col("y").alias("ya"))
    b = wk.filter(F.col("yr") == 1997).select("wk", F.col("y").alias("yb"))
    pairs = (
        a.join(b, "wk")
        .filter(F.col("yb") != F.col("ya"))
        .select((F.col("yb") - F.col("ya")).alias("dif"))
    )
    byd = pairs.groupBy(F.abs("dif").alias("ad")).agg(
        bcount("n_v"),
        F.count_if(F.col("dif") > 0).cast("bigint").alias("np"),
    )
    w_run = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    rk = byd.select(
        "n_v",
        "np",
        (
            F.coalesce(F.sum("n_v").over(w_run), F.lit(0)).cast("double")
            + (F.col("n_v").cast("double") + 1) / 2
        ).alias("avg_rank"),
    )
    s = rk.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum(
            (F.col("np").cast("double") * F.col("avg_rank")).cast("decimal(18,1)")
        )
        .cast("double")
        .alias("w_plus"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("bigint")
        .alias("tie_t"),
    )
    nd = F.col("n").cast("double")
    return s.select(
        "n",
        F.round("w_plus", 1).alias("w_plus"),
        F.round(nd * (nd + 1) / 2 - F.col("w_plus"), 1).alias("w_minus"),
        F.round(
            (F.col("w_plus") - nd * (nd + 1) / 4)
            / F.sqrt(
                nd * (nd + 1) * (2 * nd + 1) / 24
                - F.col("tie_t").cast("double") / 48
            ),
            6,
        ).alias("z_stat"),
    )


@register(
    "q_mcnemar",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN isodow(ts) < 6 THEN 1 ELSE 0 END) AS wd,
             MAX(CASE WHEN isodow(ts) >= 6 THEN 1 ELSE 0 END) AS we
      FROM events WHERE event_type = 'click' GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) FILTER (WHERE wd = 1 AND we = 0) AS BIGINT) AS b,
           CAST(COUNT(*) FILTER (WHERE wd = 0 AND we = 1) AS BIGINT) AS c,
           round(CASE WHEN COUNT(*) FILTER (WHERE wd = 1 AND we = 0)
                           + COUNT(*) FILTER (WHERE wd = 0 AND we = 1) = 0
                      THEN 0.0
                      ELSE GREATEST(CAST(ABS(COUNT(*) FILTER (WHERE wd = 1 AND we = 0)
                                    - COUNT(*) FILTER (WHERE wd = 0 AND we = 1))
                                AS DOUBLE) - 1, 0.0)
                          * GREATEST(CAST(ABS(COUNT(*) FILTER (WHERE wd = 1 AND we = 0)
                                      - COUNT(*) FILTER (WHERE wd = 0 AND we = 1))
                                  AS DOUBLE) - 1, 0.0)
                          / CAST(COUNT(*) FILTER (WHERE wd = 1 AND we = 0)
                                 + COUNT(*) FILTER (WHERE wd = 0 AND we = 1)
                                 AS DOUBLE)
                 END, 6) AS chi2_cc
    FROM per_user
    """,
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test with continuity correction: among clicking
    users, is weekday-only clicking more common than weekend-only? The
    discordant-pair counts b (weekday only) and c (weekend only) drive
    χ² = (|b−c|−1)²/(b+c) — the paired-binary test behind "did the
    treatment flip individual users".

    All-integer until one fixed-shape double expression at the end.

    Scale: one map-side-combined user aggregation; the contingency collapse
    is a single count row. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("event_type") == "click")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.weekday("ts") + 1 < 6, 1).otherwise(0)).alias("wd"),
        F.max(F.when(F.weekday("ts") + 1 >= 6, 1).otherwise(0)).alias("we"),
    )
    b = F.count_if((F.col("wd") == 1) & (F.col("we") == 0))
    c = F.count_if((F.col("wd") == 0) & (F.col("we") == 1))
    diff = F.greatest(F.abs(b - c).cast("double") - 1, F.lit(0.0))
    return per_user.agg(
        bcount("n_users"),
        b.cast("bigint").alias("b"),
        c.cast("bigint").alias("c"),
        F.round(
            F.when(b + c == 0, F.lit(0.0)).otherwise(
                diff * diff / (b + c).cast("double")
            ),
            6,
        ).alias("chi2_cc"),
    )


@register(
    "q_partial_correlation",
    oracle="""
    WITH m AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sq,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS sp,
             SUM(CAST(l_discount AS DECIMAL(18,6))) AS sd,
             SUM(CAST(l_quantity * l_quantity AS DECIMAL(30,6))) AS sq2,
             SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(30,6))) AS sp2,
             SUM(CAST(l_discount * l_discount AS DECIMAL(30,6))) AS sd2,
             SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6))) AS sqp,
             SUM(CAST(l_quantity * l_discount AS DECIMAL(30,6))) AS sqd,
             SUM(CAST(l_extendedprice * l_discount AS DECIMAL(30,6))) AS spd
      FROM lineitem
    ),
    r AS (
      SELECT CAST(n AS BIGINT) AS n,
             (CAST(sqp AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sp AS DOUBLE)
                / CAST(n AS DOUBLE))
             / sqrt((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE)
                     * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE)
                       * CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))) AS r_qp,
             (CAST(sqd AS DOUBLE) - CAST(sq AS DOUBLE) * CAST(sd AS DOUBLE)
                / CAST(n AS DOUBLE))
             / sqrt((CAST(sq2 AS DOUBLE) - CAST(sq AS DOUBLE)
                     * CAST(sq AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sd2 AS DOUBLE) - CAST(sd AS DOUBLE)
                       * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))) AS r_qd,
             (CAST(spd AS DOUBLE) - CAST(sp AS DOUBLE) * CAST(sd AS DOUBLE)
                / CAST(n AS DOUBLE))
             / sqrt((CAST(sp2 AS DOUBLE) - CAST(sp AS DOUBLE)
                     * CAST(sp AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sd2 AS DOUBLE) - CAST(sd AS DOUBLE)
                       * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))) AS r_pd
      FROM m
    )
    SELECT n, round(r_qp, 6) AS r_qp, round(r_qd, 6) AS r_qd,
           round(r_pd, 6) AS r_pd,
           round((r_qp - r_qd * r_pd)
                 / sqrt((1 - r_qd * r_qd) * (1 - r_pd * r_pd)), 6)
             AS partial_r_qp_given_d
    FROM r
    """,
)
def q_partial_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial correlation of quantity ~ extendedprice controlling for
    discount: is the raw quantity–price association an artifact of both
    loading on discount? One moment pass (same nine sums as
    q_covariance_matrix), then the first-order partial-correlation formula
    on the 1-row grid.

    Scale: single scan with partial aggregation; everything else is
    constant work. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    d30 = "decimal(30,6)"
    m = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("l_quantity")).alias("sq"),
        F.sum(dec("l_extendedprice")).alias("sp"),
        F.sum(dec("l_discount")).alias("sd"),
        F.sum((q * q).cast(d30)).alias("sq2"),
        F.sum((p * p).cast(d30)).alias("sp2"),
        F.sum((d * d).cast(d30)).alias("sd2"),
        F.sum((q * p).cast(d30)).alias("sqp"),
        F.sum((q * d).cast(d30)).alias("sqd"),
        F.sum((p * d).cast(d30)).alias("spd"),
    )
    dd = m.select(
        F.col("n").cast("bigint").alias("n"),
        *[
            F.col(c).cast("double").alias(c)
            for c in ("sq", "sp", "sd", "sq2", "sp2", "sd2", "sqp", "sqd", "spd")
        ],
    )
    nd = F.col("n").cast("double")

    def corr(sxy, sx, sy, sx2, sy2):
        return (F.col(sxy) - F.col(sx) * F.col(sy) / nd) / F.sqrt(
            (F.col(sx2) - F.col(sx) * F.col(sx) / nd)
            * (F.col(sy2) - F.col(sy) * F.col(sy) / nd)
        )

    r_qp = corr("sqp", "sq", "sp", "sq2", "sp2")
    r_qd = corr("sqd", "sq", "sd", "sq2", "sd2")
    r_pd = corr("spd", "sp", "sd", "sp2", "sd2")
    return dd.select(
        "n",
        F.round(r_qp, 6).alias("r_qp"),
        F.round(r_qd, 6).alias("r_qd"),
        F.round(r_pd, 6).alias("r_pd"),
        F.round(
            (r_qp - r_qd * r_pd)
            / F.sqrt((1 - r_qd * r_qd) * (1 - r_pd * r_pd)),
            6,
        ).alias("partial_r_qp_given_d"),
    )


@register(
    "q_dedup_cluster_sizes",
    oracle="""
    WITH cl AS (
      SELECT md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS sz
      FROM documents GROUP BY 1
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           round(CAST(SUM(sz) AS DOUBLE)
                 / (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents), 6)
             AS doc_share
    FROM cl GROUP BY 1
    """,
)
def q_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster-size distribution: how many exact-duplicate clusters
    exist at each size, and what share of the corpus they hold — the report
    an operator reads to size a dedup run's survivor output before paying
    for it (companion to q_dedup_exact, which emits the clusters
    themselves).

    Scale: two map-side-combined groupBys (hash → size → histogram); the
    1-row corpus count broadcast is O(1). §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    cl = docs.groupBy(F.md5("text").alias("h")).agg(bcount("sz"))
    tot = docs.agg(F.count(F.lit(1)).cast("double").alias("total"))
    return (
        cl.groupBy(F.col("sz").alias("cluster_size"))
        .agg(bcount("n_clusters"), F.sum("sz").cast("bigint").alias("n_docs"))
        .crossJoin(F.broadcast(tot))
        .select(
            "cluster_size",
            "n_clusters",
            "n_docs",
            F.round(F.col("n_docs").cast("double") / F.col("total"), 6).alias(
                "doc_share"
            ),
        )
    )
