"""Analytics batch 41: nearest-centroid classification (confusion matrix),
character-trigram language profiles, financial risk on the daily revenue
series (annualized Sharpe, historical VaR/CVaR), and common-neighbor link
prediction on the trade graph.

Vector distances reuse the exploded-representation trick from
q_label_centroids: per-dimension squared differences are cast to DECIMAL
per-term, so per-(vector, centroid) distances are exact and the argmin is
unambiguous (ties broken by centroid label). VaR picks rows by integer rank
arithmetic (no percentile interpolation), mirroring q_qq_deciles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .extras31 import _SQL_TRADE_GRAPH, _trade_graph
from .registry import load, register, spread


@register(
    "q_nearest_centroid_confusion",
    oracle="""
    WITH u AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ),
    cen AS (
      SELECT label AS clabel, dim,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM u GROUP BY 1, 2
    ),
    d2 AS (
      SELECT u.vec_id, u.label, cen.clabel,
             SUM(CAST((u.x - cen.c) * (u.x - cen.c) AS DECIMAL(18,12))) AS dist2
      FROM u JOIN cen ON cen.dim = u.dim
      GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT vec_id, label, clabel,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY dist2, clabel) AS rn
      FROM d2
    )
    SELECT CAST(label AS BIGINT) AS true_label,
           CAST(clabel AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rn = 1 GROUP BY 1, 2
    """,
)
def q_nearest_centroid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-centroid classifier self-evaluation: assign every embedding
    to its closest label centroid (squared L2) and report the confusion
    matrix — the cheapest "are these labels separable in embedding space"
    check, and the assignment step of one Lloyd/k-means iteration.

    Per-dimension squared differences are cast to DECIMAL(18,12) before the
    per-pair sum, so distances are exact decimals — argmin ties are then
    broken by centroid label, making the prediction fully deterministic.

    Scale: centroids are a |labels|×dims grid (broadcast); the distance
    computation is one join of the exploded corpus against that grid with
    map-side partial sums — no quadratic pair blowup, O(n·dims·|labels|)
    work evenly partitioned. §2.B [NS].
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    u = emb.select(
        "vec_id",
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x"),
    ).select("vec_id", "label", (F.col("pos") + 1).alias("dim"), "x")
    cen = u.groupBy(F.col("label").alias("clabel"), "dim").agg(
        (
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("c")
    )
    diff = F.col("x") - F.col("c")
    d2 = (
        u.join(F.broadcast(cen), "dim")
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum((diff * diff).cast("decimal(18,12)")).alias("dist2"))
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "clabel")
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy(
            F.col("label").cast("bigint").alias("true_label"),
            F.col("clabel").cast("bigint").alias("pred_label"),
        )
        .agg(bcount("n"))
    )


@register(
    "q_char_trigrams",
    oracle="""
    WITH tri AS (
      SELECT lang, substring(text, i, 3) AS trigram
      FROM documents,
           LATERAL (SELECT unnest(generate_series(1, length(text) - 2)) AS i) g
    ),
    tc AS (
      SELECT lang, trigram, CAST(COUNT(*) AS BIGINT) AS n
      FROM tri GROUP BY 1, 2
    )
    SELECT lang, CAST(rnk AS BIGINT) AS rnk, trigram, n FROM (
      SELECT lang, trigram, n,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n DESC, trigram) AS rnk
      FROM tc) t
    WHERE rnk <= 5
    """,
)
def q_char_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 character trigrams per language — the classic feature family
    behind n-gram language identifiers (the trainable upgrade of
    q_doc_langid's heuristic): overlapping 3-char windows, counted per
    language, ranked with a total-order tiebreak.

    Scale: trigram expansion is linear (~|text| rows per doc); counting is
    map-side combinable; per-language top-5 is a WindowGroupLimit (k rows
    kept per partition before the final shuffle). §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    tri = docs.select(
        "lang",
        F.explode(
            F.when(
                F.length("text") >= 3,
                F.expr(
                    "transform(sequence(1, length(text) - 2),"
                    " i -> substring(text, i, 3))"
                ),
            ).otherwise(F.array())
        ).alias("trigram"),
    )
    tc = tri.groupBy("lang", "trigram").agg(bcount("n"))
    w = Window.partitionBy("lang").orderBy(F.desc("n"), F.asc("trigram"))
    return (
        tc.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rnk") <= 5)
        .select("lang", "rnk", "trigram", "n")
    )


_SQL_DAILY_RET = """
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    ret AS (
      SELECT d, y / LAG(y) OVER (ORDER BY d) - 1 AS r
      FROM daily
    ),
    rr AS (SELECT d, r FROM ret WHERE r IS NOT NULL)
"""


@register(
    "q_sharpe_ratio",
    oracle=_SQL_DAILY_RET
    + """
    , s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(r AS DECIMAL(18,12))) AS DOUBLE) AS sr,
             CAST(SUM(CAST(r * r AS DECIMAL(18,12))) AS DOUBLE) AS sq
      FROM rr
    )
    SELECT n,
           round(sr / n, 6) AS mean_daily_return,
           round(sqrt((sq - sr * sr / n) / (n - 1)), 6) AS sd_daily_return,
           round((sr / n) / sqrt((sq - sr * sr / n) / (n - 1))
                 * sqrt(252.0), 6) AS sharpe_annualized
    FROM s
    """,
)
def q_sharpe_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe ratio of the day-over-day revenue return series
    (risk-free rate 0): mean/σ of daily returns scaled by √252 — the
    revenue-stability KPI in the financial family (companions: q_vwap_daily,
    q_max_drawdown, q_bollinger_daily).

    Returns come from one lag window over the post-aggregate daily grid;
    moment sums go through DECIMAL(18,12); the Sharpe expression is
    fixed-shape double math with sqrt only.

    Scale: the ordered window runs on ~2.5k aggregated rows, never raw
    data. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )
    r = (F.col("y") / F.lag("y").over(Window.orderBy("d")) - 1).alias("r")
    rr = daily.select("d", r).filter(F.col("r").isNotNull())
    s = rr.agg(
        bcount("n"),
        F.sum(F.col("r").cast("decimal(18,12)")).cast("double").alias("sr"),
        F.sum((F.col("r") * F.col("r")).cast("decimal(18,12)"))
        .cast("double")
        .alias("sq"),
    )
    n, sr, sq = F.col("n"), F.col("sr"), F.col("sq")
    sd = F.sqrt((sq - sr * sr / n) / (n - 1))
    return s.select(
        "n",
        F.round(sr / n, 6).alias("mean_daily_return"),
        F.round(sd, 6).alias("sd_daily_return"),
        F.round((sr / n) / sd * F.sqrt(F.lit(252.0)), 6).alias(
            "sharpe_annualized"
        ),
    )


@register(
    "q_var_historical",
    oracle=_SQL_DAILY_RET
    + """
    , ranked AS (
      SELECT r,
             ROW_NUMBER() OVER (ORDER BY r, d) AS rn,
             COUNT(*) OVER () AS n
      FROM rr
    ),
    cut AS (SELECT n, (n + 19) // 20 AS k FROM ranked LIMIT 1)
    SELECT CAST(cut.n AS BIGINT) AS n_returns,
           CAST(cut.k AS BIGINT) AS k_tail,
           round(-MAX(CASE WHEN rn = cut.k THEN r END), 6) AS var_5pct,
           round(-CAST(SUM(CASE WHEN rn <= cut.k
                                THEN CAST(r AS DECIMAL(18,12)) END) AS DOUBLE)
                 / CAST(cut.k AS DOUBLE), 6) AS cvar_5pct
    FROM ranked, cut
    GROUP BY cut.n, cut.k
    """,
)
def q_var_historical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Historical 5% Value-at-Risk and CVaR (expected shortfall) of daily
    revenue returns: the k = ⌈n/20⌉-th worst return is the VaR cut, and the
    mean of the k worst returns is the CVaR — both sign-flipped to the
    "loss" convention.

    The tail cut is pure integer rank arithmetic ((n+19) DIV 20 over a
    (return, day)-ordered row_number — no percentile interpolation), and
    the tail mean routes through DECIMAL, so both engines pick and average
    the identical rows.

    Scale: ranking happens on the post-aggregate daily grid; at 100 TB of
    raw data the grid is still #days rows. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )
    r = (F.col("y") / F.lag("y").over(Window.orderBy("d")) - 1).alias("r")
    rr = daily.select("d", r).filter(F.col("r").isNotNull())
    ranked = rr.select(
        "r",
        F.row_number().over(Window.orderBy("r", "d")).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    ranked = ranked.withColumn(
        "k", F.floor((F.col("n") + 19) / F.lit(20)).cast("bigint")
    )
    return ranked.groupBy(
        F.col("n").cast("bigint").alias("n_returns"),
        F.col("k").alias("k_tail"),
    ).agg(
        F.round(-F.max(F.when(F.col("rn") == F.col("k"), F.col("r"))), 6).alias(
            "var_5pct"
        ),
        F.round(
            -F.sum(
                F.when(
                    F.col("rn") <= F.col("k"), F.col("r").cast("decimal(18,12)")
                )
            ).cast("double")
            / F.col("k").cast("double"),
            6,
        ).alias("cvar_5pct"),
    )


@register(
    "q_link_prediction",
    oracle=_SQL_TRADE_GRAPH
    + """
    , deg AS (SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM se GROUP BY 1),
    cn AS (
      SELECT a.n AS u, b.n AS v,
             CAST(COUNT(*) AS BIGINT) AS common,
             round(SUM(1.0 / ln(CAST(dm.d AS DOUBLE))), 6) AS adamic_adar
      FROM se a
      JOIN se b ON b.m = a.m AND a.n < b.n
      JOIN deg dm ON dm.n = a.m
      GROUP BY 1, 2
    ),
    nonadj AS (
      SELECT cn.* FROM cn
      LEFT JOIN se adj ON adj.n = cn.u AND adj.m = cn.v
      WHERE adj.n IS NULL
    )
    SELECT CAST(u AS BIGINT) AS u, CAST(v AS BIGINT) AS v, common,
           round(CAST(common AS DOUBLE)
                 / CAST(du.d + dv.d - common AS DOUBLE), 6) AS jaccard,
           adamic_adar
    FROM nonadj
    JOIN deg du ON du.n = nonadj.u
    JOIN deg dv ON dv.n = nonadj.v
    ORDER BY common DESC, u, v
    LIMIT 10
    """,
)
def q_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the thresholded trade graph: for non-adjacent
    nation pairs, the three classic scores — common-neighbor count,
    neighbor-set Jaccard, and Adamic–Adar (Σ 1/ln deg over shared
    neighbors) — top-10 candidate edges most likely to appear next.

    Degrees and common counts are integers; Adamic–Adar sums ≤|nations|
    bounded ln terms (round 6 absorbs ulp wobble); ORDER BY has a (u, v)
    total-order tiebreak.

    Scale: pair generation goes through the shared-neighbor join (wedge
    expansion), which is Σ deg(m)² work — the standard triangle/wedge
    bound; on a big graph the heavy hitters are handled by degree-capping
    or AQE skew split. §2.B [NS].
    """
    se = _trade_graph(spark, sf_dir).localCheckpoint(eager=True)
    deg = se.groupBy("n").agg(bcount("d"))
    a = se.select(F.col("n").alias("u"), F.col("m").alias("mid"))
    b = se.select(F.col("n").alias("v"), F.col("m").alias("mid"))
    dm = deg.select(F.col("n").alias("mid"), F.col("d").alias("dm"))
    cn = (
        a.join(b, "mid")
        .filter(F.col("u") < F.col("v"))
        .join(F.broadcast(dm), "mid")
        .groupBy("u", "v")
        .agg(
            bcount("common"),
            F.round(
                F.sum(F.lit(1.0) / F.log(F.col("dm").cast("double"))), 6
            ).alias("adamic_adar"),
        )
    )
    adj = se.select(F.col("n").alias("u"), F.col("m").alias("v"))
    nonadj = cn.join(adj, ["u", "v"], "left_anti")
    du = deg.select(F.col("n").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("d").alias("dv"))
    return (
        nonadj.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            F.col("u").cast("bigint").alias("u"),
            F.col("v").cast("bigint").alias("v"),
            "common",
            F.round(
                F.col("common").cast("double")
                / (F.col("du") + F.col("dv") - F.col("common")).cast("double"),
                6,
            ).alias("jaccard"),
            "adamic_adar",
        )
        .orderBy(F.desc("common"), "u", "v")
        .limit(10)
    )
