"""Analytics batch 39: iterative graph decomposition (k-core peeling,
min-label community propagation), LSH parameter tuning (band sweep with
verified precision), discount elasticity (post-aggregate OLS), and Holt
linear-trend forecasting (sequential state over an aggregated grid via
applyInPandas, oracled by a recursive CTE).

Iterative queries follow the q_pagerank_nations recipe: a fixed number of
driver-loop iterations mirrored by chained/recursive CTEs on the DuckDB
side; all per-iteration state here is *integer* (degrees, labels) so there
is no float drift to absorb. The Holt query extends the det.py playbook to
sequential algorithms: identical IEEE double ops in an identical order
(numpy loop vs recursive CTE) give identical bits.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .dedup import lsh_candidate_pairs, minhash_signatures
from .det import bcount, dec
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register, spread

# Undirected nation trade graph, thresholded to above-average edge weight.
# The w * n_edges > total_w comparison is the all-integer form of
# w > avg(w): no doubles anywhere in graph construction, so membership is
# trivially identical across engines.
_SQL_TRADE_GRAPH = f"""
    WITH de AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    ue AS (
      SELECT LEAST(src, dst) AS u, GREATEST(src, dst) AS v,
             CAST(SUM(w) AS BIGINT) AS w
      FROM de GROUP BY 1, 2
    ),
    tot AS (
      SELECT CAST(SUM(w) AS BIGINT) AS total_w,
             CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM ue
    ),
    te AS (
      SELECT u, v FROM ue, tot WHERE w * n_edges > total_w
    ),
    se AS (
      SELECT u AS n, v AS m FROM te UNION ALL SELECT v, u FROM te
    )
"""


def _trade_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric (n, m) edge list of the thresholded nation trade graph."""
    ue = nation_trade_edges(spark, sf_dir).groupBy(
        F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
    ).agg(F.sum("w").cast("bigint").alias("w"))
    tot = ue.agg(
        F.sum("w").cast("bigint").alias("total_w"), bcount("n_edges")
    )
    te = ue.crossJoin(F.broadcast(tot)).filter(
        F.col("w") * F.col("n_edges") > F.col("total_w")
    )
    return te.select(F.col("u").alias("n"), F.col("v").alias("m")).union(
        te.select(F.col("v").alias("n"), F.col("u").alias("m"))
    )


_KCORE_STEP_SQL = """
      SELECT se.n
      FROM se
      JOIN {prev} pa ON pa.n = se.n
      JOIN {prev} pb ON pb.n = se.m
      GROUP BY se.n
      HAVING COUNT(*) >= 3
"""


@register(
    "q_kcore_trade",
    oracle=_SQL_TRADE_GRAPH
    + f"""
    , a0 AS (SELECT DISTINCT n FROM se),
    a1 AS ({_KCORE_STEP_SQL.format(prev="a0")}),
    a2 AS ({_KCORE_STEP_SQL.format(prev="a1")}),
    a3 AS ({_KCORE_STEP_SQL.format(prev="a2")}),
    a4 AS ({_KCORE_STEP_SQL.format(prev="a3")})
    SELECT CAST(se.n AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM se
    JOIN a4 pa ON pa.n = se.n
    JOIN a4 pb ON pb.n = se.m
    GROUP BY se.n
    """,
)
def q_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the thresholded nation trade graph via iterative peeling
    (4 rounds): repeatedly drop nodes with degree < 3 among survivors, then
    report each surviving node's within-core degree — the dense backbone of
    the trade network.

    All iteration state is an integer node set, so the driver loop and the
    chained-CTE oracle agree exactly with no float handling at all.

    Scale: the graph is pre-aggregated to |nations|² edges max before any
    iteration; each peel round is a self-broadcast join on that tiny edge
    list. On a billion-node graph the same peel is the standard
    degree-table + semi-join sweep (edges shuffled on src once per round);
    fixed round count bounds lineage (checkpoint beyond ~5). §2.B [NS].
    """
    se = _trade_graph(spark, sf_dir).localCheckpoint(eager=True)
    alive = se.select("n").distinct()
    for _ in range(4):
        alive = (
            se.join(F.broadcast(alive), "n")
            .join(
                F.broadcast(alive.withColumnRenamed("n", "m")),
                "m",
            )
            .groupBy("n")
            .agg(bcount("deg"))
            .filter(F.col("deg") >= 3)
            .select("n")
        )
    core = alive
    return (
        se.join(F.broadcast(core), "n")
        .join(F.broadcast(core.withColumnRenamed("n", "m")), "m")
        .groupBy("n")
        .agg(bcount("core_degree"))
        .select(F.col("n").cast("bigint").alias("node"), "core_degree")
    )


_LP_STEP_SQL = """
      SELECT se.n, LEAST(MIN(pn.lbl), MIN(pm.lbl)) AS lbl
      FROM se
      JOIN {prev} pn ON pn.n = se.n
      JOIN {prev} pm ON pm.n = se.m
      GROUP BY se.n
"""


@register(
    "q_label_propagation",
    oracle=_SQL_TRADE_GRAPH
    + f"""
    , l0 AS (SELECT DISTINCT n, n AS lbl FROM se),
    l1 AS ({_LP_STEP_SQL.format(prev="l0")}),
    l2 AS ({_LP_STEP_SQL.format(prev="l1")}),
    l3 AS ({_LP_STEP_SQL.format(prev="l2")})
    SELECT CAST(lbl AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS size,
           CAST(MIN(n) AS BIGINT) AS min_node,
           CAST(MAX(n) AS BIGINT) AS max_node
    FROM l3 GROUP BY lbl
    """,
)
def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous min-label propagation (3 iterations) on the thresholded
    nation trade graph: every node adopts the smallest label in its closed
    neighborhood each round, converging toward connected components —
    reported as communities with their sizes.

    Deterministic by construction (min is order-free, labels are integers);
    the tie-breaking ambiguity that plagues classic LPA is removed by using
    min-label updates, which is what makes the query oracle-able.

    Scale: same shape as q_kcore_trade — per-iteration cost is one join over
    the pre-aggregated edge list; the same plan over a billion-edge graph
    shuffles edges by n once per round with map-side min combine. §2.B [NS].
    """
    se = _trade_graph(spark, sf_dir).localCheckpoint(eager=True)
    labels = se.select("n").distinct().withColumn("lbl", F.col("n"))
    for _ in range(3):
        labels = (
            se.join(F.broadcast(labels), "n")
            .join(
                F.broadcast(
                    labels.select(
                        F.col("n").alias("m"), F.col("lbl").alias("lbl_m")
                    )
                ),
                "m",
            )
            .groupBy("n")
            .agg(F.least(F.min("lbl"), F.min("lbl_m")).alias("lbl"))
        )
    return labels.groupBy("lbl").agg(
        bcount("size"),
        F.min("n").cast("bigint").alias("min_node"),
        F.max("n").cast("bigint").alias("max_node"),
    ).select(
        F.col("lbl").cast("bigint").alias("community"),
        "size",
        "min_node",
        "max_node",
    )


def _bands_sql(band_size: int) -> str:
    """UNION ALL bands CTE body for 8 minhashes split into 8//band_size bands."""
    n_bands = 8 // band_size
    parts = []
    for b in range(n_bands):
        key = " || '|' || ".join(f"mh{b * band_size + i}" for i in range(band_size))
        parts.append(f"SELECT doc_id, {b} AS band_idx, {key} AS band_key FROM sigs")
    return " UNION ALL ".join(parts)


def _sweep_cfg_sql(band_size: int) -> str:
    return f"""
      SELECT {band_size} AS band_size, {8 // band_size} AS n_bands,
             CAST(COUNT(*) AS BIGINT) AS n_candidates,
             CAST(COUNT(*) FILTER (WHERE jaccard >= 0.5) AS BIGINT) AS n_verified
      FROM (
        SELECT CAST(len(list_intersect(ta.ts, tb.ts)) AS DOUBLE)
                 / CAST(len(ta.ts) + len(tb.ts)
                        - len(list_intersect(ta.ts, tb.ts)) AS DOUBLE) AS jaccard
        FROM (
          SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
          FROM ({_bands_sql(band_size)}) a
          JOIN ({_bands_sql(band_size)}) b
            ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id
        ) c
        JOIN toksets ta ON ta.doc_id = c.doc_a
        JOIN toksets tb ON tb.doc_id = c.doc_b
      ) v
"""


@register(
    "q_lsh_band_sweep",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS tok
      FROM documents
    ), sigs AS (
      SELECT doc_id,
             MIN(md5('0:' || tok)) AS mh0, MIN(md5('1:' || tok)) AS mh1,
             MIN(md5('2:' || tok)) AS mh2, MIN(md5('3:' || tok)) AS mh3,
             MIN(md5('4:' || tok)) AS mh4, MIN(md5('5:' || tok)) AS mh5,
             MIN(md5('6:' || tok)) AS mh6, MIN(md5('7:' || tok)) AS mh7
      FROM toks GROUP BY doc_id
    ), toksets AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS ts FROM documents
    )
    SELECT CAST(band_size AS BIGINT) AS band_size,
           CAST(n_bands AS BIGINT) AS n_bands,
           n_candidates, n_verified,
           round(CASE WHEN n_candidates = 0 THEN 0.0
                      ELSE CAST(n_verified AS DOUBLE)
                           / CAST(n_candidates AS DOUBLE) END, 6) AS precision
    FROM ("""
    + " UNION ALL ".join(_sweep_cfg_sql(bs) for bs in (1, 2, 4))
    + ") sweep",
)
def q_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding parameter sweep: for 8 MinHashes arranged as 8×1, 4×2 and
    2×4 (bands × rows), count candidate pairs and exact-Jaccard-verified
    pairs (θ=0.5) — the recall/precision trade-off curve an operator reads
    before picking a banding for a 100 TB dedup run. Composes the
    *production* `minhash_signatures` / `lsh_candidate_pairs` code paths at
    each configuration.

    Scale: signatures are computed once and reused across configurations;
    each config's banding is an |docs|×n_bands explode joined per-bucket.
    Verification touches candidates only. NOTE this corpus's ground truth
    makes CANDIDATE VOLUME itself quadratic (31-token vocabulary ⇒ ~6%
    of all pairs are true near-dups), so like the quarantined pair
    emitters this diagnostic is run on a sample at extreme SF — it tunes
    banding, it is not a pipeline stage. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    sigs = minhash_signatures(docs).localCheckpoint(eager=True)
    toksets = docs.select(
        "doc_id", F.array_distinct(F.split("text", " ")).alias("ts")
    )
    # checkpointed once (r6): the verify join references toksets twice
    # per banding config (6 document scans+tokenizes in the plan); the
    # doc-grain token-set table materializes once (posting-list class,
    # same as the pass-2 q_tfidf_cosine_pairs checkpoint)
    toksets = toksets.localCheckpoint(eager=True)
    inter = F.size(F.array_intersect("ta", "tb")).cast("double")
    union = (F.size(F.col("ta")) + F.size(F.col("tb"))).cast("double") - inter
    out = None
    for bs in (1, 2, 4):
        cand = lsh_candidate_pairs(sigs, 8, bs)
        ver = (
            cand.join(
                toksets.select(F.col("doc_id").alias("doc_a"), F.col("ts").alias("ta")),
                "doc_a",
            )
            .join(
                toksets.select(F.col("doc_id").alias("doc_b"), F.col("ts").alias("tb")),
                "doc_b",
            )
            .select((inter / union).alias("jaccard"))
            .agg(
                bcount("n_candidates"),
                F.count_if(F.col("jaccard") >= 0.5)
                .cast("bigint")
                .alias("n_verified"),
            )
            .select(
                F.lit(bs).cast("bigint").alias("band_size"),
                F.lit(8 // bs).cast("bigint").alias("n_bands"),
                "n_candidates",
                "n_verified",
            )
        )
        out = ver if out is None else out.unionAll(ver)
    return out.select(
        "band_size",
        "n_bands",
        "n_candidates",
        "n_verified",
        F.round(
            F.when(F.col("n_candidates") == 0, F.lit(0.0)).otherwise(
                F.col("n_verified").cast("double")
                / F.col("n_candidates").cast("double")
            ),
            6,
        ).alias("precision"),
    )


@register(
    "q_discount_elasticity",
    oracle="""
    WITH lvl AS (
      SELECT CAST(l_discount AS DECIMAL(8,6)) AS x_dec,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x_dec) AS DOUBLE) AS sx,
             CAST(SUM(CAST(CAST(x_dec AS DOUBLE) * CAST(x_dec AS DOUBLE)
                           AS DECIMAL(18,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x_dec AS DOUBLE) * y
                           AS DECIMAL(18,12))) AS DOUBLE) AS sxy
      FROM lvl
    )
    SELECT k AS n_levels,
           round((CAST(k AS DOUBLE) * sxy - sx * sy)
                 / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) AS slope,
           round((sy - (CAST(k AS DOUBLE) * sxy - sx * sy)
                       / (CAST(k AS DOUBLE) * sxx - sx * sx) * sx)
                 / CAST(k AS DOUBLE), 6) AS intercept,
           round(((CAST(k AS DOUBLE) * sxy - sx * sy)
                  / (CAST(k AS DOUBLE) * sxx - sx * sx))
                 * (sx / CAST(k AS DOUBLE)) / (sy / CAST(k AS DOUBLE)), 6)
             AS elasticity_at_mean
    FROM s
    """,
)
def q_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount elasticity of demand: OLS of mean quantity per discount
    level against the discount, over the ~11-point discount grid, plus the
    point elasticity at the mean (slope · x̄/ȳ) — "does a deeper discount
    move volume".

    Post-aggregate regression: the fact table collapses to one row per
    distinct discount (map-side combined); OLS runs on that grid with every
    sum routed through DECIMAL (x is exact at DECIMAL(8,6); x², xy, y terms
    are fixed-shape double products cast per-term), so the normal-equation
    inputs are bit-identical across engines.

    Scale: one aggregation pass; the regression grid is O(|distinct
    discounts|) forever. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    lvl = li.groupBy(dec("l_discount", "decimal(8,6)").alias("x_dec")).agg(
        bcount("n_rows"),
        (
            F.sum(dec("l_quantity")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("y"),
    )
    xd = F.col("x_dec").cast("double")
    s = lvl.agg(
        bcount("k"),
        F.sum("x_dec").cast("double").alias("sx"),
        F.sum((xd * xd).cast("decimal(18,12)")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast("decimal(18,9)")).cast("double").alias("sy"),
        F.sum((xd * F.col("y")).cast("decimal(18,12)")).cast("double").alias("sxy"),
    )
    kd = F.col("k").cast("double")
    slope = (kd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        kd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("k").alias("n_levels"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / kd, 6).alias("intercept"),
        F.round(slope * (F.col("sx") / kd) / (F.col("sy") / kd), 6).alias(
            "elasticity_at_mean"
        ),
    )


@register(
    "q_holt_linear",
    oracle="""
    WITH RECURSIVE daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    ord AS (
      SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM daily
    ),
    hw AS (
      SELECT 1 AS rn,
             (SELECT y FROM ord WHERE rn = 1) AS l,
             (SELECT y FROM ord WHERE rn = 2)
               - (SELECT y FROM ord WHERE rn = 1) AS b
      UNION ALL
      SELECT o.rn,
             0.5 * o.y + 0.5 * (h.l + h.b),
             0.3 * ((0.5 * o.y + 0.5 * (h.l + h.b)) - h.l) + 0.7 * h.b
      FROM hw h JOIN ord o ON o.rn = h.rn + 1
    )
    SELECT CAST(rn AS BIGINT) AS n_days,
           round(l, 6) AS level,
           round(b, 6) AS trend,
           round(l + b, 6) AS forecast_1d,
           round(l + 7 * b, 6) AS forecast_7d
    FROM hw WHERE rn = (SELECT CAST(COUNT(*) AS BIGINT) FROM ord)
    """,
)
def q_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing of daily revenue
    (α=0.5, β=0.3), reporting the final level/trend state and the 1-day /
    7-day-ahead forecasts — the classic trend-aware successor to the EWMA
    query for capacity planning.

    The sequential-state showcase: revenue first collapses to the ~2.5k-row
    daily grid (exact DECIMAL sums), then the inherently sequential
    recursion runs in one Arrow-batched applyInPandas over that *aggregated*
    grid — never over raw rows. The numpy loop executes the same IEEE
    double ops in the same order as the oracle's recursive CTE
    (l' = 0.5y + 0.5(l+b); b' = 0.3(l'−l) + 0.7b), so the final state is
    bit-identical; rounding happens Spark-side (half-up, matching DuckDB).

    Scale: the Python boundary sees O(#days) rows regardless of fact-table
    size — the distributed heavy lifting (scan+agg) stays JVM-side, which is
    exactly how a 100 TB deployment should place a sequential algorithm.
    §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d").reset_index(drop=True)
        y = pdf["y"].to_numpy()
        lvl = float(y[0])
        b = float(y[1]) - float(y[0])
        for t in range(1, len(y)):
            lnew = 0.5 * float(y[t]) + 0.5 * (lvl + b)
            b = 0.3 * (lnew - lvl) + 0.7 * b
            lvl = lnew
        return pd.DataFrame(
            {"n_days": [len(y)], "level": [lvl], "trend": [b]}
        )

    res = daily.groupBy(F.lit(1).alias("_g")).applyInPandas(
        holt, "n_days long, level double, trend double"
    )
    return res.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round("level", 6).alias("level"),
        F.round("trend", 6).alias("trend"),
        F.round(F.col("level") + F.col("trend"), 6).alias("forecast_1d"),
        F.round(F.col("level") + F.lit(7) * F.col("trend"), 6).alias("forecast_7d"),
    )
