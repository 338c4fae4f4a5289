"""Analytics batch 120: ranking-quality metrics — NDCG@k for the ANN
index, quadratic-weighted Cohen's kappa, and rank-biased precision for
year-over-year rankings.

NDCG@k closes the retrieval-eval set (q_ann_recall_eval counts hits,
q_retrieval_mrr scores the first hit; NDCG grades the whole ranked
list with position discounting). Weighted kappa extends the agreement
family (q_cohen_kappa_heuristics, q_fleiss_kappa) to ORDINAL labels,
where near-misses should cost less than gross disagreements. RBP is the
user-model alternative to NDCG (persistence parameter instead of a log
discount) — here scoring how well last year's brand ranking "retrieves"
this year's winners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register, spread
from .similarity import _SQL_BUCKET, _SQL_COSINE, N_QUERIES, _dot, lsh_bucket

_NDCG_K = 10
_RBP_P = 0.5  # persistence — a power of two so p^d multiplies are exact
_RBP_TOP = 10


@register(
    "q_ndcg_at_k",
    oracle=f"""
    WITH sig AS MATERIALIZED (
      SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings
    ),
    lsh AS MATERIALIZED (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round({_SQL_COSINE}, 6) AS sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_SQL_COSINE}, 6) DESC, c.vec_id)
               AS pos
      FROM (SELECT * FROM sig WHERE vec_id < {N_QUERIES}) q
      JOIN sig c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
    ),
    ideal AS MATERIALIZED (
      SELECT q.vec_id AS query_id,
             round({_SQL_COSINE}, 6) AS sim,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_SQL_COSINE}, 6) DESC, c.vec_id)
               AS pos
      FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
      CROSS JOIN embeddings c
      WHERE c.vec_id <> q.vec_id
    ),
    dcg AS (
      SELECT query_id,
             CAST(SUM(CAST(sim / (ln(pos + 1.0) / ln(2.0))
                           AS DECIMAL(38,15))) AS DOUBLE) AS dcg
      FROM lsh WHERE pos <= {_NDCG_K} GROUP BY 1
    ),
    idcg AS (
      SELECT query_id,
             CAST(SUM(CAST(sim / (ln(pos + 1.0) / ln(2.0))
                           AS DECIMAL(38,15))) AS DOUBLE) AS idcg
      FROM ideal WHERE pos <= {_NDCG_K} GROUP BY 1
    )
    SELECT i.query_id,
           round(COALESCE(d.dcg, 0.0), 6) AS dcg,
           round(i.idcg, 6) AS idcg,
           round(COALESCE(d.dcg, 0.0) / i.idcg, 6) AS ndcg
    FROM idcg i LEFT JOIN dcg d ON d.query_id = i.query_id
    ORDER BY i.query_id
    """,
)
def q_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the hyperplane-LSH index against exact search: the LSH
    candidate ranking's discounted cumulative gain (graded relevance =
    true cosine, log₂ position discount) normalized by the ideal DCG
    from the brute-force ranking. The position-sensitive quality grade
    for q_ann_lsh_hyperplane that q_ann_recall_eval's set-overlap and
    q_retrieval_mrr's first-hit don't capture — a bucket that finds the
    right neighbors in the wrong order scores below 1 here.

    Determinism: sims are sequential-fold dots rounded to 6dp with id
    tiebreaks; DCG terms accumulate as DECIMAL(38,15); log₂ is the
    ln-ratio form in both engines.

    Scale: the LSH side is the production bucket join; the ideal side is
    the (deliberate, query-bounded) brute-force pass — per query, not
    per corpus pair. §2.B [NS] / LLM-pipeline surface.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    sig = emb.withColumn("bucket", lsh_bucket(F.col("emb")))
    # checkpointed once (r6): the query slice and both ranking passes'
    # corpus sides each re-scanned+re-bucketed embeddings (4 scans in
    # the plan); the signature table materializes once
    sig = sig.localCheckpoint(eager=True)
    queries = sig.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("bucket").alias("qb"),
        F.col("emb").alias("q_emb"),
    ).withColumn("q_n", F.sqrt(_dot("q_emb", "q_emb")))
    corpus = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("cb"),
        F.col("emb").alias("c_emb"),
    ).withColumn("c_n", F.sqrt(_dot("c_emb", "c_emb")))
    # per-side norms precomputed before the pair joins (similarity.py r6)
    sim = F.round(_dot("q_emb", "c_emb") / (F.col("q_n") * F.col("c_n")), 6)
    wq = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    log2pos = F.log(F.col("pos") + 1.0) / F.log(F.lit(2.0))
    lsh = (
        corpus.join(
            F.broadcast(queries),
            (F.col("cb") == F.col("qb")) & (F.col("neighbor_id") != F.col("query_id")),
        )
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("pos", F.row_number().over(wq))
        .filter(F.col("pos") <= _NDCG_K)
    )
    ideal = (
        corpus.select("neighbor_id", "c_emb", "c_n")
        .crossJoin(F.broadcast(queries.select("query_id", "q_emb", "q_n")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", sim.alias("sim"))
        .withColumn("pos", F.row_number().over(wq))
        .filter(F.col("pos") <= _NDCG_K)
    )
    dcg = lsh.groupBy("query_id").agg(
        F.sum((F.col("sim") / log2pos).cast(D15)).cast("double").alias("dcg")
    )
    idcg = ideal.groupBy("query_id").agg(
        F.sum((F.col("sim") / log2pos).cast(D15)).cast("double").alias("idcg")
    )
    return (
        idcg.join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.round(F.coalesce(F.col("dcg"), F.lit(0.0)), 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(
                F.coalesce(F.col("dcg"), F.lit(0.0)) / F.col("idcg"), 6
            ).alias("ndcg"),
        )
        .orderBy("query_id")
    )


@register(
    "q_weighted_kappa",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_ev,
             CAST(SUM(CAST(COALESCE(value, 0) AS DECIMAL(18,6)))
                  AS DOUBLE) AS sv
      FROM events GROUP BY 1
    ),
    rated AS MATERIALIZED (
      SELECT user_id,
             ntile(3) OVER (ORDER BY n_ev, user_id) - 1 AS r1,
             ntile(3) OVER (ORDER BY sv, user_id) - 1 AS r2
      FROM per_user
    ),
    obs AS MATERIALIZED (
      SELECT r1, r2, CAST(COUNT(*) AS BIGINT) AS o FROM rated GROUP BY 1, 2
    ),
    m1 AS (SELECT r1, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    m2 AS (SELECT r2, CAST(SUM(o) AS BIGINT) AS c FROM obs GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM obs),
    grid AS (
      SELECT a.r1, b.r2,
             CAST((a.r1 - b.r2) * (a.r1 - b.r2) AS DOUBLE) / 4.0 AS w,
             COALESCE(o.o, 0) AS o,
             CAST(a.c AS DOUBLE) * b.c / n.n AS e
      FROM m1 a CROSS JOIN m2 b
      LEFT JOIN obs o ON o.r1 = a.r1 AND o.r2 = b.r2
      CROSS JOIN n
    )
    SELECT MAX(n.n) AS n_users,
           round(CAST(SUM(CAST(w * o AS DECIMAL(38,15))) AS DOUBLE), 6)
             AS weighted_disagreement,
           round(CAST(SUM(CAST(w * e AS DECIMAL(38,15))) AS DOUBLE), 6)
             AS expected_disagreement,
           round(1.0 - CAST(SUM(CAST(w * o AS DECIMAL(38,15))) AS DOUBLE)
                       / CAST(SUM(CAST(w * e AS DECIMAL(38,15))) AS DOUBLE), 6)
             AS kappa_w
    FROM grid, n
    """,
)
def q_weighted_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quadratic-weighted Cohen's kappa between two ordinal "raters":
    activity terciles by event count vs by total value (ntile(3) with
    user_id tiebreaks). κ_w = 1 − Σw·O / Σw·E with quadratic
    disagreement weights w = ((i−j)/(k−1))², so adjacent-tercile misses
    cost ¼ of opposite-end misses — the ordinal-label agreement measure
    that plain kappa (q_cohen_kappa_heuristics) understates.

    Determinism: tercile boundaries are total-ordered ntiles; the 3×3
    observed/expected grids are exact counts; weighted sums ride
    DECIMAL(38,15).

    Scale: one per-user rollup, two ntile windows over it, a 9-cell
    grid — fact table touched once. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        bcount("n_ev"),
        F.sum(dec(F.coalesce(F.col("value"), F.lit(0)))).cast("double").alias("sv"),
    )
    rated = per_user.select(
        (F.ntile(3).over(Window.orderBy("n_ev", "user_id")) - 1).alias("r1"),
        (F.ntile(3).over(Window.orderBy("sv", "user_id")) - 1).alias("r2"),
    ).localCheckpoint(eager=True)
    obs = rated.groupBy("r1", "r2").agg(bcount("o"))
    m1 = obs.groupBy("r1").agg(F.sum("o").cast("bigint").alias("c1"))
    m2 = obs.groupBy("r2").agg(F.sum("o").cast("bigint").alias("c2"))
    n = obs.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        m1.crossJoin(F.broadcast(m2))
        .join(F.broadcast(obs), ["r1", "r2"], "left")
        .crossJoin(F.broadcast(n))
        .select(
            "r1",
            "r2",
            (
                ((F.col("r1") - F.col("r2")) * (F.col("r1") - F.col("r2"))).cast(
                    "double"
                )
                / 4.0
            ).alias("w"),
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("c1").cast("double") * F.col("c2") / F.col("n")).alias("e"),
            "n",
        )
    )
    wo = F.sum((F.col("w") * F.col("o")).cast(D15)).cast("double")
    we = F.sum((F.col("w") * F.col("e")).cast(D15)).cast("double")
    return grid.agg(
        F.max("n").alias("n_users"),
        F.round(wo, 6).alias("weighted_disagreement"),
        F.round(we, 6).alias("expected_disagreement"),
        F.round(F.lit(1.0) - wo / we, 6).alias("kappa_w"),
    )


@register(
    "q_rank_biased_precision",
    oracle=f"""
    WITH yb AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS yr, p.p_brand AS brand,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    ranked AS MATERIALIZED (
      SELECT yr, brand,
             CAST(row_number() OVER (PARTITION BY yr
               ORDER BY rev DESC, brand) AS BIGINT) AS pos
      FROM yb
    ),
    rel AS (
      SELECT yr + 1 AS yr, brand
      FROM ranked WHERE pos <= {_RBP_TOP}
    )
    SELECT r.yr,
           CAST(COUNT(*) FILTER (WHERE rl.brand IS NOT NULL AND
                                       r.pos <= {_RBP_TOP}) AS BIGINT)
             AS hits_in_top,
           round((1.0 - {_RBP_P}) * CAST(SUM(CAST(
             CASE WHEN rl.brand IS NOT NULL
                  THEN pow({_RBP_P}, r.pos - 1) ELSE 0.0 END
             AS DECIMAL(38,15))) AS DOUBLE), 6) AS rbp
    FROM ranked r
    LEFT JOIN rel rl ON rl.yr = r.yr AND rl.brand = r.brand
    WHERE r.yr IN (SELECT DISTINCT yr + 1 FROM ranked)
    GROUP BY r.yr
    ORDER BY r.yr
    """,
)
def q_rank_biased_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased precision of each year's brand-revenue ranking against
    last year's top-10 as the relevant set:
    RBP = (1−p)·Σ_d p^(d−1)·rel_d with persistence p = 0.5 (a power of
    two, so the geometric weights multiply exactly). The user-model
    alternative to NDCG's log discount — "a reader with 50% persistence
    sees this much of last year's winners" — and the metric twin of
    q_rbo_rank_overlap, which compares orderings without a relevance
    set.

    Determinism: rankings are total-ordered windows over exact decimal
    revenue; p^(d−1) is exact power-of-two scaling; the weighted sum
    rides DECIMAL(38,15).

    Scale: one star-join rollup to the year×brand grid; the rank join is
    grid-sized. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    yb = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy(
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.col("p_brand").alias("brand"),
        )
        .agg(F.sum(dec("l_extendedprice")).alias("rev"))
    )
    ranked = yb.select(
        "yr",
        "brand",
        F.row_number()
        .over(Window.partitionBy("yr").orderBy(F.desc("rev"), F.asc("brand")))
        .cast("bigint")
        .alias("pos"),
    ).localCheckpoint(eager=True)
    rel = ranked.filter(F.col("pos") <= _RBP_TOP).select(
        (F.col("yr") + 1).alias("ryr"), F.col("brand").alias("rbrand")
    )
    years_with_prior = ranked.select((F.col("yr") + 1).alias("vyr")).distinct()
    joined = (
        ranked.join(
            F.broadcast(rel),
            (F.col("ryr") == F.col("yr")) & (F.col("rbrand") == F.col("brand")),
            "left",
        )
        .join(F.broadcast(years_with_prior), F.col("vyr") == F.col("yr"))
    )
    weight = F.when(
        F.col("rbrand").isNotNull(), F.pow(F.lit(_RBP_P), F.col("pos") - 1)
    ).otherwise(F.lit(0.0))
    return (
        joined.groupBy("yr")
        .agg(
            F.sum(
                F.when(
                    F.col("rbrand").isNotNull() & (F.col("pos") <= _RBP_TOP), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("hits_in_top"),
            F.round(
                (1.0 - _RBP_P)
                * F.sum(weight.cast(D15)).cast("double"),
                6,
            ).alias("rbp"),
        )
        .orderBy("yr")
    )
