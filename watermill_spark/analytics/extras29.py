"""Analytics batch 37: similarity-search evaluation — recall@k of the
hyperplane-LSH ANN against the brute-force ground truth (the ANN twin of
q_lsh_precision_recall), and a per-label embedding drift monitor
(centroid shift between ingest batches).

Both queries *compose registered queries/helpers* rather than re-deriving
them — they grade the production code paths from similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry import load, register, spread
from .similarity import K, N_QUERIES, _SQL_BUCKET, _SQL_COSINE
from .similarity import q_ann_lsh_hyperplane, q_knn_bruteforce


@register(
    "q_ann_recall_eval",
    oracle=f"""
    WITH truth AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY round({_SQL_COSINE}, 6) DESC,
                                           c.vec_id) AS rn
        FROM (SELECT * FROM embeddings WHERE vec_id < {N_QUERIES}) q
        CROSS JOIN embeddings c
        WHERE c.vec_id <> q.vec_id)
      WHERE rn <= {K}
    ),
    sig AS (
      SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings
    ),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY round({_SQL_COSINE}, 6) DESC,
                                           c.vec_id) AS rn
        FROM (SELECT * FROM sig WHERE vec_id < {N_QUERIES}) q
        JOIN sig c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id)
      WHERE rn <= {K}
    ),
    m AS (
      SELECT (SELECT COUNT(DISTINCT query_id) FROM truth) AS n_queries,
             (SELECT COUNT(*) FROM truth) AS n_truth,
             (SELECT COUNT(*) FROM approx) AS n_approx,
             (SELECT COUNT(*) FROM approx a
              JOIN truth t ON t.query_id = a.query_id
                          AND t.neighbor_id = a.neighbor_id) AS hits
    )
    SELECT CAST(n_queries AS BIGINT) AS n_queries,
           CAST(n_truth AS BIGINT) AS n_truth_pairs,
           CAST(n_approx AS BIGINT) AS n_ann_pairs,
           CAST(hits AS BIGINT) AS hits,
           round(CAST(hits AS DOUBLE) / n_truth, 6) AS recall_at_k
    FROM m
    """,
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the hyperplane-LSH ANN against brute-force cosine ground
    truth — composed directly from the two registered queries
    (q_ann_lsh_hyperplane, q_knn_bruteforce), so the number grades the
    production signature/banding code, not a reimplementation. The
    similarity-search twin of q_lsh_precision_recall.

    Scale: truth is the deliberate quadratic baseline — at 100 TB the
    evaluation runs on a hash-sampled query subset while the ANN side is
    production-shaped; recall estimates only need the sample. All overlap
    metrics are integer counts; one double division. §2.B [NS].
    """
    truth = q_knn_bruteforce(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_ann_lsh_hyperplane(spark, sf_dir).select("query_id", "neighbor_id")
    n_queries = truth.select("query_id").distinct().count()
    n_truth = truth.count()
    n_approx = approx.count()
    hits = approx.join(truth, ["query_id", "neighbor_id"]).count()
    return spark.range(1).select(
        F.lit(n_queries).cast("bigint").alias("n_queries"),
        F.lit(n_truth).cast("bigint").alias("n_truth_pairs"),
        F.lit(n_approx).cast("bigint").alias("n_ann_pairs"),
        F.lit(hits).cast("bigint").alias("hits"),
        F.round(F.lit(hits).cast("double") / F.lit(n_truth), 6).alias(
            "recall_at_k"
        ),
    )


@register(
    "q_embedding_drift",
    oracle="""
    WITH u AS (
      SELECT label, vec_id % 2 AS batch,
             generate_subscripts(embedding, 1) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ),
    cm AS (
      SELECT label, batch, dim,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c,
             COUNT(*) AS n
      FROM u GROUP BY 1, 2, 3
    ),
    p AS (
      SELECT a.label, a.dim,
             a.c AS ca, b.c AS cb, MAX(a.n) OVER (PARTITION BY a.label) AS na,
             MAX(b.n) OVER (PARTITION BY b.label) AS nb
      FROM cm a JOIN cm b
        ON a.label = b.label AND a.dim = b.dim
       AND a.batch = 0 AND b.batch = 1
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(MAX(na) AS BIGINT) AS n_batch_a,
           CAST(MAX(nb) AS BIGINT) AS n_batch_b,
           round(sqrt(CAST(SUM(CAST((ca - cb) * (ca - cb) AS DECIMAL(18,12)))
                           AS DOUBLE)), 6) AS centroid_l2_shift
    FROM p GROUP BY 1
    """,
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding drift monitor: split the corpus into two pseudo-batches
    (vec_id parity — the deterministic stand-in for ingest time), compute
    per-label centroids in each, and report the L2 shift between them —
    the regression check that a re-embedded or newly ingested batch hasn't
    moved a label's manifold.

    Per-dim centroid means are exact decimal; the 64-term squared-diff sum
    re-casts each term to DECIMAL(18,12) so addition order is irrelevant.

    Scale: everything after the one posexplode pass lives on the
    |labels|×dims×2 grid; batch assignment is a map-side expression (in
    production: a date or ingest-id column). §2.B [NS].
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    u = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("batch"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "x"),
    )
    cm = u.groupBy("label", "batch", (F.col("dim0") + 1).alias("dim")).agg(
        (
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("c"),
        F.count(F.lit(1)).alias("n"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): both batch slices re-derived the rollup
    # (2 embeddings scans+explodes in the plan); the ≤|labels|×2×64 grid
    # materializes once
    a = cm.filter(F.col("batch") == 0).select(
        "label", "dim", F.col("c").alias("ca"), F.col("n").alias("na")
    )
    b = cm.filter(F.col("batch") == 1).select(
        "label", "dim", F.col("c").alias("cb"), F.col("n").alias("nb")
    )
    p = a.join(b, ["label", "dim"])
    diff2 = ((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))).cast(
        "decimal(18,12)"
    )
    return p.groupBy("label").agg(
        F.max("na").cast("bigint").alias("n_batch_a"),
        F.max("nb").cast("bigint").alias("n_batch_b"),
        F.round(F.sqrt(F.sum(diff2).cast("double")), 6).alias(
            "centroid_l2_shift"
        ),
    ).select(
        F.col("label").cast("bigint").alias("label"),
        "n_batch_a",
        "n_batch_b",
        "centroid_l2_shift",
    )
