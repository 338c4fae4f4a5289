"""Analytics batch 54: kNN leave-one-out classifier evaluation over the
embedding corpus, and the experiment sample-ratio-mismatch (SRM) guard for
the hash-based A/B split.

The kNN eval reuses the brute-force cosine machinery (rounded sims +
vec_id tiebreaks make neighbor sets identical across engines); majority
voting breaks ties by smallest label, so predictions are deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register, spread
from .similarity import _dot


@register(
    "q_knn_classifier_eval",
    oracle="""
    WITH nb AS (
      SELECT a.vec_id AS qid, a.label AS true_label, b.label AS nb_label,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(
                          CAST(a.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[])), 6) DESC,
                        b.vec_id) AS rn
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
    ),
    votes AS (
      SELECT qid, true_label, nb_label,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM nb WHERE rn <= 5 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT qid, true_label, nb_label AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY v DESC, nb_label) AS pr
      FROM votes
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE pr = 1
    GROUP BY 1, 2
    """,
)
def q_knn_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-nearest-neighbor classifier (k=5, cosine) evaluated leave-one-out
    on the labeled embedding corpus: every vector is classified by majority
    vote of its 5 nearest other vectors, reported as a confusion matrix —
    the "are these embeddings locally label-consistent" eval that
    complements the centroid classifier (q_nearest_centroid_confusion
    tests global separability; kNN tests local).

    Neighbor sets are deterministic (sim rounded to 6 with vec_id
    tiebreak); majority votes break ties by smallest label.

    Scale: deliberately the O(n²) exact evaluator — the registered
    production twin is `q_knn_classifier_eval_sampled` (extras175): the
    same eval on a hash-sampled query subset with LSH candidate pruning
    supplying neighbors (q_ann_recall_eval measures what that pruning
    costs). §2.B [NS].
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    a = emb.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("embedding").cast("array<double>").alias("qa"),
    )
    b = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nb_label"),
        F.col("embedding").cast("array<double>").alias("qb"),
    ).withColumn("b_n", F.sqrt(_dot("qb", "qb")))
    a = a.withColumn("a_n", F.sqrt(_dot("qa", "qa")))
    # per-side norms precomputed before the O(n^2) pair join (similarity.py r6)
    sim = F.round(_dot("qa", "qb") / (F.col("a_n") * F.col("b_n")), 6)
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    nb = (
        a.join(F.broadcast(b), F.col("nid") != F.col("qid"))
        .select("qid", "true_label", "nb_label", sim.alias("sim"), "nid")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
    )
    votes = nb.groupBy("qid", "true_label", "nb_label").agg(bcount("v"))
    wp = Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("nb_label"))
    pred = votes.withColumn("pr", F.row_number().over(wp)).filter(
        F.col("pr") == 1
    )
    return pred.groupBy(
        F.col("true_label").cast("bigint").alias("true_label"),
        F.col("nb_label").cast("bigint").alias("pred_label"),
    ).agg(bcount("n"))


@register(
    "q_ab_srm_check",
    oracle=f"""
    WITH assign AS (
      SELECT CASE WHEN {sql_hexval("substr(md5('ab1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
                  % 2 = 0
                  THEN 'A' ELSE 'B' END AS arm
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    c AS (
      SELECT CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n_b
      FROM assign
    )
    SELECT n_a, n_b,
           round((CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 / (CAST(n_a + n_b AS DOUBLE) / 2)
                 + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
                 / (CAST(n_a + n_b AS DOUBLE) / 2), 6) AS srm_chi2,
           (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
           * (CAST(n_a AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
           / (CAST(n_a + n_b AS DOUBLE) / 2)
           + (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
           * (CAST(n_b AS DOUBLE) - CAST(n_a + n_b AS DOUBLE) / 2)
           / (CAST(n_a + n_b AS DOUBLE) / 2) > 3.841459 AS srm_flag
    FROM c
    """,
)
def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for the deterministic A/B hash split: χ²
    goodness-of-fit of observed arm sizes against the intended 50/50, with
    the α=0.05 flag (χ²₁ > 3.841) — the first thing to check before
    reading any experiment metric (a failed SRM invalidates the readout;
    companions: q_ab_hash_split, q_power_mde, q_ab_conversion_lift).

    Integer arm counts, one fixed-shape χ² expression, literal critical
    value shared by both engines.

    Scale: one distinct + map-side expression. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm_hash = hexval(
        F.substring(F.md5(F.concat(F.lit("ab1:"), F.col("user_id").cast("string"))), 1, 1)
    )
    assign = ev.select("user_id").distinct().select(
        F.when(arm_hash % 2 == 0, F.lit("A")).otherwise(F.lit("B")).alias("arm")
    )
    c = assign.agg(
        F.count_if(F.col("arm") == "A").cast("bigint").alias("n_a"),
        F.count_if(F.col("arm") == "B").cast("bigint").alias("n_b"),
    )
    half = (F.col("n_a") + F.col("n_b")).cast("double") / 2
    chi2 = (F.col("n_a").cast("double") - half) * (
        F.col("n_a").cast("double") - half
    ) / half + (F.col("n_b").cast("double") - half) * (
        F.col("n_b").cast("double") - half
    ) / half
    return c.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("srm_chi2"),
        (chi2 > F.lit(3.841459)).alias("srm_flag"),
    )
