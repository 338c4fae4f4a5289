"""Analytics batch 183: registered production twins for the three
scale-quarantined graders (r4 verdict item 2).

Each quarantined grader is correct by design but quadratic by ground
truth on this corpus; its docstring names the production path. This
module REGISTERS those paths, each with a DuckDB oracle, mirroring the
`q_hard_negative_mining` → `q_hard_negative_mining_ann` precedent
(extras161): a user reaching for MRR / tfidf-pair / kNN-eval now gets
a scale-shaped operator by default, and the all-pairs originals remain
as recall oracles.

- q_retrieval_mrr_ann: leave-one-out MRR@10 / precision@1 where the
  candidate set is the query's hyperplane-LSH bucket (the
  q_ann_lsh_hyperplane generator) instead of the full corpus; the
  ranking/scoring tail is byte-identical to q_retrieval_mrr.
- q_knn_classifier_eval_sampled: the kNN confusion matrix evaluated on
  a deterministic tiered md5 sample of query vectors, with neighbors
  drawn from the query's LSH bucket — the docstring-promised
  "hash-sampled query subset with LSH candidate pruning".
- q_tfidf_cosine_pairs_capped: the sparse TF-IDF cosine join with the
  df-cap stopword guard (tokens present in >90% of docs are dropped
  before pair generation), run over the diagnostic doc sample.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B similarity/dedup mandates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .dedup import (
    _SQL_SDOCS,
    diagnostic_doc_sample,
    tiered_sample_pred,
    tiered_sample_sql,
)
from .det import bcount
from .extras66 import _TFIDF_MIN_SIM
from .registry import load, register, spread
from .similarity import _SQL_BUCKET, _dot, lsh_bucket

# ---------------------------------------------------------------------------
# Shared ANN-candidate machinery
# ---------------------------------------------------------------------------


def _bucket_topk_candidates(k: int):
    """Per-LSH-bucket directed top-k candidate pruner (Arrow applyInPandas).

    Input rows: (vec_id long, emb array<double>, is_q boolean). For every
    query row (is_q) the pruner emits its same-bucket candidates whose raw
    cosine is within 2e-6 of the query's k-th best — a guaranteed superset
    of the true top-k under the engines' (round(cos,6) DESC, vec_id)
    ordering: rounding is monotone, so the k-th largest ROUNDED sim equals
    round(k-th largest raw sim), and every rounded tie sits within 5e-7 of
    it. numpy only ever PRUNES; the published similarity is re-computed by
    the exact JVM fold in the settle stage (the q_hard_negative_mining_ann
    two-stage shape, extras161.py — the fix for the sf5 mega-bucket stall,
    where tight angular clusters leave ~1/3 of the corpus in one bucket
    and interpreted per-pair JVM dots take 10+ minutes in a single task).

    Cost: one chunked BLAS block-matmul per bucket (~10^9 flops/s/core vs
    ~10^5 interpreted pairs/s); output is O(k) per query regardless of
    bucket size, so the settle join stays linear in the query count.
    """

    def fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame({"qid": [], "nid": []}).astype("int64")
        n = len(pdf)
        if n < 2:
            return empty
        is_q = pdf["is_q"].to_numpy(dtype=bool)
        if not is_q.any():
            return empty
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        embs = np.array(pdf["emb"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(embs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = embs / norms[:, None]
        q_rows = np.nonzero(is_q)[0]
        margin = 2e-6
        out_q: list = []
        out_n: list = []
        chunk = 1024
        for s in range(0, len(q_rows), chunk):
            rows = q_rows[s : s + chunk]
            sims = unit[rows] @ unit.T  # (|rows|, n)
            # mask self-pairs (same positional row)
            sims[np.arange(len(rows)), rows] = -np.inf
            if n - 1 > k:
                thr = np.partition(sims, -k, axis=1)[:, -k] - margin
                sel = sims >= thr[:, None]
            else:
                sel = np.isfinite(sims)
            bi, bj = np.nonzero(sel)
            out_q.append(ids[rows[bi]])
            out_n.append(ids[bj])
        if not out_q:
            return empty
        return pd.DataFrame(
            {"qid": np.concatenate(out_q), "nid": np.concatenate(out_n)}
        )

    return fn


def _ann_neighbors(
    spark: SparkSession, sf_dir: str, k: int, sampled: bool = False
) -> DataFrame:
    """Exact top-k same-LSH-bucket neighbors per query vector.

    Returns (qid, true_label, nb_label, nid, rn<=k) with the rank computed
    by the exact JVM round(cosine,6) DESC, nid ordering — the settle stage
    over the numpy-pruned superset. With ``sampled=True`` only the tiered
    md5 sample of vec_ids act as queries (all vectors remain candidates);
    the sample flag is stamped via a 1-row corpus-count broadcast — the
    diagnostic-sample BNLJ shape the plan audit whitelists.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    sig = emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.col("label").cast("bigint").alias("label"),
    ).withColumn("bucket", lsh_bucket(F.col("emb")))
    if sampled:
        tot = emb.agg(F.count(F.lit(1)).alias("_n_vecs"))
        sig = (
            sig.crossJoin(F.broadcast(tot))
            .withColumn(
                "is_q", _vec_sample_pred(F.col("_n_vecs"), F.col("vec_id"))
            )
            .drop("_n_vecs")
        )
    else:
        sig = sig.withColumn("is_q", F.lit(True))
    # checkpointed once (r6): the bucket fan-out and both settle-join
    # sides each re-scanned embeddings and re-stamped the LSH bucket
    # (6 embeddings scans in the plan); the signature table materializes
    # once and all three consumers read it
    sig = sig.localCheckpoint(eager=True)
    cand = (
        sig.select("bucket", "vec_id", "emb", "is_q")
        .groupBy("bucket")
        .applyInPandas(_bucket_topk_candidates(k), "qid long, nid long")
    )
    a_side = sig.select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("emb_a"),
        F.col("label").alias("true_label"),
    ).withColumn("n_a", F.sqrt(_dot("emb_a", "emb_a")))
    b_side = sig.select(
        F.col("vec_id").alias("nid"),
        F.col("emb").alias("emb_b"),
        F.col("label").alias("nb_label"),
    ).withColumn("n_b", F.sqrt(_dot("emb_b", "emb_b")))
    w = Window.partitionBy("qid").orderBy(F.desc("sim"), F.asc("nid"))
    return (
        cand.join(a_side, "qid")
        .join(b_side, "nid")
        .select(
            "qid",
            "true_label",
            "nb_label",
            "nid",
            # per-side norms precomputed before the candidate join (r6)
            F.round(_dot("emb_a", "emb_b") / (F.col("n_a") * F.col("n_b")), 6).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


# ---------------------------------------------------------------------------
# q_retrieval_mrr_ann
# ---------------------------------------------------------------------------


@register(
    "q_retrieval_mrr_ann",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
             {_SQL_BUCKET} AS bucket
      FROM embeddings
    ),
    nb AS (
      SELECT a.vec_id AS qid,
             CAST(a.label = b.label AS INTEGER) AS correct,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.emb, b.emb), 6) DESC,
                        b.vec_id) AS rn
      FROM sig a JOIN sig b
        ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
    ),
    topk AS (SELECT qid, correct, rn FROM nb WHERE rn <= 10),
    firsts AS (
      SELECT qid, CAST(MIN(CASE WHEN correct = 1 THEN rn END) AS BIGINT)
               AS first_hit
      FROM topk GROUP BY qid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(COUNT(first_hit) AS BIGINT) AS n_with_hit,
           round(CAST(SUM(CASE WHEN first_hit IS NOT NULL
                          THEN CAST(1.0 / first_hit AS DECIMAL(18,12))
                          ELSE CAST(0 AS DECIMAL(18,12)) END) AS DOUBLE)
                 / COUNT(*), 6) AS mrr_at_10,
           round(CAST(COUNT(CASE WHEN first_hit = 1 THEN 1 END) AS DOUBLE)
                 / COUNT(*), 6) AS precision_at_1
    FROM firsts
    """,
)
def q_retrieval_mrr_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production MRR: `q_retrieval_mrr`'s ranking metric with the
    candidate generator swapped for the hyperplane-LSH bucket
    (`q_ann_lsh_hyperplane`'s signature) — each query is scored only
    against its same-bucket neighbors, so the corpus is never
    all-pairs-expanded. The scoring tail (round-6 cosine, vec_id
    tiebreak, reciprocal-rank decimal sum) is unchanged from the
    quarantined exact baseline, which remains the recall oracle.

    Semantics note: `n_queries` counts queries with ≥1 same-bucket
    neighbor (a singleton-bucket vector has no candidate list to rank);
    the oracle's bucket join drops the same rows, so both engines agree.

    Determinism: identical to q_retrieval_mrr; the numpy prune emits a
    margin-guarded superset and the JVM settle decides every published
    value (see _bucket_topk_candidates).

    Scale: signature stamp is a narrow JVM map; candidates are one
    applyInPandas per bucket with O(10) output per query (BLAS block
    matmul inside — the mega-bucket fix); the settle join + per-query
    top-10 is linear in |queries|. §2.B similarity mandate [NS].
    """
    nb = _ann_neighbors(spark, sf_dir, k=10)
    firsts = (
        nb.select(
            "qid",
            (F.col("true_label") == F.col("nb_label")).cast("int").alias(
                "correct"
            ),
            "rn",
        )
        .groupBy("qid")
        .agg(
            F.min(F.when(F.col("correct") == 1, F.col("rn")))
            .cast("bigint")
            .alias("first_hit")
        )
    )
    return firsts.agg(
        bcount("n_queries"),
        F.count("first_hit").cast("bigint").alias("n_with_hit"),
        F.round(
            F.sum(
                F.when(
                    F.col("first_hit").isNotNull(),
                    (F.lit(1.0) / F.col("first_hit")).cast("decimal(18,12)"),
                ).otherwise(F.lit(0).cast("decimal(18,12)"))
            ).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mrr_at_10"),
        F.round(
            F.count(F.when(F.col("first_hit") == 1, 1)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("precision_at_1"),
    )


# ---------------------------------------------------------------------------
# q_knn_classifier_eval_sampled
# ---------------------------------------------------------------------------

# Tiered md5 sample over vec_id — the diagnostic_doc_sample ladder applied
# to the embeddings table. BOTH sides come from the shared generators in
# dedup.py (tiered_sample_sql / tiered_sample_pred), so neither the cap
# nor the tier structure can diverge between surfaces or engines.
_SQL_VEC_SAMPLE = tiered_sample_sql("embeddings", "a.vec_id")
_vec_sample_pred = tiered_sample_pred


@register(
    "q_knn_classifier_eval_sampled",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb,
             {_SQL_BUCKET} AS bucket
      FROM embeddings
    ),
    nb AS (
      SELECT a.vec_id AS qid, a.label AS true_label, b.label AS nb_label,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(a.emb, b.emb), 6) DESC,
                        b.vec_id) AS rn
      FROM sig a JOIN sig b
        ON b.bucket = a.bucket AND b.vec_id <> a.vec_id
      WHERE {_SQL_VEC_SAMPLE}
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
def q_knn_classifier_eval_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production kNN eval: `q_knn_classifier_eval`'s leave-one-out
    confusion matrix evaluated on the deterministic tiered md5 sample
    of query vectors (the diagnostic_doc_sample idiom on vec_id: full
    corpus up to DIAG_SAMPLE_CAP, then 1/16, 1/256, 1/4096 md5 slices),
    with neighbors drawn from the query's hyperplane-LSH
    bucket — exactly the "hash-sampled query subset with the LSH/IVF
    candidate pruning supplying neighbors" path the quarantined
    original's docstring promises. At every tested SF ≤ 0.1 the sample
    is the full corpus, so the only semantic delta vs the original is
    the bucket-restricted neighbor set (and, like q_retrieval_mrr_ann,
    singleton-bucket queries drop out — mirrored in the oracle).

    Determinism: identical ordering/vote tiebreaks to the original;
    numpy prunes with a margin superset, the JVM settle decides.

    Scale: sample keeps |queries| bounded however far the corpus
    grows; per-bucket BLAS prune emits O(5) candidates per query; one
    settle join + two small groupBys. §2.B [NS].
    """
    nb = _ann_neighbors(spark, sf_dir, k=5, sampled=True)
    votes = nb.groupBy("qid", "true_label", "nb_label").agg(bcount("v"))
    wp = Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("nb_label"))
    predicted = votes.withColumn("pr", F.row_number().over(wp)).filter(
        F.col("pr") == 1
    )
    return predicted.groupBy(
        F.col("true_label").cast("bigint").alias("true_label"),
        F.col("nb_label").cast("bigint").alias("pred_label"),
    ).agg(bcount("n"))


# ---------------------------------------------------------------------------
# q_tfidf_cosine_pairs_capped
# ---------------------------------------------------------------------------

# Stopword guard: a token present in more than 9/10 of the corpus carries
# no discriminative weight and dominates Σ df² — production drops it before
# pair generation. Exact integer arithmetic (dfc*10 <= n*9) so both engines
# agree without float thresholds.
_DF_CAP_NUM, _DF_CAP_DEN = 9, 10


@register(
    "q_tfidf_cosine_pairs_capped",
    oracle=_SQL_SDOCS
    + f"""
    tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
      FROM sdocs
    ),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE t <> '' GROUP BY 1, 2
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    df AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY t
    ),
    kept AS (
      SELECT df.t, df.dfc FROM df CROSS JOIN nd
      WHERE df.dfc * {_DF_CAP_DEN} <= nd.n * {_DF_CAP_NUM}
    ),
    w AS (
      SELECT tf.doc_id, tf.t,
             CAST(tf.c AS DOUBLE)
             * (CAST(nd.n + 1 AS DOUBLE) / (kept.dfc + 1)) AS wt
      FROM tf JOIN kept USING (t) CROSS JOIN nd
    ),
    norms AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(wt * wt AS DECIMAL(28,6))) AS DOUBLE))
               AS nrm
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(SUM(CAST(a.wt * b.wt AS DECIMAL(28,6))) AS DOUBLE) AS dp
      FROM w a JOIN w b ON b.t = a.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT d.d1, d.d2,
             round(d.dp / (n1.nrm * n2.nrm), 6) AS sim
      FROM dots d
      JOIN norms n1 ON n1.doc_id = d.d1
      JOIN norms n2 ON n2.doc_id = d.d2
    )
    SELECT d1, d2, sim FROM sims
    WHERE sim >= {_TFIDF_MIN_SIM}
    ORDER BY sim DESC, d1, d2
    LIMIT 20
    """,
)
def q_tfidf_cosine_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production TF-IDF cosine join: `q_tfidf_cosine_pairs` with the
    df-cap stopword guard its docstring promises — tokens present in
    more than 9/10 of documents are dropped BEFORE pair generation
    (exact integer threshold, dfc·10 ≤ n·9), over the deterministic
    diagnostic doc sample. Weights and norms are computed over the
    surviving vocabulary only, so dropping a stopword changes the
    geometry the way a real retrieval stack's stopword list does.

    Honest scale note for THIS corpus: the synthetic documents table
    has a ~31-token vocabulary with no Zipf tail, so at tested SFs no
    token crosses the 90% line and the cap never binds — the diagnostic
    sample provides the bound here. On a real Zipfian corpus the cap is
    the dominant lever: pair cost Σ_t df_t² collapses once the head
    tokens (df ~ N) are gone, and the residual join cost is
    cap-bounded: Σ df² ≤ max_df · Σ df = max_df · |postings|, linear in
    the corpus for a fixed cap fraction only when the tail is sparse —
    which is exactly what stopword removal produces.

    Determinism: integer-rational weights, DECIMAL(28,6) per-term
    sums, top-20 with full pair tiebreak — identical to the original.

    Scale: token-partitioned inverted-index join (documents never
    cross-join), one 1-row corpus-count broadcast for the cap and the
    idf, sample keeps this corpus's saturated token distribution
    bounded. §2.B dedup surface [NS].
    """
    docs = diagnostic_doc_sample(spread(load(spark, sf_dir, "documents")))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    tf = tok.groupBy("doc_id", "t").agg(bcount("c"))
    nd = tf.agg(F.count_distinct("doc_id").cast("bigint").alias("n"))
    df_t = tf.groupBy("t").agg(bcount("dfc"))
    kept = (
        df_t.crossJoin(F.broadcast(nd))
        .filter(F.col("dfc") * _DF_CAP_DEN <= F.col("n") * _DF_CAP_NUM)
        .select("t", "dfc")
    )
    # Materialize the capped postings table once: it is consumed by norms
    # and BOTH sides of the pair join, and every re-derivation would
    # re-run the sample-count broadcast chain (24 plan-level 1-row BNLJs
    # without this). The checkpoint is the diagnostic-sample artifact —
    # bounded by the sample cap regardless of corpus size — so
    # compute-once is the correct 100-TB plan, not a local shortcut.
    w = (
        tf.join(kept, "t")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "t",
            (
                F.col("c").cast("double")
                * ((F.col("n") + 1).cast("double") / (F.col("dfc") + 1))
            ).alias("wt"),
        )
        .localCheckpoint(eager=True)
    )
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("wt") * F.col("wt")).cast("decimal(28,6)")).cast(
                "double"
            )
        ).alias("nrm")
    )
    wa, wb = w.alias("wa"), w.alias("wb")
    dots = (
        wa.join(
            wb,
            (F.col("wb.t") == F.col("wa.t"))
            & (F.col("wa.doc_id") < F.col("wb.doc_id")),
        )
        .groupBy(F.col("wa.doc_id").alias("d1"), F.col("wb.doc_id").alias("d2"))
        .agg(
            F.sum((F.col("wa.wt") * F.col("wb.wt")).cast("decimal(28,6)"))
            .cast("double")
            .alias("dp")
        )
    )
    n1 = norms.select(F.col("doc_id").alias("d1"), F.col("nrm").alias("nrm1"))
    n2 = norms.select(F.col("doc_id").alias("d2"), F.col("nrm").alias("nrm2"))
    sims = (
        dots.join(F.broadcast(n1), "d1")
        .join(F.broadcast(n2), "d2")
        .select(
            "d1",
            "d2",
            F.round(F.col("dp") / (F.col("nrm1") * F.col("nrm2")), 6).alias(
                "sim"
            ),
        )
    )
    return (
        sims.filter(F.col("sim") >= _TFIDF_MIN_SIM)
        .orderBy(F.col("sim").desc(), "d1", "d2")
        .limit(20)
    )
