"""Analytics batch 62: corpus-curation depth — Simpson lexical diversity
per document, a Heaps'-law vocabulary-growth fit over the corpus, and
retrieval MRR (mean reciprocal rank) for the embedding search stack.

Heaps' law (V ≈ K·Nᵝ) is the capacity-planning curve for any tokenizer /
vocabulary build at 100 TB: β says how fast the type inventory keeps
growing. The fit runs on exact integer cumulative counts sampled at
checkpoints, with per-term decimal-cast ln sums.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register, spread


@register(
    "q_doc_simpson_diversity",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
      FROM documents
    ),
    tc AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE t <> '' GROUP BY 1, 2
    ),
    per_doc AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             CAST(SUM(c * (c - 1)) AS BIGINT) AS rep_pairs
      FROM tc GROUP BY 1
    )
    SELECT doc_id, n_tokens, n_types,
           round(CAST(rep_pairs AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
             AS simpson_index,
           round(1.0 - CAST(rep_pairs AS DOUBLE)
                 / (CAST(n_tokens AS DOUBLE) * (n_tokens - 1)), 6)
             AS diversity
    FROM per_doc WHERE n_tokens > 1
    """,
)
def q_doc_simpson_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson lexical diversity per document: λ = Σc(c−1)/(N(N−1)) — the
    probability two random tokens are the same type — and 1−λ as the
    diversity score; the quadratic-moment companion to
    q_doc_bigram_entropy / q_repetition_ratio (low diversity ⇒ boilerplate
    or template spam worth dropping from a training corpus).

    Determinism: the index is a ratio of exact integer sums (Σc(c−1) and
    N(N−1)); no float accumulation exists.

    Scale: explode → per-(doc,token) count → per-doc moment rollup; both
    aggregations hash-partition on doc_id and combine map-side; the
    explode is the narrow CPU stage `spread` fans out. §2.B text surface
    [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    tc = tok.groupBy("doc_id", "t").agg(bcount("c"))
    per_doc = tc.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        bcount("n_types"),
        F.sum(F.col("c") * (F.col("c") - 1)).cast("bigint").alias("rep_pairs"),
    )
    lam = F.col("rep_pairs").cast("double") / (
        F.col("n_tokens").cast("double") * (F.col("n_tokens") - 1)
    )
    return per_doc.filter(F.col("n_tokens") > 1).select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(lam, 6).alias("simpson_index"),
        F.round(1.0 - lam, 6).alias("diversity"),
    )


_HEAPS_EVERY = 20  # sample the growth curve every 20 docs


@register(
    "q_heaps_law",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
      FROM documents
    ),
    clean AS (SELECT doc_id, t FROM tok WHERE t <> ''),
    first_seen AS (
      SELECT t, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM clean GROUP BY t
    ),
    per_doc AS (
      SELECT d.doc_id,
             CAST(COUNT(*) AS BIGINT) AS toks,
             CAST(COALESCE(MAX(nv.new_types), 0) AS BIGINT) AS new_types
      FROM clean d
      LEFT JOIN (SELECT first_doc, CAST(COUNT(*) AS BIGINT) AS new_types
                 FROM first_seen GROUP BY 1) nv
        ON nv.first_doc = d.doc_id
      GROUP BY d.doc_id
    ),
    growth AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY doc_id) AS BIGINT) AS rn,
             CAST(SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS cum_tokens,
             CAST(SUM(new_types) OVER (ORDER BY doc_id ROWS UNBOUNDED
                  PRECEDING) AS BIGINT) AS cum_types
      FROM per_doc
    ),
    pts AS (
      SELECT CAST(ln(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(18,12)) AS x,
             CAST(ln(CAST(cum_types AS DOUBLE)) AS DECIMAL(18,12)) AS y
      FROM growth WHERE rn % {_HEAPS_EVERY} = 0
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pts,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxy
      FROM pts
    )
    SELECT n_pts,
           round((n_pts * sxy - sx * sy) / (n_pts * sxx - sx * sx), 6) + 0.0
             AS heaps_beta,
           round(exp((sy - (n_pts * sxy - sx * sy) / (n_pts * sxx - sx * sx)
                      * sx) / n_pts), 4) AS heaps_k
    FROM fit
    """,
)
def q_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth: walk the corpus in doc_id
    order, sample (cumulative tokens, cumulative distinct types) every 20
    docs, and fit ln V = ln K + β·ln N — the sublinear vocabulary-growth
    exponent that sizes tokenizer vocabularies and dedup hash tables
    before a 100 TB crawl is processed (companion to q_doc_zipf, Heaps
    being Zipf's integral twin).

    Determinism: cumulative token/type counts are exact integers (types
    via first-seen doc attribution, not a running distinct); ln values are
    decimal-cast per point before the moment sums.

    Scale: first-seen = one groupBy(token) min; the only sequential stage
    is the calendar... corpus-order cumulative sum over the per-doc grid
    (one row per doc, a single-partition window at the very end — at
    petabyte scale this becomes a prefix-sum over partition subtotals).
    §2.B text surface [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    # checkpointed once (r6): the first-seen map and the per-doc counts
    # each re-scanned documents and re-ran the tokenize explode (2 passes
    # in the plan); the token stream materializes once (posting-list
    # class: state linear in corpus tokens — the shingle-containment
    # trade, and both group-bys shuffle this volume anyway)
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "").localCheckpoint(eager=True)
    first_seen = tok.groupBy("t").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    new_types = first_seen.groupBy("first_doc").agg(bcount("new_types"))
    per_doc = (
        tok.groupBy("doc_id")
        .agg(bcount("toks"))
        .join(
            F.broadcast(new_types.withColumnRenamed("first_doc", "doc_id")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "toks",
            F.coalesce(F.col("new_types"), F.lit(0)).cast("bigint").alias("new_types"),
        )
    )
    wcum = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    growth = per_doc.select(
        F.row_number().over(Window.orderBy("doc_id")).cast("bigint").alias("rn"),
        F.sum("toks").over(wcum).cast("bigint").alias("cum_tokens"),
        F.sum("new_types").over(wcum).cast("bigint").alias("cum_types"),
    )
    pts = growth.filter(F.col("rn") % _HEAPS_EVERY == 0).select(
        F.log(F.col("cum_tokens").cast("double")).cast("decimal(18,12)").alias("x"),
        F.log(F.col("cum_types").cast("double")).cast("decimal(18,12)").alias("y"),
    )
    fit = pts.agg(
        bcount("n_pts"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            (F.col("x").cast("double") * F.col("x").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxx"),
        F.sum(
            (F.col("x").cast("double") * F.col("y").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxy"),
    )
    beta = (F.col("n_pts") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n_pts") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        "n_pts",
        (F.round(beta, 6) + F.lit(0.0)).alias("heaps_beta"),
        F.round(
            F.exp((F.col("sy") - beta * F.col("sx")) / F.col("n_pts")), 4
        ).alias("heaps_k"),
    )


@register(
    "q_retrieval_mrr",
    oracle="""
    WITH nb AS (
      SELECT a.vec_id AS qid,
             CAST(a.label = b.label AS INTEGER) AS correct,
             ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY round(list_cosine_similarity(
                          CAST(a.embedding AS DOUBLE[]),
                          CAST(b.embedding AS DOUBLE[])), 6) DESC,
                        b.vec_id) AS rn
      FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id
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
def q_retrieval_mrr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval quality of the embedding search stack: leave-one-out MRR@10
    and precision@1 over the full corpus, where a "relevant" neighbor
    shares the query's label — the ranking-aware metric completing the
    eval set (q_ann_recall_eval grades the *approximation*,
    q_knn_classifier_eval grades *classification*; MRR grades the *ranked
    list* a user actually sees).

    Determinism: neighbor ranking rounds cosine to 6 before ordering with
    vec_id tiebreak (the established kNN idiom); reciprocal ranks are
    decimal-cast per query before the exact-sum mean.

    Scale: deliberately the all-pairs exact baseline (like
    q_knn_bruteforce); the registered production twin is
    `q_retrieval_mrr_ann` (extras175), which swaps the candidate
    generator for the LSH-bucket path and keeps this scoring tail
    unchanged. §2.B similarity surface [NS].
    """
    from .similarity import _dot

    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    ).withColumn("nrm", F.sqrt(_dot("e", "e")))
    a = emb.select(F.col("vec_id").alias("qid"), F.col("label").alias("la"),
                   F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = emb.select(F.col("vec_id").alias("nid"), F.col("label").alias("lb"),
                   F.col("e").alias("eb"), F.col("nrm").alias("nb"))

    nb = (
        a.join(F.broadcast(b), F.col("nid") != F.col("qid"))
        .select(
            "qid",
            (F.col("la") == F.col("lb")).cast("int").alias("correct"),
            # per-side norms precomputed before the all-pairs join (r6)
            F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 6).alias("sim"),
            "nid",
        )
        .select(
            "qid",
            "correct",
            F.row_number()
            .over(
                Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("nid"))
            )
            .alias("rn"),
        )
        .filter(F.col("rn") <= 10)
    )
    firsts = nb.groupBy("qid").agg(
        F.min(F.when(F.col("correct") == 1, F.col("rn")))
        .cast("bigint")
        .alias("first_hit")
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
