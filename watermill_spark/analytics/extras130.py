"""Analytics batch 138: LLM training-data curation — DSIR hashed-n-gram
importance weights, CCNet-style per-language perplexity bucketing, and a
code-vs-prose detection heuristic.

The data-selection shelf: DSIR (Xie et al. 2023, "Data Selection for
Language Models via Importance Resampling") scores raw documents by how
target-like their hashed unigram profile is; CCNet (Wenzek et al. 2020)
buckets each language's documents into head/middle/tail by LM score so a
pipeline can keep the head and drop the tail; the code detector routes
code-looking documents to a separate pipeline branch (symbol density +
keyword hits), the cheap first-stage classifier before an expensive
model-based one.

All three are pure built-in column expressions + joins over the
``documents`` table — no Python in the hot path; the hashed-bucket and
log-probability models are tiny broadcast tables. §2.B [NS] /
LLM-pipeline surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, sql_hexval
from .registry import load, register, spread


@register(
    "q_dsir_importance_weights",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, u.tok
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
           LATERAL (SELECT unnest(ts) AS tok) u
    ),
    bucketed AS MATERIALIZED (
      SELECT doc_id, lang,
             {sql_hexval("substr(md5(tok), 1, 1)")} * 16
             + {sql_hexval("substr(md5(tok), 2, 1)")} AS b
      FROM toks
    ),
    target AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS ct
      FROM bucketed WHERE lang = 'en' GROUP BY 1
    ),
    raw AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS cr
      FROM bucketed GROUP BY 1
    ),
    totals AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS t FROM target
    ),
    totalr AS (
      SELECT CAST(SUM(cr) AS BIGINT) AS r FROM raw
    ),
    lr AS (
      SELECT r.b,
             ln((COALESCE(t.ct, 0) + 0.5) / ((SELECT t FROM totals) + 128.0))
             - ln((r.cr + 0.5) / ((SELECT r FROM totalr) + 128.0)) AS lr
      FROM raw r LEFT JOIN target t ON t.b = r.b
    ),
    per_doc AS (
      SELECT d.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(l.lr AS DECIMAL(38,15))) AS DOUBLE) AS w
      FROM bucketed d JOIN lr l ON l.b = d.b
      GROUP BY 1
    )
    SELECT doc_id, n_tokens, round(w, 6) AS importance_weight
    FROM per_doc
    ORDER BY w DESC, doc_id LIMIT 20
    """,
)
def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights: score every document by
    w(d) = Σ_tokens [ln p_target(bucket) − ln p_raw(bucket)] over 256
    hashed unigram buckets (md5 first byte), target = the English slice,
    raw = the whole corpus, add-0.5 smoothing. Top-20 most target-like
    documents — the resampling key for selecting pretraining data that
    matches a target domain without training a classifier.

    Determinism: the md5 bucket is the portable hex idiom; bucket counts
    are exact integers; each token's log-ratio is a fixed-shape double
    cast DECIMAL(38,15) per-term before the per-doc sum; top-k is
    tiebroken by doc_id.

    Scale: tokenize once (narrow map), two map-side-combinable bucket
    groupBys build a 256-row model that broadcasts to one scoring pass;
    global top-k via TakeOrdered. At 100 TB raise buckets to 2^20
    (md5 first 5 hex chars) — the model stays broadcastable. LLM-pipeline
    surface, SCALE.md §"Dedup / similarity".
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    )
    # checkpointed once (r6): target/raw model builds and the scoring
    # pass each re-ran the tokenize+md5 map over the corpus (3 passes);
    # the hashed stream is narrow (two ids + one int) and read 3 times
    bucketed = toks.select(
        "doc_id",
        "lang",
        F.conv(F.substring(F.md5("tok"), 1, 2), 16, 10).cast("int").alias("b"),
    ).localCheckpoint(eager=True)
    target = bucketed.filter(F.col("lang") == "en").groupBy("b").agg(bcount("ct"))
    raw = bucketed.groupBy("b").agg(bcount("cr"))
    t_tot = target.agg(F.sum("ct").cast("bigint").alias("t"))
    r_tot = raw.agg(F.sum("cr").cast("bigint").alias("r"))
    lr = (
        raw.join(F.broadcast(target), "b", "left")
        .crossJoin(F.broadcast(t_tot))
        .crossJoin(F.broadcast(r_tot))
        .select(
            "b",
            (
                F.log(
                    (F.coalesce(F.col("ct"), F.lit(0)) + 0.5)
                    / (F.col("t") + 128.0)
                )
                - F.log((F.col("cr") + 0.5) / (F.col("r") + 128.0))
            ).alias("lr"),
        )
    )
    per_doc = (
        bucketed.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            bcount("n_tokens"),
            F.sum(F.col("lr").cast(D15)).cast("double").alias("w"),
        )
    )
    return (
        per_doc.orderBy(F.desc("w"), F.asc("doc_id"))
        .limit(20)
        .select("doc_id", "n_tokens", F.round("w", 6).alias("importance_weight"))
    )


@register(
    "q_ccnet_perplexity_buckets",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang, u.tok
      FROM (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
           LATERAL (SELECT unnest(ts) AS tok) u
    ),
    model AS MATERIALIZED (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    tot AS (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM model GROUP BY 1
    ),
    scored AS (
      SELECT t.doc_id, t.lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(ln(CAST(tt.n AS DOUBLE)) - ln(CAST(m.c AS DOUBLE))
                           AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS ce
      FROM toks t
      JOIN model m ON m.lang = t.lang AND m.tok = t.tok
      JOIN tot tt ON tt.lang = t.lang
      GROUP BY 1, 2
    ),
    bucketed AS (
      SELECT lang, ce,
             NTILE(3) OVER (PARTITION BY lang ORDER BY ce, doc_id) AS tercile
      FROM scored
    )
    SELECT lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                ELSE 'tail' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CAST(ce AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cross_entropy
    FROM bucketed GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail bucketing: per language, score every
    document by its mean unigram cross-entropy under that language's own
    corpus LM (ce = mean ln N_lang − ln c(tok); no OOV since the model is
    trained on the scored corpus), then cut each language into terciles —
    head (most fluent) / middle / tail (drop candidates). Reports docs and
    mean score per (lang, bucket) — the keep/drop dashboard of the CCNet
    pipeline stage.

    Determinism: counts exact; each token's ln-difference is cast
    DECIMAL(38,15) per-term; terciles use NTILE over the total order
    (ce, doc_id).

    Scale: the (lang, token) model shuffles map-side-combined; scoring is
    one hash join; NTILE partitions by lang (bounded fan-in per language
    at the document grain — repartition by lang range at 100 TB). §2.B
    [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("tok")
    ).localCheckpoint(eager=True)
    model = toks.groupBy("lang", "tok").agg(bcount("c"))
    tot = model.groupBy("lang").agg(F.sum("c").cast("bigint").alias("n"))
    lp = F.log(F.col("n").cast("double")) - F.log(F.col("c").cast("double"))
    scored = (
        toks.join(model, ["lang", "tok"])
        .join(F.broadcast(tot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            bcount("n_tokens"),
            (F.sum(lp.cast(D15)).cast("double") / F.count(F.lit(1))).alias("ce"),
        )
    )
    bucketed = scored.select(
        "lang",
        "ce",
        F.ntile(3)
        .over(Window.partitionBy("lang").orderBy("ce", "doc_id"))
        .alias("tercile"),
    )
    return (
        bucketed.groupBy(
            "lang",
            F.when(F.col("tercile") == 1, "head")
            .when(F.col("tercile") == 2, "middle")
            .otherwise("tail")
            .alias("bucket"),
        )
        .agg(
            bcount("n_docs"),
            F.round(
                F.sum(F.col("ce").cast(D15)).cast("double") / F.count(F.lit(1)), 6
            ).alias("mean_cross_entropy"),
        )
        .orderBy("lang", "bucket")
    )


@register(
    "q_code_detection_score",
    oracle="""
    WITH scored AS (
      SELECT source,
             CAST(length(text) - length(regexp_replace(text,
                  '[{};=()<>]', '', 'g')) AS DOUBLE)
               / CAST(length(text) AS DOUBLE) AS sym_ratio,
             (CASE WHEN text LIKE '%def %' THEN 1 ELSE 0 END
              + CASE WHEN text LIKE '%return%' THEN 1 ELSE 0 END
              + CASE WHEN text LIKE '%import %' THEN 1 ELSE 0 END
              + CASE WHEN text LIKE '%function%' THEN 1 ELSE 0 END
              + CASE WHEN text LIKE '%class %' THEN 1 ELSE 0 END
              + CASE WHEN text LIKE '%const %' THEN 1 ELSE 0 END) AS kw_hits
      FROM documents WHERE length(text) > 0
    ),
    final AS (
      SELECT source, sym_ratio, kw_hits,
             20.0 * sym_ratio + CAST(kw_hits AS DOUBLE) AS score
      FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN score >= 3.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_code_like,
           round(CAST(SUM(CAST(score AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_score,
           round(CAST(SUM(CAST(sym_ratio AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_sym_ratio
    FROM final GROUP BY 1
    ORDER BY 1
    """,
)
def q_code_detection_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose detection heuristic: per document, the density of
    code-typical symbols ({};=()<>) plus hits on six code keywords
    (def/return/import/function/class/const), combined into
    score = 20·sym_ratio + kw_hits and thresholded at 3.0. Reports per
    source: document count, code-like count, mean score, mean symbol
    density — the cheap first-stage router that sends code-looking
    documents to a separate pipeline branch before any model-based
    classifier runs.

    Determinism: symbol counting is length-difference after a
    global regexp_replace (same character class both engines); ratios and
    scores are fixed-shape doubles cast DECIMAL(38,15) per-term before
    group means.

    Scale: narrow per-row map + one low-cardinality groupBy — no
    shuffles beyond the ≤|sources| aggregation. LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents")).filter(F.length("text") > 0)
    sym_ratio = (
        (
            F.length("text")
            - F.length(F.regexp_replace("text", "[{};=()<>]", ""))
        ).cast("double")
        / F.length("text").cast("double")
    )
    kw_hits = sum(
        F.when(F.col("text").contains(kw), 1).otherwise(0)
        for kw in ("def ", "return", "import ", "function", "class ", "const ")
    )
    scored = docs.select(
        "source",
        sym_ratio.alias("sym_ratio"),
        kw_hits.alias("kw_hits"),
    ).withColumn("score", 20.0 * F.col("sym_ratio") + F.col("kw_hits").cast("double"))
    return (
        scored.groupBy("source")
        .agg(
            bcount("n_docs"),
            F.sum(F.when(F.col("score") >= 3.0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_code_like"),
            F.round(
                F.sum(F.col("score").cast(D15)).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_score"),
            F.round(
                F.sum(F.col("sym_ratio").cast(D15)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_sym_ratio"),
        )
        .orderBy("source")
    )
