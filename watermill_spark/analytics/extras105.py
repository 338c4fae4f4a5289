"""Analytics batch 113: LLM-corpus curation operators — SemDeDup-style
centroid pruning, temperature-scaled data-mixture allocation, and a
Gopher/C4-style quality-rule report.

SemDeDup (Abbas et al. 2023) removes semantic duplicates *within* embedding
clusters: cheap bucketing first, exact cosine against a per-cluster
representative second — the scalable twin of all-pairs embedding dedup.
Temperature-scaled mixing (the multilingual-LM sampling rule p_s ∝ c_s^τ)
turns raw per-source token counts into the sampling budget each source gets
in a pretraining mix, allocated to integers by largest remainder. The rule
report applies the standard heuristic quality gates (word-count bounds,
mean word length, stopword presence, single-token repetition) per source —
the first pass every web-scale corpus goes through before training.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register, spread
from .similarity import _SQL_BUCKET, lsh_bucket

_SEM_THRESH = 0.5
_MIX_BUDGET = 1_000_000  # token budget to allocate across sources
_MIX_TAU = 0.5  # temperature: p_s ∝ tokens^τ


@register(
    "q_semdedup_centroid",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding, {_SQL_BUCKET} AS bucket FROM embeddings
    ),
    rep AS (
      SELECT bucket, MIN(vec_id) AS rep_id FROM sig GROUP BY 1
    ),
    scored AS (
      SELECT m.bucket, m.vec_id,
             round(list_cosine_similarity(
               CAST(m.embedding AS DOUBLE[]),
               CAST(r2.embedding AS DOUBLE[])), 6) AS sim
      FROM sig m
      JOIN rep r ON r.bucket = m.bucket AND m.vec_id <> r.rep_id
      JOIN sig r2 ON r2.vec_id = r.rep_id
    )
    SELECT s.bucket,
           CAST(COUNT(*) + 1 AS BIGINT) AS n_members,
           CAST(COUNT(*) FILTER (WHERE sim >= {_SEM_THRESH}) AS BIGINT)
             AS n_pruned,
           CAST(COUNT(*) + 1
                - COUNT(*) FILTER (WHERE sim >= {_SEM_THRESH}) AS BIGINT)
             AS n_kept,
           round(MAX(sim), 6) AS max_sim_to_rep
    FROM scored s
    GROUP BY 1
    ORDER BY bucket
    """,
)
def q_semdedup_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic pruning: vectors are bucketed by the
    deterministic hyperplane signature (the k-means-cell stand-in —
    see q_ann_lsh_hyperplane), each bucket elects the min-id member as its
    representative, and every other member is exact-cosine-scored against
    the representative; members with sim ≥ 0.5 are pruned as semantic
    duplicates. Per bucket: member/pruned/kept counts and the tightest
    duplicate's similarity. Singleton buckets never reach the scorer (they
    have nothing to prune) and are excluded from the report.

    Determinism: buckets are sign-bit-rounded integers; cosine scores are
    sequential-fold dots rounded to 6dp; the representative is a MIN over
    ids.

    Scale: this is the production shape for embedding dedup at 100 TB —
    candidate scoring is member→representative within a bucket (LINEAR in
    corpus size), never all-pairs; one groupBy for representatives, one
    equi-join on bucket, one rollup. §2.B [NS] / LLM-pipeline surface.
    """
    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    from .similarity import _dot

    sig = emb.withColumn("bucket", lsh_bucket(F.col("emb"))).withColumn(
        "nrm", F.sqrt(_dot("emb", "emb"))
    )
    # checkpointed once (r6): the representative pick, its vector lookup,
    # and the scoring join each re-scanned embeddings and re-ran the LSH
    # bucketing (3 scans in the plan); the signature table materializes
    # once
    sig = sig.localCheckpoint(eager=True)
    rep = sig.groupBy("bucket").agg(F.min("vec_id").alias("rep_id"))
    rep_vec = rep.join(
        sig.select(
            F.col("vec_id").alias("rep_id"),
            F.col("emb").alias("rep_emb"),
            F.col("nrm").alias("rep_n"),
        ),
        "rep_id",
    )
    scored = (
        sig.join(F.broadcast(rep_vec), "bucket")
        .filter(F.col("vec_id") != F.col("rep_id"))
        .select(
            "bucket",
            "vec_id",
            # per-side norms precomputed before the bucket join (r6)
            F.round(_dot("emb", "rep_emb") / (F.col("nrm") * F.col("rep_n")), 6).alias("sim"),
        )
    )
    pruned = F.sum(F.when(F.col("sim") >= _SEM_THRESH, 1).otherwise(0)).cast(
        "bigint"
    )
    return (
        scored.groupBy("bucket")
        .agg(
            (F.count(F.lit(1)) + 1).cast("bigint").alias("n_members"),
            pruned.alias("n_pruned"),
            (F.count(F.lit(1)) + 1 - pruned).cast("bigint").alias("n_kept"),
            F.round(F.max("sim"), 6).alias("max_sim_to_rep"),
        )
        .orderBy("bucket")
    )


@register(
    "q_data_mixture_allocation",
    oracle=f"""
    WITH toks AS (
      SELECT source,
             CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS tokens
      FROM documents GROUP BY 1
    ),
    shares AS (
      SELECT source, tokens,
             CAST(tokens AS DOUBLE)
               / (SELECT SUM(CAST(tokens AS DOUBLE)) FROM toks) AS raw_share,
             sqrt(CAST(tokens AS DOUBLE))
               / (SELECT CAST(SUM(CAST(sqrt(CAST(tokens AS DOUBLE))
                                       AS DECIMAL(38,15))) AS DOUBLE)
                  FROM toks) AS temp_share
      FROM toks
    ),
    quota AS (
      SELECT source, tokens, raw_share, temp_share,
             floor(temp_share * {_MIX_BUDGET}) AS base,
             temp_share * {_MIX_BUDGET} - floor(temp_share * {_MIX_BUDGET})
               AS rem
      FROM shares
    ),
    ranked AS (
      SELECT *,
             row_number() OVER (ORDER BY rem DESC, source) AS rr,
             {_MIX_BUDGET} - SUM(base) OVER () AS leftover
      FROM quota
    )
    SELECT source, tokens,
           round(raw_share, 6) AS raw_share,
           round(temp_share, 6) AS temp_share,
           CAST(base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END AS BIGINT)
             AS alloc_tokens,
           round((base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END)
                 / CAST(tokens AS DOUBLE), 6) AS epochs
    FROM ranked
    ORDER BY source
    """,
)
def q_data_mixture_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining data-mixture allocator: per-source whitespace-token
    counts → temperature-scaled target shares p_s ∝ tokens^τ (τ=0.5, the
    standard up-weight-the-tail multilingual sampling rule) → an integer
    token budget of 1M allocated by largest remainder (exact to the
    budget), plus the implied epochs (oversampling factor) per source.
    The output is the sampling plan a training-data pipeline executes.

    Determinism: token counts are exact integers; the √-share denominator
    accumulates per-source terms through DECIMAL(38,15); floor/remainder
    ranking breaks ties on source name.

    Scale: one tokenize-count rollup (map-side combine) to ≤|sources|
    rows; everything after is constant-size window math. §2.B [NS] /
    LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("bigint"))
        .cast("bigint")
        .alias("tokens")
    )
    wall = Window.partitionBy()
    tot_raw = F.sum(F.col("tokens").cast("double")).over(wall)
    tot_sqrt = (
        F.sum(F.sqrt(F.col("tokens").cast("double")).cast(D15))
        .over(wall)
        .cast("double")
    )
    shares = toks.select(
        "source",
        "tokens",
        (F.col("tokens").cast("double") / tot_raw).alias("raw_share"),
        (F.sqrt(F.col("tokens").cast("double")) / tot_sqrt).alias("temp_share"),
    )
    quota = shares.select(
        "*",
        F.floor(F.col("temp_share") * _MIX_BUDGET).alias("base"),
        (
            F.col("temp_share") * _MIX_BUDGET
            - F.floor(F.col("temp_share") * _MIX_BUDGET)
        ).alias("rem"),
    )
    ranked = quota.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rem"), F.asc("source")))
        .alias("rr"),
        (F.lit(_MIX_BUDGET) - F.sum("base").over(wall)).alias("leftover"),
    )
    alloc = F.col("base") + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
    return ranked.select(
        "source",
        "tokens",
        F.round("raw_share", 6).alias("raw_share"),
        F.round("temp_share", 6).alias("temp_share"),
        alloc.cast("bigint").alias("alloc_tokens"),
        F.round(alloc / F.col("tokens").cast("double"), 6).alias("epochs"),
    ).orderBy("source")


@register(
    "q_gopher_quality_rules",
    oracle="""
    WITH pertok AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tokstats AS (
      SELECT doc_id, source,
             CAST(COUNT(*) AS BIGINT) AS n_words,
             CAST(SUM(CAST(len(tok) AS BIGINT)) AS BIGINT) AS n_chars_tok,
             CAST(SUM(CASE WHEN tok IN ('the', 'a') THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_stop,
             CAST(MAX(cnt) AS BIGINT) AS top_tok
      FROM (
        SELECT doc_id, source, tok, COUNT(*) OVER (
          PARTITION BY doc_id, tok) AS cnt
        FROM pertok
      ) GROUP BY 1, 2
    ),
    flags AS (
      SELECT source,
             CASE WHEN n_words BETWEEN 10 AND 1000 THEN 0 ELSE 1 END AS f_wc,
             CASE WHEN CAST(n_chars_tok AS DOUBLE) / n_words
                       BETWEEN 2 AND 10 THEN 0 ELSE 1 END AS f_mwl,
             CASE WHEN n_stop >= 1 THEN 0 ELSE 1 END AS f_stop,
             CASE WHEN CAST(top_tok AS DOUBLE) / n_words <= 0.125
                  THEN 0 ELSE 1 END AS f_rep
      FROM tokstats
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(f_wc) AS BIGINT) AS fail_word_count,
           CAST(SUM(f_mwl) AS BIGINT) AS fail_mean_word_len,
           CAST(SUM(f_stop) AS BIGINT) AS fail_stopword,
           CAST(SUM(f_rep) AS BIGINT) AS fail_repetition,
           CAST(SUM(CASE WHEN f_wc + f_mwl + f_stop + f_rep = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS pass_all
    FROM flags GROUP BY 1 ORDER BY source
    """,
)
def q_gopher_quality_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style heuristic quality gates per source: word-count
    bounds (10..1000), mean word length in [2,10], stopword presence
    ('the'/'a' — the Gopher "must contain common words" rule), and the
    repetition gate (most frequent token ≤ 12.5% of the doc). Reports
    per-source failure counts and the pass-all survivor count — the
    filter-funnel summary a corpus-curation run logs before dedup
    (complements q_doc_quality's per-doc scores and q_corpus_curation's
    end-to-end funnel).

    Determinism: every statistic is an exact integer count; ratios divide
    in double against integer bounds.

    Scale: one explode + (doc, token) count (the same shuffle shape as
    q_token_freq), one per-doc rollup, one per-source rollup — all
    map-side combinable; no UDFs. §2.B [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    pertok = docs.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    percnt = pertok.groupBy("doc_id", "source", "tok").agg(bcount("cnt"))
    tokstats = percnt.groupBy("doc_id", "source").agg(
        F.sum("cnt").cast("bigint").alias("n_words"),
        F.sum(F.length("tok").cast("bigint") * F.col("cnt"))
        .cast("bigint")
        .alias("n_chars_tok"),
        F.sum(F.when(F.col("tok").isin("the", "a"), F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_stop"),
        F.max("cnt").cast("bigint").alias("top_tok"),
    )
    f_wc = F.when(F.col("n_words").between(10, 1000), 0).otherwise(1)
    f_mwl = F.when(
        (F.col("n_chars_tok").cast("double") / F.col("n_words")).between(2, 10), 0
    ).otherwise(1)
    f_stop = F.when(F.col("n_stop") >= 1, 0).otherwise(1)
    f_rep = F.when(
        F.col("top_tok").cast("double") / F.col("n_words") <= 0.125, 0
    ).otherwise(1)
    flags = tokstats.select(
        "source",
        f_wc.alias("f_wc"),
        f_mwl.alias("f_mwl"),
        f_stop.alias("f_stop"),
        f_rep.alias("f_rep"),
    )
    return (
        flags.groupBy("source")
        .agg(
            bcount("n_docs"),
            F.sum("f_wc").cast("bigint").alias("fail_word_count"),
            F.sum("f_mwl").cast("bigint").alias("fail_mean_word_len"),
            F.sum("f_stop").cast("bigint").alias("fail_stopword"),
            F.sum("f_rep").cast("bigint").alias("fail_repetition"),
            F.sum(
                F.when(
                    F.col("f_wc") + F.col("f_mwl") + F.col("f_stop") + F.col("f_rep")
                    == 0,
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("pass_all"),
        )
        .orderBy("source")
    )
