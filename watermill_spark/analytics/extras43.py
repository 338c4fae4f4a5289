"""Analytics batch 51: search-engine text statistics — BM25 corpus term
scoring, inverted-index posting statistics, per-token burstiness
(Church–Gale dispersion) — plus the STL seasonal-strength summary.

BM25's ln(idf) terms range over the bounded vocabulary grid (≤ |vocab|
terms), so libm wobble is absorbed by rounding (q_user_entropy argument);
everything upstream (tf, df, doc lengths) is exact integer counting.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register, spread
from .relations import STL_SEASONAL_SQL, stl_seasonal

_K1 = 1.2
_B = 0.75


@register(
    "q_bm25_top_terms",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dlen FROM toks GROUP BY 1
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dlen) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    dfreq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ),
    scored AS (
      SELECT tf.term,
             ln((CAST(s.n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)
             * (CAST(tf.tf AS DOUBLE) * ({_K1} + 1))
             / (CAST(tf.tf AS DOUBLE)
                + {_K1} * (1 - {_B} + {_B} * CAST(dl.dlen AS DOUBLE) / s.avgdl))
               AS sc
      FROM tf
      JOIN dl ON dl.doc_id = tf.doc_id
      JOIN dfreq ON dfreq.term = tf.term
      CROSS JOIN stats s
    ),
    agg AS (
      SELECT term,
             CAST(SUM(CAST(sc AS DECIMAL(24,12))) AS DOUBLE) AS total_bm25
      FROM scored GROUP BY 1
    )
    SELECT term, round(total_bm25, 4) AS total_bm25
    FROM agg ORDER BY total_bm25 DESC, term LIMIT 15
    """,
)
def q_bm25_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level BM25 term importance (k1=1.2, b=0.75): per-document
    BM25 contributions summed per term, top-15 — the ranking-function view
    of term weight that TF-IDF approximates (saturating tf, length
    normalization, rare-term idf).

    tf/df/doc-length are exact integers; each document's score is a
    fixed-shape double with one ln over the bounded vocab grid; the
    per-term sum routes through DECIMAL(24,12) so the ranking is
    partial-agg-order-proof (ties broken by term).

    Scale: two map-side-combined groupBys over the exploded token stream;
    the |docs| length join shuffles on doc_id and the |vocab| df join on
    term — both sides data-scaled, so neither carries a broadcast hint
    (AQE promotes them at small SFs; sort-merge is correct at corpus
    scale). §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    # ONE tokenize pass (r6): doc length == SUM(tf) per doc, so dl/stats/
    # dfreq all derive from the checkpointed posting list instead of
    # re-tokenizing the corpus per consumer (4 documents scans before)
    tf = toks.groupBy("doc_id", "term").agg(bcount("tf")).localCheckpoint(
        eager=True
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("bigint").alias("dlen"))
    stats = dl.agg(
        bcount("n_docs"),
        (F.sum("dlen").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    dfreq = tf.groupBy("term").agg(bcount("df"))
    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df") + 0.5)
        / (F.col("df") + 0.5)
        + 1.0
    )
    sc = (
        idf
        * (F.col("tf").cast("double") * (_K1 + 1))
        / (
            F.col("tf").cast("double")
            + _K1 * (1 - _B + _B * F.col("dlen").cast("double") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        # no hint on the |vocab|-sized df side: vocabulary is data-scaled
        # (Heaps' law — the r5-verdict token-class audit rule); AQE still
        # broadcasts it at every tested SF, and at 100 TB the term-keyed
        # sort-merge join is the correct plan
        .join(dfreq, "term")
        .crossJoin(F.broadcast(stats))
        .select("term", sc.alias("sc"))
    )
    return (
        scored.groupBy("term")
        .agg(
            F.sum(F.col("sc").cast("decimal(24,12)"))
            .cast("double")
            .alias("total_bm25")
        )
        .orderBy(F.desc("total_bm25"), "term")
        .limit(15)
        .select("term", F.round("total_bm25", 4).alias("total_bm25"))
    )


@register(
    "q_inverted_index_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    post AS (
      SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(tf) AS BIGINT) AS total_tf,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(MAX(doc_id) AS BIGINT) AS last_doc,
           round(CAST(SUM(tf) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS avg_tf_per_doc
    FROM post GROUP BY term
    """,
)
def q_inverted_index_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index posting-list statistics per term: document frequency,
    total term frequency, posting-list doc-id bounds, and mean within-doc
    tf — the metadata a search index stores next to each posting list (and
    the sizing input for index compression planning).

    Scale: the posting build is the canonical two-level groupBy over the
    exploded token stream (term,doc → term), both map-side combinable; at
    100 TB the posting lists themselves shard by term range — this query IS
    the per-term directory. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    post = toks.groupBy("term", "doc_id").agg(bcount("tf"))
    return post.groupBy("term").agg(
        bcount("df"),
        F.sum("tf").cast("bigint").alias("total_tf"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
        F.max("doc_id").cast("bigint").alias("last_doc"),
        F.round(
            F.sum("tf").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_tf_per_doc"),
    )


@register(
    "q_token_burstiness",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM toks),
    mom AS (
      SELECT term,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS sc2
      FROM tf GROUP BY 1
    )
    SELECT term, df, sc AS total_tf,
           round((CAST(sc2 AS DOUBLE) - CAST(sc AS DOUBLE)
                  * CAST(sc AS DOUBLE) / n)
                 / (n - 1)
                 / (CAST(sc AS DOUBLE) / n), 6) AS burstiness_vmr,
           round(CAST(sc AS DOUBLE) / df, 6) AS mean_tf_when_present
    FROM mom, nd
    WHERE df >= 5
    """,
)
def q_token_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (Church–Gale): variance-to-mean ratio of per-doc
    counts over ALL documents (absent = 0) per term, plus the mean count
    when present — separates topical "bursty" words (appear rarely but in
    clumps) from function words (spread evenly), a feature for keyword
    extraction and stopword induction.

    Zero-count docs enter the moments via N (corpus size) without
    materializing zeros: Σc and Σc² over present docs are exact BIGINTs and
    the absent docs contribute nothing to either.

    Scale: same two-level token groupBy as the index stats; the VMR is
    grid algebra. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    # single scan (r6): the tf grid and the doc count each re-scanned
    # documents and re-ran the tokenize explode (2 passes in the plan);
    # the (doc, term) grid materializes once (posting-list class) and a
    # doc appears in it iff it has ≥1 token, so the distinct-doc count
    # over the grid is the original count
    tf = toks.groupBy("doc_id", "term").agg(bcount("c")).localCheckpoint(
        eager=True
    )
    nd = tf.agg(F.countDistinct("doc_id").cast("bigint").alias("n"))
    mom = tf.groupBy("term").agg(
        bcount("df"),
        F.sum("c").cast("bigint").alias("sc"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("sc2"),
    )
    n = F.col("n")
    mean = F.col("sc").cast("double") / n
    var = (
        F.col("sc2").cast("double")
        - F.col("sc").cast("double") * F.col("sc").cast("double") / n
    ) / (n - 1)
    return (
        mom.crossJoin(F.broadcast(nd))
        .filter(F.col("df") >= 5)
        .select(
            "term",
            "df",
            F.col("sc").alias("total_tf"),
            F.round(var / mean, 6).alias("burstiness_vmr"),
            F.round(F.col("sc").cast("double") / F.col("df"), 6).alias(
                "mean_tf_when_present"
            ),
        )
    )


@register(
    "q_seasonal_strength",
    oracle=f"""
    WITH seas AS (
      SELECT detr, detr - seasonal AS rem FROM ({STL_SEASONAL_SQL})
    ),
    v AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(detr * detr AS DECIMAL(28,9))) AS DOUBLE) AS v_det,
             CAST(SUM(CAST(rem * rem AS DECIMAL(28,9))) AS DOUBLE) AS v_rem
      FROM seas
    )
    SELECT n,
           round(GREATEST(0.0, 1.0 - v_rem / v_det), 6) AS seasonal_strength
    FROM v
    """,
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL seasonal-strength summary F_s = max(0, 1 − Var(remainder) /
    Var(detrended)): how much of the detrended revenue variation the weekly
    shape explains — the single number (0..1) that decides whether weekly
    seasonality deserves a term in the forecast (companions: q_stl_lite,
    q_seasonality_index).

    Same decomposition machinery as q_stl_lite; the two variance sums route
    per-term through DECIMAL.

    Scale: daily-grid windows only. §2.B [NS].
    """
    seas = stl_seasonal(spark, sf_dir).select(
        "detr", (F.col("detr") - F.col("seasonal")).alias("rem")
    )
    v = seas.agg(
        bcount("n"),
        F.sum((F.col("detr") * F.col("detr")).cast("decimal(28,9)"))
        .cast("double")
        .alias("v_det"),
        F.sum((F.col("rem") * F.col("rem")).cast("decimal(28,9)"))
        .cast("double")
        .alias("v_rem"),
    )
    return v.select(
        "n",
        F.round(
            F.greatest(F.lit(0.0), F.lit(1.0) - F.col("v_rem") / F.col("v_det")),
            6,
        ).alias("seasonal_strength"),
    )
