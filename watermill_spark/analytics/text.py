"""Text-analysis operators over the ``documents`` table.

Large-scale training-data pipeline surface: token counting, quality scoring,
language ID (stopword heuristic), document fingerprinting. All pure built-in
`pyspark.sql.functions` (JVM codegen, no Python in the hot path), each with a
DuckDB oracle.

Scale: every query is a narrow per-row map over documents + at most one
low-cardinality aggregation — embarrassingly parallel, no shuffles except
final group-bys on tiny keys. At 100 TB the only tuning is input split size
(`spark.sql.files.maxPartitionBytes`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register, spread

# Small English stopword list used by the language-ID heuristic. Must stay in
# sync with the SQL literal below.
EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")
_SQL_STOPLIST = "'" + "','".join(EN_STOPWORDS) + "'"


@register(
    "q_doc_token_counts",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
           CAST(n_chars AS BIGINT) AS n_chars_meta,
           CAST(length(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
)
def q_doc_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace split + BPE-ish regex token count.

    The regex `[a-z]+|[0-9]+` is deliberately RE2-compatible so Java regex
    (Spark) and RE2 (DuckDB) tokenize identically.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("bigint").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0)).cast("bigint").alias("re_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars_meta"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


@register(
    "q_doc_quality",
    oracle="""
    SELECT doc_id, lang, source,
           CAST(length(text) AS BIGINT) AS n_chars,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
           CAST(length(replace(text, ' ', '')) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
           CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS distinct_ratio,
           (length(text) BETWEEN 100 AND 2000
            AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.2) AS passes_quality
    FROM documents
    """,
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, word stats, distinct-token ratio, pass flag.

    Ratios are double divisions of exact integers — engine-independent.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    n_words = F.size(toks).cast("bigint")
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_words.cast("double")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.length("text").cast("bigint").alias("n_chars"),
        n_words.alias("n_words"),
        (F.length(F.regexp_replace("text", " ", "")).cast("double") / n_words.cast("double")).alias(
            "avg_word_len"
        ),
        distinct_ratio.alias("distinct_ratio"),
        (F.length("text").between(100, 2000) & (distinct_ratio > 0.2)).alias("passes_quality"),
    )


@register(
    "q_doc_langid",
    oracle=f"""
    SELECT doc_id, lang AS lang_meta,
           CAST(len(list_filter(string_split(text, ' '),
                                x -> x IN ({_SQL_STOPLIST}))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) AS en_stop_ratio,
           (CAST(len(list_filter(string_split(text, ' '),
                                 x -> x IN ({_SQL_STOPLIST}))) AS DOUBLE)
             / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.08) AS pred_en
    FROM documents
    """,
)
def q_doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language ID heuristic: fraction of tokens in an English stopword list.

    (n-gram LM scoring is the production variant; the stopword ratio is the
    SQL-expressible heuristic that exercises the same plumbing: tokenize →
    per-token membership → per-doc ratio → threshold.)
    """
    docs = spread(load(spark, sf_dir, "documents"))
    stoplist = ",".join(f"'{w}'" for w in EN_STOPWORDS)
    hits = F.expr(f"size(filter(split(text, ' '), x -> x IN ({stoplist})))")
    ratio = hits.cast("double") / F.size(F.split("text", " ")).cast("double")
    return docs.select(
        "doc_id",
        F.col("lang").alias("lang_meta"),
        ratio.alias("en_stop_ratio"),
        (ratio > 0.08).alias("pred_en"),
    )


@register(
    "q_doc_fingerprint",
    oracle="""
    SELECT fingerprint,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc
    FROM (SELECT doc_id,
                 md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
          FROM documents)
    GROUP BY fingerprint
    """,
)
def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of whitespace-normalized lowercase text,
    grouped to find exact-duplicate clusters with a canonical representative.

    Scale: fingerprint group-by is the exact-dedup shuffle — key is a 128-bit
    hash so distribution is uniform (no skew); partial agg collapses
    singletons map-side.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    fp = F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
    return (
        docs.select("doc_id", fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(bcount("n_docs"), F.min("doc_id").cast("bigint").alias("canonical_doc"))
    )
