"""Analytics batch 152: character-class corpus profile, HTML-markup
density screen, and URL extraction statistics.

Three corpus-hygiene operators a pretraining pipeline runs before any
modeling: the character-class profile catches encoding damage and
wrong-script contamination per language; the HTML screen finds
un-stripped markup that survived extraction; the URL profile shows
which domains dominate the corpus (dedup and license decisions both
start there). All three are narrow regex maps + one rollup — the same
no-UDF discipline as q_token_freq / q_pii_scan / q_readability_scores.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B scalar-function family + the LLM-pipeline text mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register


def _count(pat: str) -> F.Column:
    return F.size(F.regexp_extract_all("text", F.lit(pat), 0)).cast("bigint")


@register(
    "q_unicode_script_profile",
    oracle="""
    WITH per_doc AS (
      SELECT lang,
             CAST(length(text) AS BIGINT) AS n_chars,
             CAST(len(regexp_extract_all(text, '[a-zA-Z]')) AS BIGINT)
               AS n_latin,
             CAST(len(regexp_extract_all(text, '[0-9]')) AS BIGINT)
               AS n_digit,
             CAST(len(regexp_extract_all(text, '[ \\t\\n]')) AS BIGINT)
               AS n_space,
             CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 \\t\\n]'))
                  AS BIGINT) AS n_other
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars,
           round(CAST(SUM(n_latin) AS DOUBLE) / SUM(n_chars), 6)
             AS latin_share,
           round(CAST(SUM(n_digit) AS DOUBLE) / SUM(n_chars), 6)
             AS digit_share,
           round(CAST(SUM(n_space) AS DOUBLE) / SUM(n_chars), 6)
             AS space_share,
           round(CAST(SUM(n_other) AS DOUBLE) / SUM(n_chars), 6)
             AS other_share
    FROM per_doc GROUP BY 1 ORDER BY 1
    """,
)
def q_unicode_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class profile per language: shares of Latin letters,
    digits, whitespace, and everything else — the encoding-health
    screen that catches mojibake (other_share spikes), wrong-script
    contamination (latin_share collapses for a Latin-script language),
    and number-dump pages (digit_share spikes) before they poison a
    pretraining mix.

    Determinism: pure integer regex-match counts (simple character
    classes behave identically in Java regex and RE2) divided in
    double.

    Scale: one narrow regex map per class + one groupBy to the language
    grain — no shuffle of text, only counts; the per-class scans fuse
    into one codegen stage. §2.B scalar family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        _count("[a-zA-Z]").alias("n_latin"),
        _count("[0-9]").alias("n_digit"),
        _count("[ \\t\\n]").alias("n_space"),
        _count("[^a-zA-Z0-9 \\t\\n]").alias("n_other"),
    )
    tot = F.sum("n_chars")
    return (
        per_doc.groupBy("lang")
        .agg(
            bcount("n_docs"),
            F.sum("n_chars").cast("bigint").alias("n_chars"),
            F.round(F.sum("n_latin").cast("double") / tot, 6).alias(
                "latin_share"
            ),
            F.round(F.sum("n_digit").cast("double") / tot, 6).alias(
                "digit_share"
            ),
            F.round(F.sum("n_space").cast("double") / tot, 6).alias(
                "space_share"
            ),
            F.round(F.sum("n_other").cast("double") / tot, 6).alias(
                "other_share"
            ),
        )
        .orderBy("lang")
    )


@register(
    "q_html_tag_ratio",
    oracle="""
    WITH per_doc AS (
      SELECT source,
             CAST(len(regexp_extract_all(text, '<[a-zA-Z][^>]*>')) AS BIGINT)
               AS n_tags,
             CAST(len(regexp_extract_all(text, '&[a-z]+;')) AS BIGINT)
               AS n_entities,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_tags > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_docs_with_tags,
           round(CAST(SUM(CASE WHEN n_tags > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS tagged_doc_share,
           CAST(SUM(n_tags) AS BIGINT) AS n_tags,
           CAST(SUM(n_entities) AS BIGINT) AS n_entities,
           round(CAST(SUM(n_tags) AS DOUBLE) * 1000.0 / SUM(n_chars), 6)
             AS tags_per_kchar
    FROM per_doc GROUP BY 1 ORDER BY 1
    """,
)
def q_html_tag_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML-markup density per source: documents still containing
    tag-like tokens (<tag ...>) or HTML entities (&amp;-style) after
    extraction, and the tag density per thousand characters — the
    screen that tells you which ingestion source needs its HTML
    stripper fixed (un-stripped markup both wastes tokens and leaks
    boilerplate into the model).

    Determinism: integer regex-match counts (simple classes, no
    backtracking constructs) divided in double.

    Scale: narrow regex maps + one groupBy to the source grain; counts
    shuffle, text never does. §2.B scalar family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        _count("<[a-zA-Z][^>]*>").alias("n_tags"),
        _count("&[a-z]+;").alias("n_entities"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    tagged = F.sum(F.when(F.col("n_tags") > 0, 1).otherwise(0))
    return (
        per_doc.groupBy("source")
        .agg(
            bcount("n_docs"),
            tagged.cast("bigint").alias("n_docs_with_tags"),
            F.round(tagged.cast("double") / F.count(F.lit(1)), 6).alias(
                "tagged_doc_share"
            ),
            F.sum("n_tags").cast("bigint").alias("n_tags"),
            F.sum("n_entities").cast("bigint").alias("n_entities"),
            F.round(
                F.sum("n_tags").cast("double") * 1000.0 / F.sum("n_chars"), 6
            ).alias("tags_per_kchar"),
        )
        .orderBy("source")
    )


@register(
    "q_url_extraction_stats",
    oracle="""
    WITH urls AS (
      SELECT doc_id,
             regexp_extract(u, 'https?://([^/ ]+)', 1) AS host
      FROM documents,
           UNNEST(regexp_extract_all(text, 'https?://[^ \\t\\n]+')) AS t(u)
    ),
    hosts AS (
      SELECT host,
             CAST(COUNT(*) AS BIGINT) AS n_urls,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM urls WHERE host <> '' GROUP BY 1
    )
    SELECT host, n_urls, n_docs
    FROM hosts
    ORDER BY n_urls DESC, host
    LIMIT 15
    """,
)
def q_url_extraction_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction profile: every https?:// link in the corpus,
    reduced to its host, top 15 hosts by link count with document
    reach — the first artifact read when deciding crawl dedup rules,
    per-domain caps, and license review order for a pretraining mix.

    Determinism: integer counts; ordering ties break on the host
    string (binary collation both engines); the URL regex uses only
    literal prefixes and negated character classes (identical in Java
    regex and RE2).

    Scale: one regex explode to the URL grain + groupBy to the host
    dimension (Heaps-sublinear); top-15 is a sort-limit. §2.B scalar
    family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all("text", F.lit("https?://[^ \\t\\n]+"), 0)
        ).alias("u"),
    ).select(
        "doc_id",
        F.regexp_extract("u", "https?://([^/ ]+)", 1).alias("host"),
    )
    hosts = (
        urls.filter(F.col("host") != "")
        .groupBy("host")
        .agg(bcount("n_urls"), F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    )
    return hosts.orderBy(F.col("n_urls").desc(), "host").limit(15)
