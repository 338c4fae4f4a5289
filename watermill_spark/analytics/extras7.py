"""Analytics batch 10: corpus-curation operators (training-data pipeline).

- denylist scrubbing: regex token redaction with per-doc hit accounting
- repetition ratio: Gopher-style most-frequent-trigram coverage signal
- per-label embedding centroids: the k-means/IVF building block

Determinism per :mod:`watermill_spark.analytics.det` — redaction is pure
string rewriting; repetition ratios are int/int single divisions; centroid
sums go through decimal so accumulation order can't matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dsum
from .registry import load, register, spread
from .text import _SQL_STOPLIST

# Word-boundary denylist (RE2-compatible: identical semantics in Java regex).
_DENY = r"\b(customer|key|hash)\b"


@register(
    "q_denylist_scrub",
    oracle=f"""
    SELECT doc_id,
           regexp_replace(text, '{_DENY}', '<REDACTED>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(text, '{_DENY}')) AS BIGINT) AS n_hits,
           CAST(length(text) AS BIGINT) AS len_before,
           CAST(length(regexp_replace(text, '{_DENY}', '<REDACTED>', 'g'))
                AS BIGINT) AS len_after
    FROM documents
    """,
)
def q_denylist_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Denylist scrubbing (PII/contamination removal shape): redact matches,
    account hits and size delta per document.

    Scale: pure per-row string ops — map-side only, zero shuffles, fully
    codegen'd; the same plan shape serves real PII patterns (emails, phones)
    by swapping the regex. Spark's regexp_replace is global by default ==
    DuckDB's 'g' flag.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    scrubbed = F.regexp_replace("text", _DENY, "<REDACTED>")
    return docs.select(
        "doc_id",
        scrubbed.alias("scrubbed"),
        F.size(F.regexp_extract_all("text", F.lit(_DENY), 0)).cast("bigint").alias("n_hits"),
        F.length("text").cast("bigint").alias("len_before"),
        F.length(scrubbed).cast("bigint").alias("len_after"),
    )


@register(
    "q_repetition_ratio",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    grams AS (
      SELECT doc_id, len(t) - 2 AS n_grams,
             unnest(list_transform(generate_series(1, len(t) - 2),
                                   i -> array_to_string(t[i:i+2], ' '))) AS g
      FROM toks WHERE len(t) >= 3
    ),
    counted AS (
      SELECT doc_id, n_grams, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3
    )
    SELECT doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(MAX(c) AS BIGINT) AS top_gram_n,
           CAST(MAX(c) AS DOUBLE) / CAST(n_grams AS DOUBLE) AS rep_ratio,
           CAST(MAX(c) AS DOUBLE) / CAST(n_grams AS DOUBLE) > 0.05 AS repetitive
    FROM counted GROUP BY doc_id, n_grams
    """,
)
def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition signal (Gopher/C4-style quality filter): share of a doc's
    trigrams claimed by its single most frequent trigram.

    Scale: trigram explode → per-(doc, gram) count → per-doc max. The group
    key (doc_id, gram) partial-aggregates before its shuffle, and the per-doc
    max reuses the same doc_id partitioning — skew-free because no gram
    crosses documents.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t")).filter(F.size("t") >= 3)
    grams = toks.select(
        "doc_id",
        (F.size("t") - 2).alias("n_grams"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 2),
                lambda i: F.concat_ws(" ", F.slice("t", i, F.lit(3))),
            )
        ).alias("g"),
    )
    counted = grams.groupBy("doc_id", "n_grams", "g").agg(F.count(F.lit(1)).alias("c"))
    ratio = F.max("c").cast("double") / F.col("n_grams").cast("double")
    return counted.groupBy("doc_id", "n_grams").agg(
        F.max("c").cast("bigint").alias("top_gram_n"),
        ratio.alias("rep_ratio"),
        (ratio > 0.05).alias("repetitive"),
    ).select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        "top_gram_n",
        "rep_ratio",
        "repetitive",
    )


@register(
    "q_label_centroids",
    oracle="""
    WITH u AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    )
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS centroid
    FROM u GROUP BY 1, 2
    """,
)
def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label, per-dimension embedding centroids — the building block of
    k-means/IVF coarse quantizers (q_knn_ivf computes these inline; here they
    are a first-class, oracle-checked surface).

    Sums go through DECIMAL(18,9) so the partial-aggregation order of a
    1000-executor run produces bit-identical centroids to a single-threaded
    one. posexplode is 0-based → +1 to match SQL's generate_subscripts.
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    u = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "x")
    )
    return u.groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim")).agg(
        bcount("n"),
        (F.sum(F.col("x").cast("decimal(18,9)")).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "centroid"
        ),
    )


@register(
    "q_events_session_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                  WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM sess GROUP BY user_id, sid
    """,
)
def q_events_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's native `session_window` (batch form; the
    same expression is the streaming operator with a watermark).

    Unlike the two-window lag/running-sum formulation (q_events_sessionize),
    this is a single merging hash aggregation — no ordinal session ids, so
    sessions are keyed by (start, end). Merge rule: an event extends a
    session iff ts < last_ts + gap, i.e. a new session starts at
    ts - prev >= 30 min — the oracle spells exactly that. The ts tiebreak
    inside the oracle's lag window uses event_id, but equal-ts events always
    land in the same session either way.
    """
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            bcount("n_events"),
            dsum("value", "session_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "session_value")
    )


@register(
    "q_corpus_curation",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, text,
             length(text) BETWEEN 100 AND 2000
               AND CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.2 AS q_ok,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ({{stoplist}}))) AS DOUBLE)
               / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.08 AS lang_ok
      FROM documents
    ),
    passed AS (
      SELECT doc_id, source, text,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp
      FROM scored WHERE q_ok AND lang_ok
    ),
    kept AS (
      SELECT *, row_number() OVER (PARTITION BY fp ORDER BY doc_id) AS rn
      FROM passed
    )
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_total,
           CAST(COUNT(*) FILTER (WHERE s.q_ok) AS BIGINT) AS n_quality,
           CAST(COUNT(*) FILTER (WHERE s.q_ok AND s.lang_ok) AS BIGINT) AS n_lang,
           CAST((SELECT COUNT(*) FROM kept k
                 WHERE k.rn = 1 AND k.source = s.source) AS BIGINT) AS n_kept,
           CAST((SELECT COALESCE(SUM(len(string_split(k.text, ' '))), 0)
                 FROM kept k WHERE k.rn = 1 AND k.source = s.source)
                AS BIGINT) AS tokens_kept
    FROM scored s GROUP BY s.source
    """.replace("{stoplist}", _SQL_STOPLIST),
)
def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation funnel — the composed training-data pipeline:
    quality gate (length + lexical diversity) → language gate (stopword
    ratio) → exact dedup (md5 fingerprint, min-doc_id canonical) → per-source
    accounting of survivors and kept token volume.

    Scale: the gates are map-side expressions applied BEFORE the dedup
    shuffle, so the only wide ops run on the filtered minority; the funnel
    counts piggyback on one scan (no per-stage re-reads). This is the
    composition story: every stage is an already-verified operator
    (q_doc_quality, q_doc_langid, q_doc_fingerprint) fused by Catalyst into
    a single plan.
    """
    from .text import EN_STOPWORDS

    docs = spread(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    q_ok = F.length("text").between(100, 2000) & (
        F.size(F.array_distinct(toks)).cast("double") / F.size(toks).cast("double") > 0.2
    )
    stoplist = ",".join(f"'{w}'" for w in EN_STOPWORDS)
    lang_ok = (
        F.expr(f"size(filter(split(text, ' '), x -> x IN ({stoplist})))").cast("double")
        / F.size(toks).cast("double")
        > 0.08
    )
    # single corpus pass (r6): the funnel rollup and the kept-stats branch
    # each re-scanned documents and re-ran the tokenize gates (and the
    # kept branch re-tokenized for its token count) — 2 full-text passes.
    # ONE narrow per-doc grid (flags + fingerprint/token-count computed
    # only for passers, text dropped) materializes once; both branches
    # read it. Same flags, same fp, same per-doc token count ⇒ identical
    # aggregates; state is ~60 B/doc vs re-reading and re-parsing the
    # corpus text.
    scored = docs.select(
        "doc_id",
        "source",
        q_ok.alias("q_ok"),
        lang_ok.alias("lang_ok"),
        F.when(
            q_ok & lang_ok, F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))
        ).alias("fp"),
        F.when(q_ok & lang_ok, F.size(toks)).alias("ntok"),
    ).localCheckpoint(eager=True)
    passed = scored.filter("q_ok AND lang_ok")
    from pyspark.sql import Window as _W

    kept = passed.withColumn(
        "rn", F.row_number().over(_W.partitionBy("fp").orderBy("doc_id"))
    ).filter(F.col("rn") == 1)
    kept_stats = kept.groupBy("source").agg(
        bcount("n_kept"),
        F.sum("ntok").cast("bigint").alias("tokens_kept"),
    )
    funnel = scored.groupBy("source").agg(
        bcount("n_total"),
        F.count(F.when(F.col("q_ok"), 1)).cast("bigint").alias("n_quality"),
        F.count(F.when(F.col("q_ok") & F.col("lang_ok"), 1)).cast("bigint").alias("n_lang"),
    )
    return (
        funnel.join(F.broadcast(kept_stats), "source", "left")
        .withColumn("n_kept", F.coalesce("n_kept", F.lit(0)).cast("bigint"))
        .withColumn("tokens_kept", F.coalesce("tokens_kept", F.lit(0)).cast("bigint"))
        .select("source", "n_total", "n_quality", "n_lang", "n_kept", "tokens_kept")
    )
