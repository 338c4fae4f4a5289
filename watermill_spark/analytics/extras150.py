"""Analytics batch 158: subword-vocabulary coverage, cross-source
duplication, and context-budget fit.

Three decisions every pretraining run makes, each answered with one
query: how well does a small frequency-built subword vocabulary cover
each language (the tokenizer-fit diagnostic behind OOV explosions —
complements q_tokenizer_fertility); which ingestion sources carry the
SAME content (syndication/mirror detection — the cross-source view the
within-corpus dedup family doesn't report); and what share of
documents/tokens fits each context-length budget (the sequence-length
decision, companion to q_sequence_packing / q_chunk_windows).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation families + the LLM-pipeline text mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register


@register(
    "q_subword_coverage",
    oracle="""
    WITH norm AS (
      SELECT lang, lower(regexp_replace(text, '[^a-zA-Z]', ' ', 'g')) AS t
      FROM documents
    ),
    bigrams AS (
      SELECT lang, substr(t, CAST(i AS INTEGER), 2) AS bg
      FROM norm, UNNEST(generate_series(1, length(t) - 1)) AS u(i)
    ),
    good AS (
      SELECT lang, bg FROM bigrams WHERE bg ~ '^[a-z][a-z]$'
    ),
    vocab AS (
      SELECT bg, CAST(ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, bg)
                      AS BIGINT) AS rk
      FROM good GROUP BY bg
    ),
    scored AS (
      SELECT g.lang,
             CASE WHEN v.rk <= 100 THEN 1 ELSE 0 END AS covered
      FROM good g JOIN vocab v ON v.bg = g.bg
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(covered) AS BIGINT) AS n_covered,
           round(CAST(SUM(covered) AS DOUBLE) / COUNT(*) * 100.0, 4)
             AS coverage_pct
    FROM scored GROUP BY 1 ORDER BY 1
    """,
)
def q_subword_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword-vocabulary coverage: build a 100-entry character-bigram
    vocabulary from global corpus frequency (rank ties broken by the
    bigram itself), then report per language what share of its bigram
    occurrences the vocabulary covers — the tokenizer-fit diagnostic
    that predicts which languages will fragment into bytes under a
    vocabulary trained on the corpus majority.

    Determinism: vocabulary ranks are integer counts with string
    tiebreaks; coverage is integer counts divided in double.

    Scale: the bigram explode is linear in corpus characters but
    collapses immediately to the (lang, bigram) grain (map-side
    combine); the 676-row-max vocabulary joins broadcast. §2.B
    aggregation family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    norm = docs.select(
        "lang",
        F.lower(F.regexp_replace("text", "[^a-zA-Z]", " ")).alias("t"),
    )
    # r6 pass 13: good bigrams ("^[a-z][a-z]$") are exactly the
    # within-word bigrams of the space-normalized text (any bigram
    # crossing a word boundary contains the space). Emitting them from
    # per-word arrays skips the per-CHARACTER explode row and its regex
    # evaluation — one row per GOOD bigram instead of one per char.
    # Same multiset: measured A/B at sf1 gives 23.4 → 5.4 s with a
    # bit-identical (lang, bg, cnt) grid.
    good = norm.select(
        "lang",
        F.explode(
            F.expr(
                "flatten(transform(filter(split(t, ' '), w -> length(w) >= 2),"
                " w -> transform(sequence(1, length(w)-1), i -> substr(w, i, 2))))"
            )
        ).alias("bg"),
    )
    # single bigram pass (r6): the vocab build and the coverage scoring
    # each re-ran the char-volume explode+regex, and the scoring join
    # carried bigram-volume rows. Both now derive from ONE checkpointed
    # (lang, bg) count grid (≤|langs|×676 rows): vocab counts are the
    # grid's exact integer column sums, and per-lang coverage is the
    # count-weighted sum over the grid (covered ∈ {0,1}, so
    # Σ covered·cnt ≡ counting each occurrence once).
    grid = (
        good.groupBy("lang", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    vocab = (
        grid.groupBy("bg")
        .agg(F.sum("cnt").alias("cnt"))
        .select(
            "bg",
            F.row_number()
            .over(Window.orderBy(F.col("cnt").desc(), "bg"))
            .cast("bigint")
            .alias("rk"),
        )
    )
    scored = grid.join(F.broadcast(vocab), "bg").select(
        "lang",
        "cnt",
        F.when(F.col("rk") <= 100, 1).otherwise(0).alias("covered"),
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("covered") * F.col("cnt")).cast("bigint").alias("n_covered"),
            F.round(
                F.sum(F.col("covered") * F.col("cnt")).cast("double")
                / F.sum("cnt")
                * 100.0,
                4,
            ).alias("coverage_pct"),
        )
        .orderBy("lang")
    )


@register(
    "q_cross_source_duplication",
    oracle="""
    WITH hashed AS (
      SELECT DISTINCT md5(lower(trim(text))) AS h, source
      FROM documents
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_docs
      FROM hashed a JOIN hashed b
        ON a.h = b.h AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, shared_docs
    FROM pairs
    ORDER BY shared_docs DESC, source_a, source_b
    """,
)
def q_cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: exact-content hashes
    (md5 of normalized text) appearing in more than one ingestion
    source, counted per source pair — the syndication/mirror detector
    that decides which source to keep as canonical when the SAME
    article arrives via two crawls (within-corpus dedup reports the
    duplicate, not where it came from).

    Determinism: md5 is bit-identical; pair counts are integers with
    full lexicographic ordering.

    Scale: one narrow hash map + distinct to the (hash, source) grain,
    then a self-equi-join ON THE HASH — group size bounded by the
    source count (~5), never quadratic in corpus size. §2.B join
    family + dedup mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    # checkpointed once (r6): both self-join sides re-scanned documents
    # and re-ran the full-text md5 (2 scans in the plan); the deduped
    # (hash, source) grid materializes once (state linear in the
    # distinct-doc domain — posting-list class)
    hashed = docs.select(
        F.md5(F.lower(F.trim("text"))).alias("h"), "source"
    ).distinct().localCheckpoint(eager=True)
    b = hashed.select(F.col("h").alias("hb"), F.col("source").alias("source_b"))
    pairs = (
        hashed.join(
            b,
            (F.col("h") == F.col("hb"))
            & (F.col("source") < F.col("source_b")),
        )
        .groupBy(F.col("source").alias("source_a"), "source_b")
        .agg(bcount("shared_docs"))
    )
    return pairs.orderBy(
        F.col("shared_docs").desc(), "source_a", "source_b"
    )


@register(
    "q_context_budget_fit",
    oracle="""
    WITH toks AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    budgets AS (SELECT CAST(b AS BIGINT) AS budget
                FROM (VALUES (128), (256), (512), (1024), (2048)) AS v(b))
    SELECT b.budget,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(CASE WHEN t.n_tok <= b.budget THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 100.0, 4) AS fit_pct,
           round(CAST(SUM(LEAST(t.n_tok, b.budget)) AS DOUBLE)
                 / SUM(t.n_tok) * 100.0, 4) AS token_coverage_pct,
           CAST(SUM(CASE WHEN t.n_tok > b.budget
                    THEN t.n_tok - b.budget ELSE 0 END) AS BIGINT)
             AS tokens_truncated
    FROM toks t, budgets b
    GROUP BY 1 ORDER BY 1
    """,
)
def q_context_budget_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-length budget fit: for budgets 128..2048 tokens, the
    share of documents that fit whole, the share of corpus tokens
    retained under truncation (Σ min(n, B)/Σ n), and the tokens lost —
    the one-table answer to "what sequence length do we train at?",
    read together with q_sequence_packing (which shows how the
    leftovers pack).

    Determinism: token counts and truncation losses are pure integer
    arithmetic; shares divide in double.

    Scale: one narrow count map; the 5-row budget dimension broadcasts
    onto the counts (whitelisted); one rollup per budget. §2.B
    aggregation family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    budgets = spark.createDataFrame(
        [(128,), (256,), (512,), (1024,), (2048,)], "budget long"
    )
    return (
        toks.crossJoin(F.broadcast(budgets))
        .groupBy("budget")
        .agg(
            bcount("n_docs"),
            F.round(
                F.sum(
                    F.when(F.col("n_tok") <= F.col("budget"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1))
                * 100.0,
                4,
            ).alias("fit_pct"),
            F.round(
                F.sum(F.least("n_tok", "budget")).cast("double")
                / F.sum("n_tok")
                * 100.0,
                4,
            ).alias("token_coverage_pct"),
            F.sum(
                F.when(
                    F.col("n_tok") > F.col("budget"),
                    F.col("n_tok") - F.col("budget"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("tokens_truncated"),
        )
        .orderBy("budget")
    )
