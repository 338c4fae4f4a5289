"""Analytics batch 119: LLM-pipeline text shaping — sliding chunk
windows, training-sequence packing, and tokenizer-fertility estimates.

Chunking (overlapping token windows) is the operator every
embedding/RAG pipeline runs between cleaning and encoding; sequence
packing (concatenate the token stream, cut at the context length) is
how pretraining data becomes fixed-size training rows, and its waste /
boundary-crossing statistics drive the packing策 choice; tokenizer
fertility (subword tokens per word, chars per token by language)
is the standard metric for how expensive a language is to tokenize,
used when sizing multilingual data mixes (pairs with
q_data_mixture_allocation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount
from .distrib import two_level_order
from .registry import load, register, spread

_CHUNK = 64  # window size (tokens)
_STRIDE = 32  # window stride
_SEQ_LEN = 512  # training context length
# BPE-ish proxy: words longer than this split into ceil(len/4) subwords
_SUBWORD_LEN = 4


@register(
    "q_chunk_windows",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS ts FROM documents
    ),
    meta AS (
      SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_tok,
             CAST(CASE WHEN len(ts) <= {_CHUNK} THEN 1
                  ELSE ceil(CAST(len(ts) - {_CHUNK} AS DOUBLE)
                            / {_STRIDE}) + 1 END AS BIGINT) AS n_chunks
      FROM d
    ),
    chunks AS (
      SELECT m.doc_id, m.n_tok, u.g AS chunk_idx,
             (u.g - 1) * {_STRIDE} + 1 AS tok_start,
             LEAST((u.g - 1) * {_STRIDE} + {_CHUNK}, m.n_tok) AS tok_end
      FROM meta m,
           LATERAL (SELECT unnest(range(1, m.n_chunks + 1)) AS g) u
    )
    SELECT c.doc_id,
           CAST(MAX(c.n_tok) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(MIN(c.tok_end - c.tok_start + 1) AS BIGINT) AS min_chunk_len,
           md5(string_agg(
             CAST(c.tok_start AS VARCHAR) || ':' || CAST(c.tok_end AS VARCHAR),
             ',' ORDER BY c.chunk_idx)) AS boundaries_hash
    FROM chunks c
    GROUP BY c.doc_id
    ORDER BY c.doc_id
    """,
)
def q_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking plan per document: 64-token windows with
    stride 32 (50% overlap), last window clamped to the document end —
    the chunker every embedding/RAG ingestion runs. Emits per-doc chunk
    counts, the shortest (tail) chunk length, and an md5 over the ordered
    (start:end) boundary list so the exact chunk layout is
    hash-checkable without materializing the text.

    Determinism: token counts and boundaries are pure integer
    arithmetic; the boundary digest aggregates in explicit chunk order.

    Scale: chunk boundaries are computed from the token COUNT alone (a
    narrow map) — the text is never exploded; the per-doc fan-out is
    n_chunks metadata rows, and the actual slice materialization
    (array_slice on the token array) stays a narrow map whenever a
    downstream encoder consumes it. §2.B [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    n_tok = F.size(F.split("text", " ")).cast("bigint")
    meta = docs.select(
        "doc_id",
        n_tok.alias("n_tok"),
        F.when(n_tok <= _CHUNK, F.lit(1).cast("bigint"))
        .otherwise(
            (F.ceil((n_tok - _CHUNK).cast("double") / _STRIDE) + 1).cast("bigint")
        )
        .alias("n_chunks"),
    )
    chunks = meta.select(
        "doc_id",
        "n_tok",
        F.posexplode(F.sequence(F.lit(1), F.col("n_chunks"))).alias("_p", "chunk_idx"),
    ).select(
        "doc_id",
        "n_tok",
        "chunk_idx",
        ((F.col("chunk_idx") - 1) * _STRIDE + 1).alias("tok_start"),
        F.least(
            (F.col("chunk_idx") - 1) * _STRIDE + _CHUNK, F.col("n_tok")
        ).alias("tok_end"),
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.max("n_tok").cast("bigint").alias("n_tokens"),
            bcount("n_chunks"),
            F.min(F.col("tok_end") - F.col("tok_start") + 1)
            .cast("bigint")
            .alias("min_chunk_len"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(
                                    "chunk_idx",
                                    F.concat_ws(
                                        ":", F.col("tok_start"), F.col("tok_end")
                                    ).alias("b"),
                                )
                            )
                        ),
                        lambda s: s["b"],
                    ),
                    ",",
                )
            ).alias("boundaries_hash"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_sequence_packing",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_end,
             CAST(COALESCE(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_start
      FROM d
    ),
    marked AS (
      SELECT doc_id, n_tok,
             cum_start // {_SEQ_LEN} AS seq_first,
             (cum_end - 1) // {_SEQ_LEN} AS seq_last
      FROM cum
    ),
    tot AS (
      SELECT CAST(MAX(cum_end) AS BIGINT) AS total_tokens FROM cum
    )
    SELECT t.total_tokens,
           CAST(ceil(CAST(t.total_tokens AS DOUBLE) / {_SEQ_LEN}) AS BIGINT)
             AS n_sequences,
           CAST(ceil(CAST(t.total_tokens AS DOUBLE) / {_SEQ_LEN})
                * {_SEQ_LEN} - t.total_tokens AS BIGINT) AS pad_tokens,
           round(CAST(ceil(CAST(t.total_tokens AS DOUBLE) / {_SEQ_LEN})
                      * {_SEQ_LEN} - t.total_tokens AS DOUBLE)
                 / (ceil(CAST(t.total_tokens AS DOUBLE) / {_SEQ_LEN})
                    * {_SEQ_LEN}), 6) AS pad_share,
           CAST((SELECT COUNT(*) FROM marked WHERE seq_last > seq_first)
                AS BIGINT) AS docs_crossing_boundary,
           round(CAST((SELECT COUNT(*) FROM marked
                       WHERE seq_last > seq_first) AS DOUBLE)
                 / (SELECT COUNT(*) FROM marked), 6) AS crossing_share
    FROM tot t
    """,
)
def q_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing audit: concatenate the corpus token
    stream in doc_id order and cut it into 512-token training rows
    (concat-and-chunk packing). Reports total tokens, sequence count,
    tail padding (absolute and share), and how many documents straddle a
    sequence boundary — the loss-masking/fragmentation trade-off that
    decides between naive concat packing and first-fit bin packing in a
    pretraining dataloader.

    Determinism: token counts and the running stream offsets are exact
    integers in a fixed (doc_id) order.

    Scale: per-doc token counts are a narrow map; the stream offsets are
    ONE prefix-sum window over doc metadata (not tokens) — at 100 TB
    this is the standard two-pass packing plan: count pass, then offset
    assignment; the token text itself is never shuffled. §2.B [NS] /
    LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("bigint").alias("n_tok")
    )
    # r7 (guide §2.5): the stream offsets ran as TWO single-task prefix
    # windows over the data-scaled doc grid; the distributed two-level
    # prefix sum computes the identical exact integer offsets
    # (cum_start = cum_end − n_tok, replacing the second window).
    cum = two_level_order(
        d,
        ["doc_id"],
        sums=[{"col": "n_tok", "acc": "decimal(20,0)", "running": "cum"}],
        project=["doc_id", "n_tok"],
    ).select(
        "doc_id",
        "n_tok",
        F.col("cum").cast("bigint").alias("cum_end"),
        (F.col("cum").cast("bigint") - F.col("n_tok")).alias("cum_start"),
    )
    marked = cum.select(
        "doc_id",
        (F.floor(F.col("cum_start") / _SEQ_LEN)).alias("seq_first"),
        (F.floor((F.col("cum_end") - 1) / _SEQ_LEN)).alias("seq_last"),
        "cum_end",
    )
    agg = marked.agg(
        F.max("cum_end").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("seq_last") > F.col("seq_first"), 1).otherwise(0))
        .cast("bigint")
        .alias("crossing"),
        bcount("n_docs"),
    )
    nseq = F.ceil(F.col("total_tokens").cast("double") / _SEQ_LEN)
    pad = (nseq * _SEQ_LEN - F.col("total_tokens")).cast("bigint")
    return agg.select(
        "total_tokens",
        nseq.cast("bigint").alias("n_sequences"),
        pad.alias("pad_tokens"),
        F.round(pad.cast("double") / (nseq * _SEQ_LEN), 6).alias("pad_share"),
        F.col("crossing").alias("docs_crossing_boundary"),
        F.round(F.col("crossing").cast("double") / F.col("n_docs"), 6).alias(
            "crossing_share"
        ),
    )


@register(
    "q_tokenizer_fertility",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, u.tok,
             CAST(len(u.tok) AS BIGINT) AS wlen,
             CAST(CASE WHEN len(u.tok) <= {_SUBWORD_LEN} THEN 1
                  ELSE ceil(CAST(len(u.tok) AS DOUBLE) / {_SUBWORD_LEN})
                  END AS BIGINT) AS n_sub
      FROM documents,
           LATERAL (SELECT unnest(string_split(text, ' ')) AS tok) u
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_words,
           CAST(SUM(n_sub) AS BIGINT) AS n_subwords,
           round(CAST(SUM(n_sub) AS DOUBLE) / COUNT(*), 6) AS fertility,
           round(CAST(SUM(CAST(wlen AS DECIMAL(38,15))) AS DOUBLE)
                 / SUM(n_sub), 6) AS chars_per_subword,
           round(CAST(SUM(CAST(wlen AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_word_len
    FROM toks
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language: a BPE-ish proxy tokenizer splits
    every word into ⌈len/4⌉ subwords (words ≤4 chars stay whole), and
    fertility = subwords per word — the standard measure of how
    expensive a language is for a fixed vocabulary, with chars-per-
    subword and mean word length alongside. Feeds
    q_data_mixture_allocation: mixes are budgeted in TOKENS, so a
    high-fertility language costs proportionally more budget per word.

    Determinism: all counts are exact integers; char sums ride
    DECIMAL(38,15).

    Scale: one explode + one per-lang rollup (map-side combinable);
    no joins. §2.B [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "lang",
        F.length("tok").cast("bigint").alias("wlen"),
        F.when(F.length("tok") <= _SUBWORD_LEN, F.lit(1).cast("bigint"))
        .otherwise(
            F.ceil(F.length("tok").cast("double") / _SUBWORD_LEN).cast("bigint")
        )
        .alias("n_sub"),
    )
    return (
        toks.groupBy("lang")
        .agg(
            bcount("n_words"),
            F.sum("n_sub").cast("bigint").alias("n_subwords"),
            F.round(
                F.sum("n_sub").cast("double") / F.count(F.lit(1)), 6
            ).alias("fertility"),
            F.round(
                F.sum(F.col("wlen").cast(D15)).cast("double") / F.sum("n_sub"),
                6,
            ).alias("chars_per_subword"),
            F.round(
                F.sum(F.col("wlen").cast(D15)).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_word_len"),
        )
        .orderBy("lang")
    )
