"""Analytics batch 117: TextRank keyword extraction, bigram language-model
perplexity on held-out documents, and boilerplate-prefix duplicate groups.

TextRank runs PageRank over the token co-occurrence graph — the classic
unsupervised keyword extractor. The bigram LM with add-k smoothing scores
held-out text by perplexity: the cheap corpus-quality / domain-shift
signal LLM data pipelines threshold on before training (a tiny n-gram LM
is the standard first-stage perplexity filter). Prefix-duplicate grouping
catches the boilerplate pattern exact-hash dedup misses: documents that
share their opening tokens but diverge in the tail (templated pages,
syndicated articles with different footers).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register, spread

_TR_ROUNDS = 10
_TR_DAMP = 0.85
_TR_TOPK = 15
_PPL_K = 0.5  # add-k smoothing
_PREFIX_TOKENS = 8


def _tr_chain() -> str:
    parts = []
    prev = "v0"
    for k in range(1, _TR_ROUNDS + 1):
        parts.append(
            f"""
    r{k} AS MATERIALIZED (
      SELECT e.dst AS tok,
             {1.0 - _TR_DAMP} / (SELECT nn FROM nodes_n)
             + {_TR_DAMP} * COALESCE(CAST(SUM(CAST(
                 {prev}.v * e.w / deg.wsum AS DECIMAL(38,15))) AS DOUBLE), 0.0)
               AS v
      FROM edges e
      JOIN {prev} ON {prev}.tok = e.src
      JOIN deg ON deg.tok = e.src
      GROUP BY e.dst
    )"""
        )
        prev = f"r{k}"
    return ",".join(parts)


@register(
    "q_textrank_keywords",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, u.g AS pos, ts[u.g] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS g) u
    ),
    pairs AS (
      SELECT a.tok AS w1, b.tok AS w2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.tok <> b.tok
    ),
    edges AS MATERIALIZED (
      SELECT w1 AS src, w2 AS dst, CAST(COUNT(*) AS BIGINT) AS w
      FROM (SELECT w1, w2 FROM pairs
            UNION ALL SELECT w2, w1 FROM pairs)
      GROUP BY 1, 2
    ),
    deg AS MATERIALIZED (
      SELECT src AS tok, CAST(SUM(w) AS DOUBLE) AS wsum FROM edges GROUP BY 1
    ),
    nodes_n AS MATERIALIZED (
      SELECT CAST(COUNT(DISTINCT src) AS BIGINT) AS nn FROM edges
    ),
    v0 AS MATERIALIZED (
      SELECT DISTINCT src AS tok,
             1.0 / (SELECT nn FROM nodes_n) AS v
      FROM edges
    ),
    {_tr_chain()}
    SELECT tok AS keyword, round(v, 8) AS score,
           CAST(row_number() OVER (ORDER BY round(v, 8) DESC, tok) AS BIGINT)
             AS rank
    FROM r{_TR_ROUNDS}
    ORDER BY rank
    LIMIT {_TR_TOPK}
    """,
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction: adjacent-token co-occurrence edges
    (both directions, weighted by count), then 10 damped PageRank rounds
    v ← (1−d)/N + d·Σ_in v·w/deg over the vocabulary graph; top-15
    tokens by score. The unsupervised keyworder (Mihalcea & Tarau) —
    graph-ranks the corpus vocabulary the way q_pagerank_nations ranks
    trade partners, and complements q_tfidf_top_terms (frequency-based)
    with a structure-based ranking.

    Determinism: edge weights/degrees are exact integers; each rank
    contribution is DECIMAL(38,15)-cast; fixed round count; final
    scores rounded to 8dp with a token tiebreak.

    Scale: tokenize+pair is one narrow pass; the graph collapses to
    |vocab|²-bounded edges; each round is a grid-sized join-aggregate.
    §2.B [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    # r7 (guide §3.3, the 13c q_bigram_perplexity pattern): adjacent-token
    # pairs came from a TOKEN-VOLUME self-join on (doc_id, pos+1) — the
    # exploded stream shuffled twice and sort-merge-joined against
    # itself. Both tokens of a pair live in the same row's array, so the
    # pairs are an in-row slice-zip: identical (w1, w2) multiset, no
    # join, no token-volume exchange.
    pairs = (
        docs.select(F.split("text", " ").alias("ts"))
        .select(
            F.explode(
                F.expr(
                    "zip_with(slice(ts, 1, greatest(size(ts)-1, 0)),"
                    "         slice(ts, 2, greatest(size(ts)-1, 0)),"
                    "         (a, b) -> struct(a AS w1, b AS w2))"
                )
            ).alias("p")
        )
        .filter(F.col("p.w1") != F.col("p.w2"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    edges = (
        pairs.select(F.col("w1").alias("src"), F.col("w2").alias("dst"))
        .unionAll(pairs.select(F.col("w2").alias("src"), F.col("w1").alias("dst")))
        .groupBy("src", "dst")
        .agg(bcount("w"))
        .localCheckpoint(eager=True)
    )
    deg = edges.groupBy(F.col("src").alias("tok")).agg(
        F.sum("w").cast("double").alias("wsum")
    )
    nn = edges.select("src").distinct().count()
    v = edges.select("src").distinct().select(
        F.col("src").alias("tok"), F.lit(1.0 / nn).alias("v")
    )
    for _ in range(_TR_ROUNDS):
        v = (
            edges.join(v, F.col("tok") == F.col("src"))
            .drop("tok")
            .join(deg.select(F.col("tok").alias("dtok"), "wsum"), F.col("dtok") == F.col("src"))
            .groupBy("dst")
            .agg(
                (
                    F.lit((1.0 - _TR_DAMP) / nn)
                    + _TR_DAMP
                    * F.coalesce(
                        F.sum(
                            (F.col("v") * F.col("w") / F.col("wsum")).cast(D15)
                        ).cast("double"),
                        F.lit(0.0),
                    )
                ).alias("v")
            )
            .select(F.col("dst").alias("tok"), "v")
            .localCheckpoint(eager=True)
        )
    # r7 (guide §2.5): take the top-k FIRST (TakeOrderedAndProject —
    # parallel per-partition top-k) and rank inside the bounded k-row
    # set; identical rows and ranks by definition of the total order.
    return (
        v.select(
            F.col("tok").alias("keyword"),
            F.round("v", 8).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("keyword"))
        .limit(_TR_TOPK)
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.desc("score"), F.asc("keyword")))
            .cast("bigint"),
        )
        .orderBy("rank")
    )


@register(
    "q_bigram_perplexity",
    oracle=f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, doc_id % 2 = 0 AS is_train, u.g AS pos, ts[u.g] AS tok
      FROM (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
           LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS g) u
    ),
    vocab AS MATERIALIZED (
      SELECT DISTINCT tok FROM toks WHERE is_train
    ),
    vsize AS (SELECT CAST(COUNT(*) + 1 AS BIGINT) AS v FROM vocab),
    train_uni AS MATERIALIZED (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
      FROM toks WHERE is_train GROUP BY 1
    ),
    train_bi AS MATERIALIZED (
      SELECT a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS c2
      FROM toks a JOIN toks b
        ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      WHERE a.is_train AND b.is_train
      GROUP BY 1, 2
    ),
    test_bi AS MATERIALIZED (
      SELECT CASE WHEN va.tok IS NULL THEN '<unk>' ELSE a.tok END AS w1,
             CASE WHEN vb.tok IS NULL THEN '<unk>' ELSE b.tok END AS w2
      FROM toks a
      JOIN toks b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      LEFT JOIN vocab va ON va.tok = a.tok
      LEFT JOIN vocab vb ON vb.tok = b.tok
      WHERE NOT a.is_train AND NOT b.is_train
    ),
    scored AS (
      SELECT t.w1, t.w2,
             ln((COALESCE(bi.c2, 0) + {_PPL_K})
                / (COALESCE(un.c1, 0) + {_PPL_K} * vs.v)) AS lp
      FROM test_bi t
      LEFT JOIN train_bi bi ON bi.w1 = t.w1 AND bi.w2 = t.w2
      LEFT JOIN train_uni un ON un.tok = t.w1
      CROSS JOIN vsize vs
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test_bigrams,
           (SELECT v FROM vsize) AS vocab_size,
           round(CAST(SUM(CAST(-lp AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS cross_entropy_nats,
           round(exp(CAST(SUM(CAST(-lp AS DECIMAL(38,15))) AS DOUBLE)
                     / COUNT(*)), 6) AS perplexity
    FROM scored
    """,
)
def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram perplexity: train an add-k (k=0.5) bigram LM on
    even-id documents, score odd-id documents —
    p(w₂|w₁) = (c(w₁,w₂)+k)/(c(w₁)+k·V) with out-of-vocabulary tokens
    mapped to <unk> (V = train vocab + 1). Reports cross-entropy (nats)
    and perplexity — the standard first-stage quality/domain filter in
    LLM data pipelines (threshold on LM perplexity before training),
    complementing q_kl_coding_cost (corpus-level) with a proper held-out
    split.

    Determinism: all counts are exact integers; each −ln p term is
    DECIMAL(38,15)-cast before the mean; the train/test split is the
    deterministic doc_id parity.

    Scale (r6 rewrite): bigrams come from an in-row slice-zip of the
    per-doc token array (adjacent positions) instead of the old
    token-stream self-join on (doc_id, pos+1) — identical pairs (both
    tokens of a bigram share the doc, so the old is_train AND tr_b
    filter is just is_train), with the token-volume shuffle join and
    its two exploded join sides gone. The <unk> remap joins are gone
    too: an OOV token's mapped key '<unk>' never matches train_bi/uni
    (the corpus' [a-z]+ tokens cannot collide with it), so a raw-key
    left join yields the same c2=0/c1=0 for every OOV bigram and the
    same counts otherwise — lp is unchanged row by row. Model joins
    are unhinted: the train bigram table is vocabulary²-scaled, so the
    broadcast decision belongs to AQE's measured sizes, not a hint
    (the r5 broadcast-audit rule). §2.B [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    base = docs.select(
        (F.col("doc_id") % 2 == 0).alias("is_train"),
        F.split("text", " ").alias("ts"),
    ).localCheckpoint(eager=True)
    train_toks = base.filter("is_train").select(F.explode("ts").alias("tok"))
    vsize = train_toks.distinct().count() + 1
    uni = train_toks.groupBy("tok").agg(bcount("c1"))
    bi = base.select(
        "is_train",
        F.explode(
            F.expr(
                "zip_with(slice(ts, 1, greatest(size(ts)-1, 0)),"
                "         slice(ts, 2, greatest(size(ts)-1, 0)),"
                "         (a, b) -> struct(a AS t1, b AS t2))"
            )
        ).alias("p"),
    ).select("is_train", F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    train_bi = (
        bi.filter("is_train")
        .groupBy(F.col("t1").alias("w1"), F.col("t2").alias("w2"))
        .agg(bcount("c2"))
    )
    test_bi = bi.filter(~F.col("is_train")).select(
        F.col("t1").alias("w1"), F.col("t2").alias("w2")
    )
    lp = F.log(
        (F.coalesce(F.col("c2"), F.lit(0)) + _PPL_K)
        / (F.coalesce(F.col("c1"), F.lit(0)) + _PPL_K * vsize)
    )
    scored = (
        test_bi.join(train_bi, ["w1", "w2"], "left")
        .join(uni.select(F.col("tok").alias("w1"), "c1"), "w1", "left")
        .select(lp.alias("lp"))
    )
    ce = F.sum((-F.col("lp")).cast(D15)).cast("double") / F.count(F.lit(1))
    return scored.agg(
        bcount("n_test_bigrams"),
        F.lit(vsize).cast("bigint").alias("vocab_size"),
        F.round(ce, 6).alias("cross_entropy_nats"),
        F.round(F.exp(ce), 6).alias("perplexity"),
    )


@register(
    "q_prefix_dup_groups",
    oracle=f"""
    WITH pre AS (
      SELECT doc_id, source,
             md5(array_to_string(string_split(text, ' ')[1:{_PREFIX_TOKENS}],
                                 ' ')) AS prefix_hash
      FROM documents
      WHERE len(string_split(text, ' ')) >= {_PREFIX_TOKENS}
    )
    SELECT prefix_hash,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS canonical_doc,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM pre
    GROUP BY 1
    HAVING COUNT(*) > 1
    ORDER BY n_docs DESC, prefix_hash
    """,
)
def q_prefix_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-prefix duplicate groups: documents sharing their first
    8 tokens verbatim (md5 of the joined prefix), with group size,
    canonical (min) doc and how many sources the template spans — the
    partial-dup pattern exact-hash dedup (q_dedup_exact) misses:
    templated openings with divergent tails, the signature of syndicated
    or boilerplate content in web corpora.

    Determinism: prefix extraction is positional slicing; md5 and
    integer counts are engine-identical.

    Scale: a narrow map (slice + hash) followed by ONE hash-key groupBy
    — the same single-shuffle shape as exact dedup; at 100 TB the
    prefix hash doubles as a cheap blocking key for deeper near-dup
    passes. §2.B [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    ts = F.split("text", " ")
    pre = docs.filter(F.size(ts) >= _PREFIX_TOKENS).select(
        "doc_id",
        "source",
        F.md5(F.array_join(F.slice(ts, 1, _PREFIX_TOKENS), " ")).alias(
            "prefix_hash"
        ),
    )
    return (
        pre.groupBy("prefix_hash")
        .agg(
            bcount("n_docs"),
            F.min("doc_id").cast("bigint").alias("canonical_doc"),
            F.count_distinct("source").cast("bigint").alias("n_sources"),
        )
        .filter(F.col("n_docs") > 1)
        .orderBy(F.desc("n_docs"), F.asc("prefix_hash"))
    )
