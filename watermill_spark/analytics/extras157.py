"""Analytics batch 165: Kneser-Ney bigram LM perplexity, Burt's
structural-holes constraint, and Yule's K lexical richness.

Kneser-Ney is THE n-gram smoothing (absolute discounting + continuation
probability — "how many contexts has this word completed?") and the
held-out perplexity here grades it against the add-k baseline already
in the registry (q_bigram_perplexity); Burt's constraint is the
structural-holes number for each nation in the trade graph (high
constraint = trapped inside one dense cluster, low = brokerage
position); Yule's K is the scale-invariant lexical-richness
characteristic (frequency-of-frequencies based, integer-exact) that
flags template/boilerplate corpora better than a raw type-token ratio.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/graph families + the LLM-pipeline text mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges
from .registry import load, register

# Tokenized corpus with per-doc positions, shared by the KN query.
_TOK_SQL = """
    split_docs AS (
      SELECT doc_id, (doc_id % 2 = 0) AS is_train,
             string_split(regexp_replace(text, '[^a-zA-Z ]', ' ', 'g'),
                          ' ') AS l
      FROM documents
    ),
    toks AS (
      SELECT doc_id, is_train, lower(tok) AS tok, CAST(pos AS BIGINT) AS pos
      FROM (SELECT doc_id, is_train,
                   unnest(l) AS tok,
                   unnest(range(1, len(l) + 1)) AS pos
            FROM split_docs)
      WHERE length(tok) >= 2
    ),
    bigrams AS (
      SELECT doc_id, is_train, tok AS v,
             LEAD(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w
      FROM toks
    ),
    bg AS (SELECT is_train, v, w FROM bigrams WHERE w IS NOT NULL)
"""


@register(
    "q_ngram_lm_kneser_ney",
    oracle=f"""
    WITH {_TOK_SQL},
    train AS (
      SELECT v, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM bg WHERE is_train GROUP BY 1, 2
    ),
    ctx AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS cv,
             CAST(COUNT(*) AS BIGINT) AS n1p_v
      FROM train GROUP BY 1
    ),
    cont AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n1p_w
      FROM train GROUP BY 1
    ),
    consts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM train) AS n_types,
             (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) FROM train) AS v_sz
    ),
    scored AS (
      SELECT b.v, b.w,
             CASE WHEN cx.cv IS NOT NULL THEN
               GREATEST(COALESCE(t.c, 0) - 0.75, 0.0) / cx.cv
               + 0.75 * cx.n1p_v / cx.cv
                 * (COALESCE(cn.n1p_w, 0) + 1.0)
                 / (k.n_types + k.v_sz)
             ELSE (COALESCE(cn.n1p_w, 0) + 1.0) / (k.n_types + k.v_sz)
             END AS p
      FROM bg b
      LEFT JOIN train t ON t.v = b.v AND t.w = b.w
      LEFT JOIN ctx cx ON cx.v = b.v
      LEFT JOIN cont cn ON cn.w = b.w, consts k
      WHERE NOT b.is_train
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM bg WHERE is_train)
             AS n_train_bigrams,
           CAST(COUNT(*) AS BIGINT) AS n_test_bigrams,
           (SELECT v_sz FROM consts) AS vocab_size,
           round(pow(2.0,
                 -CAST(SUM(CAST(ln(p) / ln(2.0) AS DECIMAL(38,15)))
                       AS DOUBLE) / COUNT(*)), 4) AS kn_perplexity
    FROM scored
    """,
)
def q_ngram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM (d = 0.75), trained on
    even-doc_id documents and scored as held-out perplexity on the odd
    half: P(w|v) = max(c(vw)−d, 0)/c(v) + d·N₁₊(v·)/c(v)·P_cont(w),
    with the continuation probability P_cont(w) ∝ the number of
    distinct contexts w completes (+1 smoothing so unseen words stay
    finite) — THE n-gram smoothing, graded against the add-k baseline
    q_bigram_perplexity on the identical deterministic split.

    Determinism: the split is doc_id parity; all counts are integers;
    log₂ probabilities accumulate through DECIMAL(38,15) over identical
    doubles.

    Scale: bigrams come from a per-doc lead window (parallel across
    docs); the model tables live at the bigram-type grain
    (Heaps-sublinear); scoring is three equi-joins against them. §2.B
    aggregation family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % 2 == 0).alias("is_train"),
            F.posexplode(
                F.split(F.regexp_replace("text", "[^a-zA-Z ]", " "), " ")
            ).alias("pos", "tok"),
        )
        .select(
            "doc_id",
            "is_train",
            F.lower("tok").alias("tok"),
            F.col("pos").cast("bigint").alias("pos"),
        )
        .filter(F.length("tok") >= 2)
    )
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    bg = (
        toks.select(
            "is_train",
            F.col("tok").alias("v"),
            F.lead("tok").over(wdoc).alias("w"),
        )
        .filter(F.col("w").isNotNull())
        # checkpointed once (r6): train/test/ntrain each re-ran the
        # tokenize + per-doc lead window (7 documents scans before)
        .localCheckpoint(eager=True)
    )
    train = (
        bg.filter("is_train")
        .groupBy("v", "w")
        .agg(bcount("c"))
        # bigram-type grain (Heaps-sublinear): read by ctx/cont/consts
        # and the scoring join
        .localCheckpoint(eager=True)
    )
    ctx = train.groupBy("v").agg(
        F.sum("c").cast("bigint").alias("cv"), bcount("n1p_v")
    )
    cont = train.groupBy("w").agg(bcount("n1p_w"))
    consts = train.agg(
        bcount("n_types"),
        F.countDistinct("w").cast("bigint").alias("v_sz"),
    )
    test = bg.filter(~F.col("is_train"))
    pcont = (F.coalesce(F.col("n1p_w"), F.lit(0)) + 1.0) / (
        F.col("n_types") + F.col("v_sz")
    )
    p = F.when(
        F.col("cv").isNotNull(),
        F.greatest(F.coalesce(F.col("c"), F.lit(0)) - 0.75, F.lit(0.0))
        / F.col("cv")
        + 0.75 * F.col("n1p_v") / F.col("cv") * pcont,
    ).otherwise(pcont)
    scored = (
        test.join(train, ["v", "w"], "left")
        .join(ctx, "v", "left")
        .join(cont, "w", "left")
        .crossJoin(F.broadcast(consts))
        .select(p.alias("p"))
    )
    ntrain = bg.filter("is_train").agg(bcount("n_train_bigrams"))
    return (
        scored.agg(
            bcount("n_test_bigrams"),
            F.round(
                F.pow(
                    2.0,
                    -F.sum(
                        (F.log("p") / F.log(F.lit(2.0))).cast(D15)
                    ).cast("double")
                    / F.count(F.lit(1)),
                ),
                4,
            ).alias("kn_perplexity"),
        )
        .crossJoin(F.broadcast(ntrain))
        .crossJoin(F.broadcast(consts.select(F.col("v_sz").alias("vocab_size"))))
        .select(
            "n_train_bigrams", "n_test_bigrams", "vocab_size", "kn_perplexity"
        )
    )


@register(
    "q_burt_constraint",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    sym AS (
      SELECT a, b, CAST(SUM(w) AS BIGINT) AS s
      FROM (SELECT src AS a, dst AS b, w FROM edges
            UNION ALL SELECT dst, src, w FROM edges)
      GROUP BY 1, 2
    ),
    tot AS (SELECT a, CAST(SUM(s) AS BIGINT) AS ts FROM sym GROUP BY 1),
    p AS (
      SELECT sym.a, sym.b, CAST(sym.s AS DOUBLE) / tot.ts AS pij
      FROM sym JOIN tot ON tot.a = sym.a
    ),
    indirect AS (
      SELECT p1.a, p2.b,
             CAST(SUM(CAST(p1.pij * p2.pij AS DECIMAL(38,18)))
                  AS DOUBLE) AS ind
      FROM p p1 JOIN p p2 ON p2.a = p1.b
      WHERE p1.a <> p2.b
      GROUP BY 1, 2
    ),
    cterm AS (
      SELECT p.a,
             pow(p.pij + COALESCE(i.ind, 0.0), 2) AS term
      FROM p LEFT JOIN indirect i ON i.a = p.a AND i.b = p.b
    ),
    cons AS (
      SELECT a, CAST(SUM(CAST(term AS DECIMAL(38,15))) AS DOUBLE) AS c
      FROM cterm GROUP BY 1
    )
    SELECT c.a AS nationkey,
           CAST((SELECT COUNT(*) FROM sym WHERE sym.a = c.a) AS BIGINT)
             AS degree,
           round(c.c, 6) AS constraint_c
    FROM cons c ORDER BY c.a
    """,
)
def q_burt_constraint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burt's structural-holes constraint on the symmetrized nation
    trade graph: c_i = Σ_j (p_ij + Σ_q p_iq·p_qj)² with p the
    weight-normalized adjacency — high constraint means a nation's
    trade is locked inside one mutually-connected cluster, low
    constraint marks the brokers bridging otherwise-disconnected
    partners (the network-position complement to centrality:
    q_pagerank_nations says WHO is big, constraint says who has
    OPTIONS).

    Determinism: weights are integer counts; p and the two-step
    products route through DECIMAL; c is a decimal-exact sum of fixed
    double terms.

    Scale: everything runs on the collapsed ≤|nations|² edge list —
    the P·P self-join is bounded-graph quadratic. §2.B graph family
    [NS].
    """
    edges = nation_trade_edges(spark, sf_dir)
    sym = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"), "w")
        .unionAll(
            edges.select(
                F.col("dst").alias("a"), F.col("src").alias("b"), "w"
            )
        )
        .groupBy("a", "b")
        .agg(F.sum("w").cast("bigint").alias("s"))
    ).localCheckpoint(eager=True)
    tot = sym.groupBy("a").agg(F.sum("s").cast("bigint").alias("ts"))
    p = sym.join(tot, "a").select(
        "a", "b", (F.col("s").cast("double") / F.col("ts")).alias("pij")
    ).localCheckpoint(eager=True)
    p2 = p.select(
        F.col("a").alias("mid"), F.col("b").alias("b2"), F.col("pij").alias("p2")
    )
    indirect = (
        p.join(F.broadcast(p2), F.col("b") == F.col("mid"))
        .filter(F.col("a") != F.col("b2"))
        .groupBy(F.col("a").alias("ia"), F.col("b2").alias("ib"))
        .agg(
            F.sum((F.col("pij") * F.col("p2")).cast("decimal(38,18)"))
            .cast("double")
            .alias("ind")
        )
    )
    cterm = p.join(
        F.broadcast(indirect),
        (F.col("a") == F.col("ia")) & (F.col("b") == F.col("ib")),
        "left",
    ).select(
        F.col("a").alias("node"),
        F.pow(F.col("pij") + F.coalesce(F.col("ind"), F.lit(0.0)), 2).alias(
            "term"
        ),
    )
    cons = cterm.groupBy("node").agg(
        F.sum(F.col("term").cast(D15)).cast("double").alias("c")
    )
    deg = sym.groupBy("a").agg(bcount("degree"))
    return (
        cons.join(F.broadcast(deg), cons.node == deg.a)
        .select(
            F.col("node").alias("nationkey"),
            "degree",
            F.round("c", 6).alias("constraint_c"),
        )
        .orderBy("nationkey")
    )


@register(
    "q_yule_k",
    oracle="""
    WITH toks AS (
      SELECT source, lower(tok) AS tok
      FROM documents,
           UNNEST(string_split(regexp_replace(text, '[^a-zA-Z ]', ' ',
                                              'g'), ' ')) AS t(tok)
      WHERE length(tok) >= 2
    ),
    freq AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS m
      FROM toks GROUP BY 1, 2
    ),
    fof AS (
      SELECT source, m, CAST(COUNT(*) AS BIGINT) AS vm
      FROM freq GROUP BY 1, 2
    )
    SELECT source,
           CAST(SUM(m * vm) AS BIGINT) AS n_tokens,
           CAST(SUM(vm) AS BIGINT) AS n_types,
           round(CAST(SUM(CASE WHEN m = 1 THEN vm ELSE 0 END) AS DOUBLE)
                 / SUM(vm), 6) AS hapax_share,
           round(10000.0 * (CAST(SUM(m * m * vm) AS DOUBLE)
                            - SUM(m * vm))
                 / (CAST(SUM(m * vm) AS DOUBLE) * SUM(m * vm)), 6)
             AS yule_k
    FROM fof GROUP BY 1 ORDER BY 1
    """,
)
def q_yule_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K lexical-richness characteristic per source:
    K = 10⁴·(Σ_m m²·V_m − N)/N² from the frequency-of-frequencies
    table (V_m = types occurring m times), plus the hapax-legomena
    share — K is length-invariant where the raw type-token ratio is
    not, so it compares sources of different sizes fairly; high K =
    repetitive/templated text, high hapax with low K = rich or noisy
    vocabulary (pairs with q_heaps_law / q_lotka_law).

    Determinism: every sum is exact integer arithmetic on the
    frequency-of-frequencies grain; the two ratios divide in double.

    Scale: tokens collapse to (source, token) then to the tiny
    (source, m) frequency-of-frequencies grain — two map-side-combined
    groupBys, no joins. §2.B aggregation family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source",
            F.explode(
                F.split(F.regexp_replace("text", "[^a-zA-Z ]", " "), " ")
            ).alias("tok"),
        )
        .select("source", F.lower("tok").alias("tok"))
        .filter(F.length("tok") >= 2)
    )
    freq = toks.groupBy("source", "tok").agg(bcount("m"))
    fof = freq.groupBy("source", "m").agg(bcount("vm"))
    n = F.sum(F.col("m") * F.col("vm"))
    return (
        fof.groupBy("source")
        .agg(
            n.cast("bigint").alias("n_tokens"),
            F.sum("vm").cast("bigint").alias("n_types"),
            F.round(
                F.sum(F.when(F.col("m") == 1, F.col("vm")).otherwise(0)).cast(
                    "double"
                )
                / F.sum("vm"),
                6,
            ).alias("hapax_share"),
            F.round(
                10000.0
                * (F.sum(F.col("m") * F.col("m") * F.col("vm")).cast("double") - n)
                / (n.cast("double") * n),
                6,
            ).alias("yule_k"),
        )
        .orderBy("source")
    )
