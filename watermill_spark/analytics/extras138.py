"""Analytics batch 146: blocked edit-distance near-dup mining, Zipf's-law
slope fit, and a functional-dependency audit.

Edit-distance pairs extend the dedup family (exact / MinHash-LSH /
SimHash / token-Jaccard / embedding-cosine already here) with the
character-level notion of near-duplicate that catches OCR noise and
small edits token methods miss; the Zipf slope is the standard corpus
health check (natural text ~ -1; templated/spammy corpora flatten or
steepen); the FD audit is the data-profiling primitive behind key
discovery and join-safety checks.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B join/aggregation families + the LLM-pipeline dedup mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, OLS_SLOPE_SQL, bcount, ols_moments, ols_slope, sql_ols_moments
from .registry import load, register


@register(
    "q_edit_distance_dedup",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lang,
             lower(substr(text, 1, 64)) AS head,
             lower(substr(text, 1, 6)) AS blk
      FROM documents WHERE length(text) >= 6
    ),
    pairs AS (
      SELECT a.lang, a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(levenshtein(a.head, b.head) AS BIGINT) AS dist
      FROM docs a JOIN docs b
        ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
    ),
    kept AS (SELECT * FROM pairs WHERE dist <= 12)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(dist AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_dist,
           CAST(MIN(dist) AS BIGINT) AS min_dist,
           CAST(COUNT(DISTINCT id_a) AS BIGINT) AS n_left_docs
    FROM kept GROUP BY 1 ORDER BY 1
    """,
)
def q_edit_distance_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup mining: candidate pairs blocked on
    (lang, lowercased 6-char prefix), scored by Levenshtein distance
    over the normalized 64-char head, kept at dist ≤ 12 — the
    OCR-noise/small-edit notion of duplicate that token-level methods
    (q_dedup_jaccard_pairs, q_dedup_minhash_lsh) miss. Per language:
    pair count, mean distance, closest pair, distinct left docs.

    Determinism: levenshtein is an integer metric with one standard
    definition in both engines; means route through DECIMAL. The Spark
    side scores with the threshold form ``levenshtein(a, b, 12)`` (banded
    DP, returns -1 past the threshold) — for every pair the oracle keeps
    (dist ≤ 12) the banded distance equals the full distance, so the
    published values are engine-identical.

    Scale (rewritten after the sf5 engine sweep caught a >300 s stall):
    the naive (lang, prefix) self-join is an equi-join, but candidate
    volume is QUADRATIC IN THE LARGEST BLOCK — on this 31-token-vocabulary
    corpus one block holds 4.5k docs at sf5 (~20M pairs), and because a
    block is one join-key group, all ~20M interpreted per-pair levenshtein
    evaluations landed in ONE task. AQE's skew-join split never fires: the
    skewed partition is <1 MB — byte-based skew heuristics are blind to
    join-CONDITION compute skew. Two physical fixes, semantics untouched:
    (1) chunk-salted pair enumeration — each doc gets a deterministic
    chunk ``ca = xxhash64(doc_id) % S``; the left side explodes to target
    chunks [ca, S), the join adds ``target == b.ca`` to the key, and
    (ca < b.ca) OR (ca == b.ca AND id < id) keeps each unordered pair
    exactly once — the mega-block's pairs now spread across S tasks;
    (2) the distance moved OUT of the join condition into a post-join
    projection (codegen) using the banded threshold form. At 100 TB the
    same shape holds: S scales with max-block-size²/target-task-pairs.
    The 64-char head cap bounds per-pair cost at O(13·64) cells. §2.B
    join family + dedup mandate [NS].
    """
    S = 32  # salt chunks: max-block pairs per task ~ (4.5k)^2/S at sf5
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.length("text") >= 6)
        .select(
            "doc_id",
            "lang",
            F.lower(F.substring("text", 1, 64)).alias("head"),
            F.lower(F.substring("text", 1, 6)).alias("blk"),
            F.pmod(F.xxhash64("doc_id"), F.lit(S)).cast("int").alias("ca"),
        )
        # checkpointed once (r6): both blocked self-join sides re-scanned
        # documents (2 scans in the plan); the narrow doc-domain
        # projection materializes once (posting-list class)
        .localCheckpoint(eager=True)
    )
    a = d.select(*[F.col(c).alias(f"a_{c}") for c in d.columns]).withColumn(
        "tj", F.explode(F.sequence(F.col("a_ca"), F.lit(S - 1)))
    )
    b = d.select(*[F.col(c).alias(f"b_{c}") for c in d.columns])
    pairs = a.join(
        b,
        (F.col("a_lang") == F.col("b_lang"))
        & (F.col("a_blk") == F.col("b_blk"))
        & (F.col("tj") == F.col("b_ca"))
        & (
            (F.col("a_ca") < F.col("b_ca"))
            | (
                (F.col("a_ca") == F.col("b_ca"))
                & (F.col("a_doc_id") < F.col("b_doc_id"))
            )
        ),
    ).select(
        F.col("a_lang").alias("lang"),
        F.least("a_doc_id", "b_doc_id").alias("id_a"),
        F.greatest("a_doc_id", "b_doc_id").alias("id_b"),
        F.levenshtein(F.col("a_head"), F.col("b_head"), 12)
        .cast("bigint")
        .alias("dist"),
    )
    kept = pairs.filter((F.col("dist") >= 0) & (F.col("dist") <= 12))
    return (
        kept.groupBy("lang")
        .agg(
            bcount("n_pairs"),
            F.round(
                F.sum(F.col("dist").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_dist"),
            F.min("dist").cast("bigint").alias("min_dist"),
            F.countDistinct("id_a").cast("bigint").alias("n_left_docs"),
        )
        .orderBy("lang")
    )


@register(
    "q_zipf_slope",
    oracle=f"""
    WITH toks AS (
      SELECT lower(tok) AS tok
      FROM documents,
           UNNEST(string_split(regexp_replace(text, '[^a-zA-Z ]', ' ', 'g'),
                               ' ')) AS t(tok)
      WHERE length(tok) >= 2
    ),
    freq AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM toks GROUP BY 1
    ),
    ranked AS (
      SELECT f, CAST(ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS BIGINT)
               AS r
      FROM freq
    ),
    top AS (
      SELECT ln(CAST(r AS DOUBLE)) AS x, ln(CAST(f AS DOUBLE)) AS y
      FROM ranked WHERE r <= 200
    ),
    mom AS (
      SELECT {sql_ols_moments(sq=D15)}
      FROM top
    )
    SELECT n AS n_ranks,
           round({OLS_SLOPE_SQL}, 6)
             AS zipf_slope,
           round((sy - {OLS_SLOPE_SQL} * sx) / n,
                 6) AS intercept,
           round(exp((sy - {OLS_SLOPE_SQL} * sx)
                     / n), 2) AS implied_top_freq
    FROM mom
    """,
)
def q_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus vocabulary: OLS slope of
    ln(frequency) on ln(rank) for the top-200 tokens — natural text
    sits near −1; a flat slope flags templated or deduplicated-to-death
    corpora, a steep one flags boilerplate domination. Reports the
    slope, intercept, and the intercept's implied top-rank frequency.

    Determinism: ranks carry a token tiebreak; the OLS moments are
    decimal-exact sums over the 200 fixed (x, y) points; ln/exp touch
    identical double inputs on both engines and the result rounds at 6.

    Scale: tokenization is a narrow map + one groupBy to the vocab
    grain; the rank window sorts the vocabulary (bounded, Heaps-law
    sublinear); the regression reads 200 rows. §2.B aggregation family
    + text-analysis mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            F.explode(
                F.split(F.regexp_replace("text", "[^a-zA-Z ]", " "), " ")
            ).alias("tok")
        )
        .select(F.lower("tok").alias("tok"))
        .filter(F.length("tok") >= 2)
    )
    freq = toks.groupBy("tok").agg(bcount("f"))
    ranked = freq.select(
        "f",
        F.row_number()
        .over(Window.orderBy(F.col("f").desc(), "tok"))
        .cast("bigint")
        .alias("r"),
    ).filter(F.col("r") <= 200)
    top = ranked.select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("f").cast("double")).alias("y"),
    )
    mom = top.agg(
        *ols_moments(sq=D15),
    )
    slope = ols_slope()
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("n")
    return mom.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("intercept"),
        F.round(F.exp(intercept), 2).alias("implied_top_freq"),
    )


@register(
    "q_functional_dependency_audit",
    oracle="""
    WITH fd AS (
      SELECT 'orders' AS tbl, 'o_orderkey' AS lhs, 'o_custkey' AS rhs,
             l, nd
      FROM (SELECT o_orderkey AS l,
                   CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS nd
            FROM orders GROUP BY 1)
      UNION ALL
      SELECT 'lineitem', 'l_orderkey', 'l_returnflag', l, nd
      FROM (SELECT l_orderkey AS l,
                   CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) AS nd
            FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'lineitem', 'l_partkey', 'l_suppkey', l, nd
      FROM (SELECT l_partkey AS l,
                   CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd
            FROM lineitem GROUP BY 1)
      UNION ALL
      SELECT 'part', 'p_brand', 'p_type', l, nd
      FROM (SELECT CAST(ROW_NUMBER() OVER (ORDER BY p_brand) AS BIGINT)
                     AS l,
                   CAST(COUNT(DISTINCT p_type) AS BIGINT) AS nd
            FROM part GROUP BY p_brand)
    )
    SELECT tbl, lhs, rhs,
           CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violating,
           CAST(MAX(nd) AS BIGINT) AS max_distinct_rhs,
           CAST(MAX(nd) = 1 AS BOOLEAN) AS holds
    FROM fd GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit over four candidate FDs (orders:
    orderkey→custkey; lineitem: orderkey→returnflag, partkey→suppkey;
    part: brand→type): per candidate, the LHS group count, how many
    groups see more than one RHS value, the worst fan-out, and whether
    the FD holds — the profiling primitive behind key discovery,
    join-safety checks, and denormalization validation.

    Determinism: verdicts are counts over exact groupings; no floats.
    The summary aggregates are invariant to any relabeling of the LHS
    values, so each candidate keeps its natural key type and the union
    happens at the 4-row summary level, not the row level.

    Scale: each candidate is one map-side-combined two-level groupBy;
    candidates scan their table once each (a production profiler
    unions same-table candidates into a single pass). §2.B aggregation
    family [NS].
    """
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    p = load(spark, sf_dir, "part")

    def fd(df: DataFrame, tbl: str, lhs: str, rhs: str, l, r) -> DataFrame:
        grp = (
            df.select(l.alias("l"), r.cast("string").alias("r"))
            .groupBy("l")
            .agg(F.countDistinct("r").cast("bigint").alias("nd"))
        )
        return grp.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(lhs).alias("lhs"),
            F.lit(rhs).alias("rhs"),
            bcount("n_groups"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_violating"),
            F.max("nd").cast("bigint").alias("max_distinct_rhs"),
            (F.max("nd") == 1).alias("holds"),
        ).select(
            "tbl", "lhs", "rhs", "n_groups", "n_violating",
            "max_distinct_rhs", "holds",
        )

    res = (
        fd(o, "orders", "o_orderkey", "o_custkey",
           F.col("o_orderkey"), F.col("o_custkey"))
        .unionByName(
            fd(li, "lineitem", "l_orderkey", "l_returnflag",
               F.col("l_orderkey"), F.col("l_returnflag"))
        )
        .unionByName(
            fd(li, "lineitem", "l_partkey", "l_suppkey",
               F.col("l_partkey"), F.col("l_suppkey"))
        )
        .unionByName(
            fd(p, "part", "p_brand", "p_type",
               F.col("p_brand"), F.col("p_type"))
        )
    )
    return res.orderBy("tbl", "lhs", "rhs")
