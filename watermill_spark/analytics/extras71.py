"""Analytics batch 79: Kolmogorov–Smirnov uniformity of the hash space
(the EDF companion to q_chi2_hash_uniformity's binned test), per-source
token coding cost (cross-entropy / KL against the corpus model), and
Tukey-HSD-style post-hoc pairwise comparisons after ANOVA.

The coding-cost query is the compression-lens curation tool: a source
whose cross-entropy under the corpus model is far below the corpus
average is redundant (cheap to predict ⇒ little new information), the
information-theoretic justification behind dedup-by-perplexity filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, hexval8, sql_hexval8
from .distrib import two_level_order
from .registry import load, register


@register(
    "q_ks_hash_uniformity",
    oracle=f"""
    WITH hashed AS (
      SELECT {sql_hexval8("md5('ks1:' || CAST(user_id AS VARCHAR))")} AS hv
      FROM (SELECT DISTINCT user_id FROM events)
    ),
    ranked AS (
      SELECT CAST(hv AS DOUBLE) / 4294967296.0 AS u,
             CAST(ROW_NUMBER() OVER (ORDER BY hv) AS BIGINT) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM hashed
    ),
    devs AS (
      SELECT n,
             MAX(GREATEST(CAST(i AS DOUBLE) / n - u,
                          u - CAST(i - 1 AS DOUBLE) / n)) AS d_stat
      FROM ranked GROUP BY n
    )
    SELECT n AS n_users,
           round(d_stat, 6) AS ks_d,
           round(d_stat * sqrt(CAST(n AS DOUBLE)), 6) AS ks_scaled,
           CASE WHEN d_stat * sqrt(CAST(n AS DOUBLE)) > 1.358
                THEN 'nonuniform' ELSE 'uniform' END AS verdict
    FROM devs
    """,
)
def q_ks_hash_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov uniformity test of the user-hash space: map
    each distinct user's md5 to a [0,1) fraction, D = sup|EDF − u| via
    the two-sided order-statistic formula, scaled √n·D against the 5%
    Kolmogorov critical value 1.358 — the continuous EDF complement to
    q_chi2_hash_uniformity (which bins; KS sees *any* distributional
    wrinkle, not just bucket imbalance), validating the hash before every
    split/salt/sample that assumes uniformity.

    Determinism: hash fractions are exact rationals (hexval/2³²); the
    EDF deviations are fixed-shape doubles with exact-rank inputs; D is
    an exact MAX.

    Scale: distinct → hash → one global sort (rank) → 1-row max. §2.B
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    hashed = ev.select("user_id").distinct().select(
        hexval8(
            F.md5(F.concat(F.lit("ks1:"), F.col("user_id").cast("string")))
        ).alias("hv")
    )
    # r7 (guide §2.5): distributed rank over the data-scaled distinct-user
    # hash stream (distrib.two_level_order) instead of single-task
    # windows; hv ties share u, so the deviation max is tie-invariant.
    ranked = two_level_order(
        hashed.select(
            "hv", (F.col("hv").cast("double") / F.lit(4294967296.0)).alias("u")
        ),
        ["hv"],
        rank_col="i",
        total_count="n",
        project=["u"],
    )
    devs = ranked.groupBy("n").agg(
        F.max(
            F.greatest(
                F.col("i").cast("double") / F.col("n") - F.col("u"),
                F.col("u") - (F.col("i") - 1).cast("double") / F.col("n"),
            )
        ).alias("d_stat")
    )
    scaled = F.col("d_stat") * F.sqrt(F.col("n").cast("double"))
    return devs.select(
        F.col("n").alias("n_users"),
        F.round("d_stat", 6).alias("ks_d"),
        F.round(scaled, 6).alias("ks_scaled"),
        F.when(scaled > 1.358, "nonuniform").otherwise("uniform").alias("verdict"),
    )


@register(
    "q_kl_coding_cost",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS t
      FROM documents
    ),
    clean AS (SELECT source, t FROM tok WHERE t <> ''),
    corpus AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM clean GROUP BY t
    ),
    corpus_n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM corpus),
    src AS (
      SELECT source, t, CAST(COUNT(*) AS BIGINT) AS cs
      FROM clean GROUP BY source, t
    ),
    src_n AS (
      SELECT source, CAST(SUM(cs) AS BIGINT) AS ns FROM src GROUP BY source
    ),
    costs AS (
      SELECT s.source, sn.ns,
             CAST(SUM(CAST((CAST(s.cs AS DOUBLE) / sn.ns)
                      * (-ln(CAST(c.c AS DOUBLE) / cn.n))
                      AS DECIMAL(28,15))) AS DOUBLE) AS cross_ent,
             CAST(SUM(CAST((CAST(s.cs AS DOUBLE) / sn.ns)
                      * ln((CAST(s.cs AS DOUBLE) / sn.ns)
                           / (CAST(c.c AS DOUBLE) / cn.n))
                      AS DECIMAL(28,15))) AS DOUBLE) AS kl
      FROM src s
      JOIN src_n sn USING (source)
      JOIN corpus c USING (t)
      CROSS JOIN corpus_n cn
      GROUP BY s.source, sn.ns
    )
    SELECT source, ns AS n_tokens,
           round(cross_ent / ln(2.0), 6) AS bits_per_token,
           round(kl / ln(2.0), 6) AS kl_bits,
           round((cross_ent - kl) / ln(2.0), 6) AS self_entropy_bits
    FROM costs
    """,
)
def q_kl_coding_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token coding cost under the corpus unigram model:
    cross-entropy H(p_src, p_corpus) in bits/token, its KL component
    (how much the source's own distribution deviates), and the source's
    self-entropy — the compression lens on corpus curation: sources with
    low bits/token are redundant with the corpus (candidates for
    down-sampling), high-KL sources are distributional outliers (inspect
    before training); the distributional companion to q_burrows_delta's
    stylometry and q_js_divergence's symmetric distance.

    Determinism: probabilities are exact integer-count ratios; every
    p·ln(·) term is DECIMAL(28,15)-cast per (source, token) before
    summation (the established entropy discipline).

    Scale: one tokenize pass feeding two count tables; the cost join is
    token-partitioned with map-side combine into |sources| rows. §2.B
    text surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    # ONE tokenize pass (r6): corpus counts are the per-source counts
    # summed over sources, so everything derives from the checkpointed
    # (source, t) grid instead of four tokenize subtrees
    src = tok.groupBy("source", "t").agg(bcount("cs")).localCheckpoint(
        eager=True
    )
    corpus = src.groupBy("t").agg(F.sum("cs").cast("bigint").alias("c"))
    corpus_n = corpus.agg(F.sum("c").cast("bigint").alias("n"))
    src_n = src.groupBy("source").agg(F.sum("cs").cast("bigint").alias("ns"))
    p_s = F.col("cs").cast("double") / F.col("ns")
    p_c = F.col("c").cast("double") / F.col("n")
    costs = (
        src.join(F.broadcast(src_n), "source")
        .join(corpus, "t")
        .crossJoin(F.broadcast(corpus_n))
        .groupBy("source", "ns")
        .agg(
            F.sum((p_s * (-F.log(p_c))).cast("decimal(28,15)"))
            .cast("double")
            .alias("cross_ent"),
            F.sum((p_s * F.log(p_s / p_c)).cast("decimal(28,15)"))
            .cast("double")
            .alias("kl"),
        )
    )
    ln2 = F.log(F.lit(2.0))
    return costs.select(
        "source",
        F.col("ns").alias("n_tokens"),
        F.round(F.col("cross_ent") / ln2, 6).alias("bits_per_token"),
        F.round(F.col("kl") / ln2, 6).alias("kl_bits"),
        F.round((F.col("cross_ent") - F.col("kl")) / ln2, 6).alias(
            "self_entropy_bits"
        ),
    )


@register(
    "q_tukey_hsd",
    oracle="""
    WITH cents AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS vc
      FROM orders
    ),
    per_g AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(vc * vc AS DECIMAL(38,0))) AS DOUBLE) AS s2
      FROM cents GROUP BY g
    ),
    pooled AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(COUNT(*) AS BIGINT) AS k,
             list_reduce(list(s2 - s1 * s1 / n ORDER BY g),
                         (a, b) -> a + b) AS ssw
      FROM per_g
    ),
    pairs AS (
      SELECT a.g AS g1, b.g AS g2,
             a.s1 / a.n AS m1, b.s1 / b.n AS m2,
             a.n AS n1, b.n AS n2,
             p.ssw / (p.n_tot - p.k) AS mse
      FROM per_g a JOIN per_g b ON a.g < b.g
      CROSS JOIN pooled p
    )
    SELECT g1, g2,
           round((m1 - m2) / 100, 2) AS mean_diff_dollars,
           round(abs(m1 - m2)
                 / sqrt(mse / 2 * (1.0 / n1 + 1.0 / n2)), 6) AS q_stat,
           CASE WHEN abs(m1 - m2)
                     / sqrt(mse / 2 * (1.0 / n1 + 1.0 / n2)) > 3.858
                THEN 1 ELSE 0 END AS significant_05
    FROM pairs
    """,
)
def q_tukey_hsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey HSD post-hoc pairwise comparisons of order value across the
    five priorities: for each pair, the studentized-range statistic
    q = |m̄ᵢ−m̄ⱼ| / √(MSE/2·(1/nᵢ+1/nⱼ)) against the q(5, ∞) 0.05
    critical value 3.858 — the follow-up every significant ANOVA
    (q_anova_value_by_type / q_two_way_anova) demands: *which* groups
    differ, with the family-wise error controlled (naive pairwise t-tests
    would inflate it).

    Determinism: group moments in exact integer cents; MSE combines
    within-group SS via the sequential ordered fold; pair algebra is
    fixed-shape doubles.

    Scale: one groupBy pass; pairs run on the 5-row grid. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    cents = o.select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("vc"),
    )
    per_g = cents.groupBy("g").agg(
        bcount("n"),
        F.sum(F.col("vc").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum((F.col("vc") * F.col("vc")).cast("decimal(38,0)"))
        .cast("double")
        .alias("s2"),
    )
    # checkpointed once (r6): pooled/pa/pb each re-derived the per-group
    # moments (3 orders scans in the plan); the ≤|priorities| grid
    # materializes once
    per_g = per_g.localCheckpoint(eager=True)
    ssw_term = F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")
    arr = F.array_sort(F.collect_list(F.struct(F.col("g"), ssw_term.alias("t"))))
    pooled = per_g.agg(
        F.sum("n").cast("bigint").alias("n_tot"),
        bcount("k"),
        F.aggregate(
            F.transform(arr, lambda x: x["t"]), F.lit(0.0), lambda a, x: a + x
        ).alias("ssw"),
    )
    pa = per_g.select(
        F.col("g").alias("g1"),
        (F.col("s1") / F.col("n")).alias("m1"),
        F.col("n").alias("n1"),
    )
    pb = per_g.select(
        F.col("g").alias("g2"),
        (F.col("s1") / F.col("n")).alias("m2"),
        F.col("n").alias("n2"),
    )
    pairs = (
        pa.join(F.broadcast(pb), F.col("g1") < F.col("g2"))
        .crossJoin(F.broadcast(pooled))
        .withColumn("mse", F.col("ssw") / (F.col("n_tot") - F.col("k")))
    )
    q = F.abs(F.col("m1") - F.col("m2")) / F.sqrt(
        F.col("mse") / 2 * (1.0 / F.col("n1") + 1.0 / F.col("n2"))
    )
    return pairs.select(
        "g1",
        "g2",
        F.round((F.col("m1") - F.col("m2")) / 100, 2).alias("mean_diff_dollars"),
        F.round(q, 6).alias("q_stat"),
        F.when(q > 3.858, 1).otherwise(0).alias("significant_05"),
    )
