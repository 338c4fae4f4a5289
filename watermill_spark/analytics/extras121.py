"""Analytics batch 129: ROUGE-1 overlap scoring for near-dup candidates,
embedding class-separation audit, and a lognormal KS fit with a
cross-engine normal CDF.

ROUGE-1 precision/recall/F1 is the summarization-eval vocabulary applied
to dedup: for candidate near-dup pairs, how much of each document's
unigram mass the other covers — the interpretable complement to raw
Jaccard. Class separation (within-class vs between-class centroid
cosine) is the embedding-quality smoke test run before trusting labels
or clustering. The lognormal fit closes the distribution-fit family
with the text-pipeline classic (document lengths are canonically
lognormal), and introduces a forward normal CDF (Abramowitz–Stegun
7.1.26 polynomial — a fixed double formula both engines evaluate
identically) that unlocks KS tests against fitted Gaussians.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register, spread
from .relations import PREFIX_PAIRS_SQL, prefix_blocks, prefix_pairs

# Abramowitz & Stegun 7.1.26 erf approximation constants (|err| < 1.5e-7)
_AS_P = 0.3275911
_AS_A = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)


def phi_cdf_sql(x: str) -> str:
    """Standard normal CDF Φ(x) via the A&S 7.1.26 erf polynomial."""
    z = f"(abs({x}) / 1.4142135623730951)"
    t = f"(1.0 / (1.0 + {_AS_P} * {z}))"
    poly = (
        f"((((({_AS_A[4]} * {t} + {_AS_A[3]}) * {t} + {_AS_A[2]}) * {t}"
        f" + {_AS_A[1]}) * {t} + {_AS_A[0]}) * {t})"
    )
    erf = f"(1.0 - {poly} * exp(-{z} * {z}))"
    return (
        f"(CASE WHEN ({x}) >= 0 THEN 0.5 * (1.0 + {erf})"
        f" ELSE 0.5 * (1.0 - {erf}) END)"
    )


def phi_cdf_col(x: Column) -> Column:
    """Φ(x) as a Spark Column — same A&S 7.1.26 path as phi_cdf_sql."""
    z = F.abs(x) / 1.4142135623730951
    t = 1.0 / (1.0 + _AS_P * z)
    poly = (
        (((F.lit(_AS_A[4]) * t + _AS_A[3]) * t + _AS_A[2]) * t + _AS_A[1]) * t
        + _AS_A[0]
    ) * t
    erf = 1.0 - poly * F.exp(-z * z)
    return F.when(x >= 0, 0.5 * (1.0 + erf)).otherwise(0.5 * (1.0 - erf))


@register(
    "q_rouge1_pairs",
    oracle=f"""
    WITH {PREFIX_PAIRS_SQL},
    toks AS (
      SELECT da, db, 'a' AS side, unnest(ta) AS tok FROM cand
      UNION ALL
      SELECT da, db, 'b', unnest(tb) FROM cand
    ),
    counts AS (
      SELECT da, db, tok,
             CAST(SUM(CASE WHEN side = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
             CAST(SUM(CASE WHEN side = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM toks GROUP BY 1, 2, 3
    ),
    scores AS (
      SELECT da, db,
             CAST(SUM(LEAST(ca, cb)) AS BIGINT) AS overlap,
             CAST(SUM(ca) AS BIGINT) AS na,
             CAST(SUM(cb) AS BIGINT) AS nb
      FROM counts GROUP BY 1, 2
    )
    SELECT da AS doc_a, db AS doc_b, overlap,
           round(CAST(overlap AS DOUBLE) / nb, 6) AS rouge1_precision,
           round(CAST(overlap AS DOUBLE) / na, 6) AS rouge1_recall,
           round(2.0 * overlap / (na + nb), 6) AS rouge1_f1
    FROM scores
    ORDER BY rouge1_f1 DESC, doc_a, doc_b
    """,
)
def q_rouge1_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-1 scoring of prefix-blocked near-dup candidates: for pairs
    sharing an 8-token prefix (q_prefix_dup_groups' blocking key),
    unigram-multiset overlap = Σ min(count_a, count_b) gives clipped
    precision (vs doc B), recall (vs doc A) and F1 — the summarization
    vocabulary applied to dedup triage, more interpretable than raw
    Jaccard when deciding which member of a template cluster to keep
    (pairs with high recall but low precision are contained-in
    relations, cf. q_shingle_containment).

    Determinism: token counts are exact integers; ratios divide in
    double; (f1 desc, ids) total order.

    Scale: candidates come from the prefix-hash equi-join (bounded
    blocks); scoring explodes only candidate pairs' tokens — never the
    corpus cross product. §2.B [NS] / LLM-pipeline surface.
    """
    # checkpointed once (r6): both blocking-join sides re-scanned and
    # re-tokenized documents, and the a/b explode union re-derived the
    # join (4 document scans in the plan); the tokenized doc table and
    # the blocking-pruned candidate pairs each materialize once
    pre = prefix_blocks(spark, sf_dir).localCheckpoint(eager=True)
    cand = prefix_pairs(pre).localCheckpoint(eager=True)
    toks = cand.select(
        "da", "db", F.lit("a").alias("side"), F.explode("ta").alias("tok")
    ).unionByName(
        cand.select(
            "da", "db", F.lit("b").alias("side"), F.explode("tb").alias("tok")
        )
    )
    counts = toks.groupBy("da", "db", "tok").agg(
        F.sum(F.when(F.col("side") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("side") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    scores = counts.groupBy("da", "db").agg(
        F.sum(F.least("ca", "cb")).cast("bigint").alias("overlap"),
        F.sum("ca").cast("bigint").alias("na"),
        F.sum("cb").cast("bigint").alias("nb"),
    )
    return scores.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        "overlap",
        F.round(F.col("overlap").cast("double") / F.col("nb"), 6).alias(
            "rouge1_precision"
        ),
        F.round(F.col("overlap").cast("double") / F.col("na"), 6).alias(
            "rouge1_recall"
        ),
        F.round(2.0 * F.col("overlap") / (F.col("na") + F.col("nb")), 6).alias(
            "rouge1_f1"
        ),
    ).orderBy(F.desc("rouge1_f1"), F.asc("doc_a"), F.asc("doc_b"))


@register(
    "q_embedding_class_separation",
    oracle="""
    WITH vecs AS MATERIALIZED (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
    ),
    cents AS MATERIALIZED (
      SELECT label, u.g AS dim,
             CAST(SUM(CAST(e[u.g] AS DECIMAL(38,15))) AS DOUBLE)
               / COUNT(*) AS mu
      FROM vecs, LATERAL (SELECT unnest(range(1, len(e) + 1)) AS g) u
      GROUP BY label, u.g
    ),
    carr AS MATERIALIZED (
      SELECT label, list(mu ORDER BY dim) AS c FROM cents GROUP BY label
    ),
    within AS (
      SELECT v.label,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(list_cosine_similarity(v.e, c.c), 6)
                           AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS wc
      FROM vecs v JOIN carr c ON c.label = v.label
      GROUP BY v.label
    ),
    between_c AS (
      SELECT a.label AS la, b.label AS lb,
             round(list_cosine_similarity(a.c, b.c), 6) AS bc
      FROM carr a JOIN carr b ON a.label < b.label
    )
    SELECT w.label,
           w.n AS n_vectors,
           round(w.wc, 6) AS within_cos,
           round((SELECT CAST(SUM(CAST(bc AS DECIMAL(38,15))) AS DOUBLE)
                         / COUNT(*)
                  FROM between_c bb
                  WHERE bb.la = w.label OR bb.lb = w.label), 6)
             AS between_cos,
           round(w.wc - (SELECT CAST(SUM(CAST(bc AS DECIMAL(38,15)))
                                     AS DOUBLE) / COUNT(*)
                         FROM between_c bb
                         WHERE bb.la = w.label OR bb.lb = w.label), 6)
             AS separation
    FROM within w
    ORDER BY w.label
    """,
)
def q_embedding_class_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding class-separation audit: per label, the mean cosine of
    members to their own class centroid (within) vs the mean cosine of
    that centroid to every other centroid (between); separation =
    within − between. The fast discriminant smoke test run before
    trusting labels for retrieval filtering or few-shot selection —
    high within + low between means the classes are real in embedding
    space (the centroid-level view behind q_silhouette_by_label's
    per-point score and q_label_centroids' raw centroids).

    Determinism: centroid sums ride DECIMAL(38,15); cosines round to
    6dp; centroid arrays assemble in explicit dim order.

    Scale: one positional-explode rollup to |labels|×|dims| centroid
    rows, one member→centroid scoring pass (linear), and a
    |labels|² centroid grid. §2.B [NS] / LLM-pipeline surface.
    """
    from .similarity import cosine

    from .similarity import _dot

    emb = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    ).withColumn("nrm", F.sqrt(_dot("e", "e")))
    cents = (
        emb.select("label", F.posexplode("e").alias("p", "v"))
        .groupBy("label", (F.col("p") + 1).alias("dim"))
        .agg(
            (
                F.sum(F.col("v").cast(D15)).cast("double") / F.count(F.lit(1))
            ).alias("mu")
        )
    )
    carr = cents.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "mu"))), lambda s: s["mu"]
        ).alias("c")
    ).localCheckpoint(eager=True)
    carr = carr.withColumn("c_n", F.sqrt(_dot("c", "c")))
    within = (
        emb.join(F.broadcast(carr), "label")
        # per-side norms precomputed before the corpus-scale join (r6)
        .select("label", F.round(_dot("e", "c") / (F.col("nrm") * F.col("c_n")), 6).alias("wc"))
        .groupBy("label")
        .agg(
            bcount("n"),
            (
                F.sum(F.col("wc").cast(D15)).cast("double") / F.count(F.lit(1))
            ).alias("wc"),
        )
    )
    ca = carr.select(F.col("label").alias("la"), F.col("c").alias("cea"))
    cb = carr.select(F.col("label").alias("lb"), F.col("c").alias("ceb"))
    between_c = (
        ca.join(cb, F.col("la") < F.col("lb"))
        .select("la", "lb", F.round(cosine("cea", "ceb"), 6).alias("bc"))
    )
    per_label = (
        between_c.select(F.col("la").alias("label"), "bc")
        .unionByName(between_c.select(F.col("lb").alias("label"), "bc"))
        .groupBy("label")
        .agg(
            (
                F.sum(F.col("bc").cast(D15)).cast("double") / F.count(F.lit(1))
            ).alias("between_cos")
        )
    )
    return (
        within.join(F.broadcast(per_label), "label")
        .select(
            "label",
            F.col("n").alias("n_vectors"),
            F.round("wc", 6).alias("within_cos"),
            F.round("between_cos", 6).alias("between_cos"),
            F.round(F.col("wc") - F.col("between_cos"), 6).alias("separation"),
        )
        .orderBy("label")
    )


@register(
    "q_doc_length_lognormal_ks",
    oracle=f"""
    WITH x AS MATERIALIZED (
      SELECT doc_id, ln(CAST(n_chars AS DOUBLE)) AS lx FROM documents
      WHERE n_chars > 0
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(lx AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM x
    ),
    fit2 AS (
      SELECT f.n, f.mu,
             sqrt(CAST(SUM(CAST((x.lx - f.mu) * (x.lx - f.mu)
                                AS DECIMAL(38,15))) AS DOUBLE) / f.n) AS sig
      FROM x, fit f GROUP BY f.n, f.mu
    ),
    ranked AS (
      SELECT x.lx, f.n, f.mu, f.sig,
             CAST(row_number() OVER (ORDER BY x.lx, x.doc_id) AS DOUBLE) AS r
      FROM x, fit2 f
    ),
    ks AS (
      SELECT n, mu, sig,
             MAX(GREATEST(
               abs(r / n - {phi_cdf_sql('(lx - mu) / sig')}),
               abs({phi_cdf_sql('(lx - mu) / sig')} - (r - 1) / n))) AS d
      FROM ranked GROUP BY n, mu, sig
    )
    SELECT n AS n_docs,
           round(mu, 6) AS lognormal_mu,
           round(sig, 6) AS lognormal_sigma,
           round(exp(mu), 6) AS median_chars,
           round(d, 6) AS ks_stat,
           round(d * sqrt(CAST(n AS DOUBLE)), 6) AS ks_scaled
    FROM ks
    """,
)
def q_doc_length_lognormal_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lognormal fit of document lengths with a KS goodness check:
    MLE μ̂, σ̂ of ln(n_chars), then the Kolmogorov–Smirnov sup-distance
    between the empirical CDF and Φ((ln x − μ̂)/σ̂) using the
    Abramowitz–Stegun forward normal CDF (fixed double polynomial —
    this batch's new cross-engine primitive, the forward twin of
    extras107's Acklam Φ⁻¹). Document lengths are canonically lognormal;
    a large KS flags truncation or mixture (two sources with different
    length regimes), feeding the curation gates (q_gopher_quality_rules
    word-count bounds). exp(μ̂) is the fitted median length.

    Determinism: log-moments ride DECIMAL(38,15) (two-pass σ); the ECDF
    uses a (value, doc_id) total order; Φ is branch-identical.

    Scale: one narrow map + moments, one global sort for the ECDF (the
    KS shape of q_ks_hash_uniformity). §2.B [NS] / LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    x = docs.filter(F.col("n_chars") > 0).select(
        "doc_id", F.log(F.col("n_chars").cast("double")).alias("lx")
    )
    # checkpointed once (r6): the mean, the sigma pass, and the ranked
    # KS pass each re-scanned documents (3 scans in the plan); the
    # two-column length table materializes once
    x = x.localCheckpoint(eager=True)
    fit = x.agg(
        bcount("n"),
        (F.sum(F.col("lx").cast(D15)).cast("double") / F.count(F.lit(1))).alias(
            "mu"
        ),
    )
    fit2 = (
        x.crossJoin(F.broadcast(fit))
        .groupBy("n", "mu")
        .agg(
            F.sqrt(
                F.sum(
                    ((F.col("lx") - F.col("mu")) * (F.col("lx") - F.col("mu"))).cast(
                        D15
                    )
                ).cast("double")
                / F.col("n")
            ).alias("sig")
        )
    )
    ranked = x.crossJoin(F.broadcast(fit2)).select(
        "lx",
        "n",
        "mu",
        "sig",
        F.row_number().over(Window.orderBy("lx", "doc_id")).cast("double").alias("r"),
    )
    cdf = phi_cdf_col((F.col("lx") - F.col("mu")) / F.col("sig"))
    d = F.max(
        F.greatest(
            F.abs(F.col("r") / F.col("n") - cdf),
            F.abs(cdf - (F.col("r") - 1) / F.col("n")),
        )
    )
    return (
        ranked.groupBy("n", "mu", "sig")
        .agg(d.alias("d"))
        .select(
            F.col("n").alias("n_docs"),
            F.round("mu", 6).alias("lognormal_mu"),
            F.round("sig", 6).alias("lognormal_sigma"),
            F.round(F.exp("mu"), 6).alias("median_chars"),
            F.round("d", 6).alias("ks_stat"),
            F.round(F.col("d") * F.sqrt(F.col("n").cast("double")), 6).alias(
                "ks_scaled"
            ),
        )
    )
