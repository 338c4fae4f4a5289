"""Analytics batch 80: a gravity model of the nation trade matrix
(two-regressor log-linear OLS solved in closed form by Cramer's rule),
the Chao1 richness estimator for the corpus vocabulary, and the Rényi
entropy spectrum of the token distribution.

Chao1 answers the question Heaps' law (q_heaps_law) extrapolates —
"how many types exist that we haven't seen?" — from just the singleton
and doubleton counts; the Rényi spectrum generalizes Shannon entropy
(α=1) with the hill numbers used in diversity profiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register
from .extras9 import NATION_TRADE_EDGES_SQL, nation_trade_edges


@register(
    "q_gravity_model",
    oracle=f"""
    WITH edges AS MATERIALIZED ({NATION_TRADE_EDGES_SQL}),
    exp_m AS (
      SELECT src, CAST(SUM(w) AS BIGINT) AS out_w FROM edges GROUP BY src
    ),
    imp_m AS (
      SELECT dst, CAST(SUM(w) AS BIGINT) AS in_w FROM edges GROUP BY dst
    ),
    obs AS (
      SELECT CAST(ln(CAST(e.w AS DOUBLE)) AS DECIMAL(18,12)) AS y,
             CAST(ln(CAST(x.out_w AS DOUBLE)) AS DECIMAL(18,12)) AS x1,
             CAST(ln(CAST(m.in_w AS DOUBLE)) AS DECIMAL(18,12)) AS x2
      FROM edges e
      JOIN exp_m x ON x.src = e.src
      JOIN imp_m m ON m.dst = e.dst
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS DOUBLE) AS s1,
             CAST(SUM(x2) AS DOUBLE) AS s2,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x1 AS DOUBLE) * CAST(x1 AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS s11,
             CAST(SUM(CAST(CAST(x2 AS DOUBLE) * CAST(x2 AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS s22,
             CAST(SUM(CAST(CAST(x1 AS DOUBLE) * CAST(x2 AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS s12,
             CAST(SUM(CAST(CAST(x1 AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS s1y,
             CAST(SUM(CAST(CAST(x2 AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS s2y,
             CAST(SUM(CAST(CAST(y AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS syy
      FROM obs
    ),
    ctr AS (
      SELECT n,
             s11 - s1 * s1 / n AS a11, s12 - s1 * s2 / n AS a12,
             s22 - s2 * s2 / n AS a22,
             s1y - s1 * sy / n AS b1v, s2y - s2 * sy / n AS b2v,
             syy - sy * sy / n AS styy,
             s1 / n AS m1, s2 / n AS m2, sy / n AS my
      FROM mom
    ),
    fit AS (
      SELECT n, styy, m1, m2, my, b1v, b2v,
             (b1v * a22 - b2v * a12) / (a11 * a22 - a12 * a12) AS b1,
             (b2v * a11 - b1v * a12) / (a11 * a22 - a12 * a12) AS b2
      FROM ctr
    )
    SELECT n AS n_flows,
           round(b1, 6) AS elasticity_exports,
           round(b2, 6) AS elasticity_imports,
           round(my - b1 * m1 - b2 * m2, 6) AS intercept,
           round((b1 * b1v + b2 * b2v) / styy, 6) AS r_squared
    FROM fit
    """,
)
def q_gravity_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gravity model of trade flows: ln(flowᵢⱼ) = α + β₁ln(exportsᵢ) +
    β₂ln(importsⱼ), the two-regressor OLS solved in closed form by
    Cramer's rule on the centered normal equations — international
    economics' workhorse regression, here grading how well mass terms
    alone explain the nation trade matrix (R²), with the two elasticities
    as the headline numbers (complements q_rca_trade_index's
    specialization view; first multi-regressor fit in the engine beyond
    q_fixed_effects_ols's within-transform).

    Determinism: margins are exact integer sums; ln coordinates are
    decimal-cast per flow before the moment sums; Cramer algebra is
    fixed-shape doubles.

    Scale: the obs table is the ≤|nations|² flow grid with broadcast
    margins; one moment pass → 1-row solve. §2.B [NS].
    """
    edges = nation_trade_edges(spark, sf_dir).localCheckpoint(eager=True)
    exp_m = edges.groupBy("src").agg(F.sum("w").cast("bigint").alias("out_w"))
    imp_m = edges.groupBy("dst").agg(F.sum("w").cast("bigint").alias("in_w"))
    obs = (
        edges.join(F.broadcast(exp_m), "src")
        .join(F.broadcast(imp_m), "dst")
        .select(
            F.log(F.col("w").cast("double")).cast("decimal(18,12)").alias("y"),
            F.log(F.col("out_w").cast("double")).cast("decimal(18,12)").alias("x1"),
            F.log(F.col("in_w").cast("double")).cast("decimal(18,12)").alias("x2"),
        )
    )

    def cross(a: str, b: str, alias: str):
        return (
            F.sum(
                (F.col(a).cast("double") * F.col(b).cast("double")).cast(
                    "decimal(28,12)"
                )
            )
            .cast("double")
            .alias(alias)
        )

    mom = obs.agg(
        bcount("n"),
        F.sum("x1").cast("double").alias("s1"),
        F.sum("x2").cast("double").alias("s2"),
        F.sum("y").cast("double").alias("sy"),
        cross("x1", "x1", "s11"),
        cross("x2", "x2", "s22"),
        cross("x1", "x2", "s12"),
        cross("x1", "y", "s1y"),
        cross("x2", "y", "s2y"),
        cross("y", "y", "syy"),
    )
    n = F.col("n")
    a11 = F.col("s11") - F.col("s1") * F.col("s1") / n
    a12 = F.col("s12") - F.col("s1") * F.col("s2") / n
    a22 = F.col("s22") - F.col("s2") * F.col("s2") / n
    b1v = F.col("s1y") - F.col("s1") * F.col("sy") / n
    b2v = F.col("s2y") - F.col("s2") * F.col("sy") / n
    styy = F.col("syy") - F.col("sy") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    b1 = (b1v * a22 - b2v * a12) / det
    b2 = (b2v * a11 - b1v * a12) / det
    return mom.select(
        n.alias("n_flows"),
        F.round(b1, 6).alias("elasticity_exports"),
        F.round(b2, 6).alias("elasticity_imports"),
        F.round(
            F.col("sy") / n - b1 * F.col("s1") / n - b2 * F.col("s2") / n, 6
        ).alias("intercept"),
        F.round((b1 * b1v + b2 * b2v) / styy, 6).alias("r_squared"),
    )


@register(
    "q_chao1_richness",
    oracle="""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE t <> '' GROUP BY t
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(COUNT(*) FILTER (WHERE c = 1) AS BIGINT) AS f1,
             CAST(COUNT(*) FILTER (WHERE c = 2) AS BIGINT) AS f2,
             CAST(SUM(c) AS BIGINT) AS n_tokens
      FROM counts
    )
    SELECT s_obs AS observed_types, f1 AS singletons, f2 AS doubletons,
           n_tokens,
           round(s_obs + CAST(f1 AS DOUBLE) * f1 / (2 * (f2 + 1)), 1)
             AS chao1_estimate,
           round((s_obs + CAST(f1 AS DOUBLE) * f1 / (2 * (f2 + 1)))
                 / s_obs, 4) AS undetected_factor,
           round(1.0 - CAST(f1 AS DOUBLE) / n_tokens, 6)
             AS sample_coverage
    FROM s
    """,
)
def q_chao1_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 richness estimate of the corpus vocabulary: Ŝ = S_obs +
    f₁²/(2(f₂+1)) from the singleton/doubleton counts, plus Good–Turing
    sample coverage 1 − f₁/N — the "how much vocabulary haven't we
    crawled yet" estimator (ecology's species-richness bound applied to
    types), the finite-sample answer to what q_heaps_law extrapolates and
    what q_doc_hapax counts per document.

    All-integer inputs (frequency-of-frequency counts); the estimate is
    one fixed-shape double expression (bias-corrected form, safe when
    f₂=0).

    Scale: tokenize → token counts → 4-cell frequency-of-frequencies —
    all map-side combined. §2.B text surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    counts = tok.groupBy("t").agg(bcount("c"))
    s = counts.agg(
        bcount("s_obs"),
        F.count_if(F.col("c") == 1).cast("bigint").alias("f1"),
        F.count_if(F.col("c") == 2).cast("bigint").alias("f2"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    chao = F.col("s_obs") + F.col("f1").cast("double") * F.col("f1") / (
        2 * (F.col("f2") + 1)
    )
    return s.select(
        F.col("s_obs").alias("observed_types"),
        F.col("f1").alias("singletons"),
        F.col("f2").alias("doubletons"),
        "n_tokens",
        F.round(chao, 1).alias("chao1_estimate"),
        F.round(chao / F.col("s_obs"), 4).alias("undetected_factor"),
        F.round(
            1.0 - F.col("f1").cast("double") / F.col("n_tokens"), 6
        ).alias("sample_coverage"),
    )


@register(
    "q_renyi_spectrum",
    oracle="""
    WITH tok AS (
      SELECT UNNEST(string_split(text, ' ')) AS t FROM documents
    ),
    counts AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE t <> '' GROUP BY t
    ),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM counts),
    terms AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(SUM(CAST(-(CAST(c AS DOUBLE) / nn.n)
                      * ln(CAST(c AS DOUBLE) / nn.n)
                      AS DECIMAL(28,15))) AS DOUBLE) AS h1,
             CAST(SUM(CAST((CAST(c AS DOUBLE) / nn.n)
                      * (CAST(c AS DOUBLE) / nn.n)
                      AS DECIMAL(28,15))) AS DOUBLE) AS p2,
             CAST(MAX(c) AS BIGINT) AS cmax,
             MAX(nn.n) AS n
      FROM counts, n nn GROUP BY nn.n
    )
    SELECT s_obs AS n_types,
           round(ln(CAST(s_obs AS DOUBLE)), 6) AS renyi_0,
           round(h1, 6) AS renyi_1_shannon,
           round(-ln(p2), 6) AS renyi_2,
           round(-ln(CAST(cmax AS DOUBLE) / n), 6) AS renyi_inf,
           round(exp(h1), 1) AS hill_1_effective_types,
           round(1.0 / p2, 1) AS hill_2_effective_types
    FROM terms
    """,
)
def q_renyi_spectrum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rényi entropy spectrum of the corpus token distribution at
    α = 0, 1, 2, ∞ (ln S, Shannon, collision entropy, min-entropy) with
    the corresponding Hill numbers (effective type counts) — the
    diversity *profile* whose spread between orders reveals how dominated
    the distribution is (uniform ⇒ all equal; Zipfian ⇒ steep decay),
    unifying q_doc_zipf / q_token_freq / q_user_entropy into one curve;
    min-entropy is also the password-strength/guessability number.

    Determinism: probabilities are exact count ratios; the Shannon and
    collision sums are per-term DECIMAL(28,15)-cast; α=0 and α=∞ need
    only integer counts.

    Scale: tokenize → token counts → 1-row spectrum, all map-side
    combined. §2.B text surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(F.explode(F.split("text", " ")).alias("t")).filter(
        F.col("t") != ""
    )
    # checkpointed once (r6): the total and the spectrum pass each
    # re-scanned documents and re-ran the tokenize explode (2 passes in
    # the plan); the type-count grid materializes once (posting-list
    # class: state linear in the vocabulary)
    counts = tok.groupBy("t").agg(bcount("c")).localCheckpoint(eager=True)
    nn = counts.agg(F.sum("c").cast("bigint").alias("n"))
    j = counts.crossJoin(F.broadcast(nn))
    p = F.col("c").cast("double") / F.col("n")
    terms = j.groupBy("n").agg(
        bcount("s_obs"),
        F.sum((-p * F.log(p)).cast("decimal(28,15)")).cast("double").alias("h1"),
        F.sum((p * p).cast("decimal(28,15)")).cast("double").alias("p2"),
        F.max("c").cast("bigint").alias("cmax"),
    )
    return terms.select(
        F.col("s_obs").alias("n_types"),
        F.round(F.log(F.col("s_obs").cast("double")), 6).alias("renyi_0"),
        F.round("h1", 6).alias("renyi_1_shannon"),
        F.round(-F.log("p2"), 6).alias("renyi_2"),
        F.round(-F.log(F.col("cmax").cast("double") / F.col("n")), 6).alias(
            "renyi_inf"
        ),
        F.round(F.exp("h1"), 1).alias("hill_1_effective_types"),
        F.round(1.0 / F.col("p2"), 1).alias("hill_2_effective_types"),
    )
