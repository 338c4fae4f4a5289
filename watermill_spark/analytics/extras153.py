"""Analytics batch 161: adjusted Rand index between dedup partitions,
quantile normalization across sources, and Westgard multi-rule QC.

The ARI grades how much a normalization choice changes the dedup
partition (raw-byte hash groups vs lowercase-trimmed hash groups) — the
pair-counting agreement score that answers "is aggressive normalization
actually merging anything?" before a corpus-wide rewrite. Quantile
normalization is the cross-source distribution aligner (bioinformatics'
workhorse, here: make every source's length distribution comparable).
Westgard rules are the clinical-lab multi-rule chart (1₃ₛ/2₂ₛ/R₄ₛ/4₁ₛ/
10ₓ) — five patterns over one z-score series, each a windowed
indicator, complementing q_xmr_control_chart / q_cusum_mean_shift /
q_ewma_chart.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation families + the dedup mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue


@register(
    "q_cluster_rand_index",
    oracle="""
    WITH parts AS (
      SELECT md5(text) AS a, md5(lower(trim(text))) AS b
      FROM documents
    ),
    cont AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS nij
      FROM parts GROUP BY 1, 2
    ),
    am AS (SELECT a, CAST(SUM(nij) AS BIGINT) AS ai FROM cont GROUP BY 1),
    bm AS (SELECT b, CAST(SUM(nij) AS BIGINT) AS bj FROM cont GROUP BY 1),
    sums AS (
      SELECT
        (SELECT CAST(SUM(nij) AS BIGINT) FROM cont) AS n,
        (SELECT CAST(SUM(nij * (nij - 1) / 2) AS BIGINT) FROM cont)
          AS sum_nij2,
        (SELECT CAST(SUM(ai * (ai - 1) / 2) AS BIGINT) FROM am)
          AS sum_ai2,
        (SELECT CAST(SUM(bj * (bj - 1) / 2) AS BIGINT) FROM bm)
          AS sum_bj2,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM am) AS n_clusters_a,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM bm) AS n_clusters_b
    )
    SELECT n AS n_docs, n_clusters_a, n_clusters_b,
           round(CASE WHEN (CAST(sum_ai2 AS DOUBLE) + sum_bj2) / 2.0
                           - CAST(sum_ai2 AS DOUBLE) * sum_bj2
                             / (n * (n - 1.0) / 2.0) = 0.0
                      THEN 1.0
                      ELSE (CAST(sum_nij2 AS DOUBLE)
                            - CAST(sum_ai2 AS DOUBLE) * sum_bj2
                              / (n * (n - 1.0) / 2.0))
                           / ((CAST(sum_ai2 AS DOUBLE) + sum_bj2) / 2.0
                              - CAST(sum_ai2 AS DOUBLE) * sum_bj2
                                / (n * (n - 1.0) / 2.0)) END, 6)
             AS adjusted_rand
    FROM sums
    """,
)
def q_cluster_rand_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand index between two dedup partitions of the corpus:
    exact raw-byte hash groups vs lowercase-trimmed hash groups — ARI
    near 1 means the aggressive normalizer barely changes the
    partition (skip the rewrite), low ARI quantifies how much content
    it merges; the pair-counting agreement score computed from the
    contingency table's C(n,2) sums, no pair expansion.

    Determinism: all C(n,2) sums are exact integers from a three-level
    groupBy; the ARI is one fixed double expression.

    Scale: contingency at the (a, b) group grain (bounded by distinct
    content), marginals by rollup — never O(n²) pairs. §2.B
    aggregation family + dedup mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    parts = docs.select(
        F.md5("text").alias("a"),
        F.md5(F.lower(F.trim("text"))).alias("b"),
    )
    cont = parts.groupBy("a", "b").agg(bcount("nij"))
    # checkpointed once (r6): the row/column marginals and the pair sums
    # each re-scanned documents and re-ran BOTH full-text md5s (3 scans
    # in the plan); the contingency grid materializes once
    cont = cont.localCheckpoint(eager=True)
    c2 = lambda c: F.sum(F.col(c) * (F.col(c) - 1) / 2).cast("bigint")  # noqa: E731
    am = cont.groupBy("a").agg(F.sum("nij").cast("bigint").alias("ai"))
    bm = cont.groupBy("b").agg(F.sum("nij").cast("bigint").alias("bj"))
    s1 = cont.agg(
        F.sum("nij").cast("bigint").alias("n"),
        c2("nij").alias("sum_nij2"),
    )
    s2 = am.agg(c2("ai").alias("sum_ai2"), bcount("n_clusters_a"))
    s3 = bm.agg(c2("bj").alias("sum_bj2"), bcount("n_clusters_b"))
    sums = s1.crossJoin(F.broadcast(s2)).crossJoin(F.broadcast(s3))
    npairs = F.col("n") * (F.col("n") - 1.0) / 2.0
    exp = F.col("sum_ai2").cast("double") * F.col("sum_bj2") / npairs
    denom = (
        F.col("sum_ai2").cast("double") + F.col("sum_bj2")
    ) / 2.0 - exp
    # identical all-singleton partitions => 0/0; agreement is perfect
    ari = F.when(denom == 0.0, F.lit(1.0)).otherwise(
        (F.col("sum_nij2").cast("double") - exp) / denom
    )
    return sums.select(
        F.col("n").alias("n_docs"),
        "n_clusters_a",
        "n_clusters_b",
        F.round(ari, 6).alias("adjusted_rand"),
    )


@register(
    "q_quantile_normalization",
    oracle="""
    WITH deciled AS (
      SELECT source, n_chars,
             CAST(NTILE(10) OVER (PARTITION BY source
                  ORDER BY n_chars, doc_id) AS BIGINT) AS dec
      FROM documents
    ),
    per_cell AS (
      SELECT source, dec,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(n_chars AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*) AS orig_mean
      FROM deciled GROUP BY 1, 2
    ),
    ref AS (
      SELECT dec,
             CAST(SUM(CAST(orig_mean AS DECIMAL(38,10))) AS DOUBLE)
             / COUNT(*) AS ref_value
      FROM per_cell GROUP BY 1
    )
    SELECT p.source, p.dec AS decile, p.n,
           round(p.orig_mean, 4) AS orig_mean,
           round(r.ref_value, 4) AS ref_value,
           round(r.ref_value - p.orig_mean, 4) AS shift
    FROM per_cell p JOIN ref r ON r.dec = p.dec
    ORDER BY p.source, p.dec
    """,
)
def q_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of document lengths across sources: each
    source's lengths split into deciles (doc_id tiebreak), the
    reference distribution is the across-source mean of per-source
    decile means, and each (source, decile) cell reports its mapping
    shift — the bioinformatics workhorse that makes "long doc" mean
    the same thing in every source before mixing or length-filtering.

    Determinism: NTILE carries a doc_id tiebreak; all means are
    decimal-exact sums over integer lengths divided by exact counts.

    Scale: the decile window partitions by source (parallel); cells
    and the 10-row reference are bounded; the mapping join broadcasts.
    §2.B window family + pipeline mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    deciled = docs.select(
        "source",
        "n_chars",
        F.ntile(10)
        .over(Window.partitionBy("source").orderBy("n_chars", "doc_id"))
        .cast("bigint")
        .alias("dec"),
    )
    per_cell = deciled.groupBy("source", "dec").agg(
        bcount("n"),
        (
            F.sum(F.col("n_chars").cast("decimal(38,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("orig_mean"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the reference row and the final join both
    # re-derived the rollup (2 documents scans in the plan); the
    # ≤|sources|×10 grid materializes once
    ref = per_cell.groupBy("dec").agg(
        (
            F.sum(F.col("orig_mean").cast("decimal(38,10)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ref_value")
    )
    return (
        per_cell.join(F.broadcast(ref), "dec")
        .select(
            "source",
            F.col("dec").alias("decile"),
            "n",
            F.round("orig_mean", 4).alias("orig_mean"),
            F.round("ref_value", 4).alias("ref_value"),
            F.round(F.col("ref_value") - F.col("orig_mean"), 4).alias("shift"),
        )
        .orderBy("source", "decile")
    )


@register(
    "q_westgard_rules",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS ss
      FROM daily
    ),
    base AS (
      SELECT s / n AS mu, sqrt((ss - s * s / n) / (n - 1.0)) AS sd
      FROM mom
    ),
    z AS (
      SELECT d, (y - b.mu) / b.sd AS z FROM daily, base b
    ),
    lagged AS (
      SELECT d, z,
             LAG(z, 1) OVER (ORDER BY d) AS z1,
             SUM(CASE WHEN z > 1 THEN 1 ELSE 0 END)
               OVER (ORDER BY d ROWS 3 PRECEDING) AS up1_4,
             SUM(CASE WHEN z < -1 THEN 1 ELSE 0 END)
               OVER (ORDER BY d ROWS 3 PRECEDING) AS dn1_4,
             SUM(CASE WHEN z > 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY d ROWS 9 PRECEDING) AS up0_10,
             SUM(CASE WHEN z < 0 THEN 1 ELSE 0 END)
               OVER (ORDER BY d ROWS 9 PRECEDING) AS dn0_10
      FROM z
    ),
    flags AS (
      SELECT d,
             CASE WHEN abs(z) > 3 THEN 1 ELSE 0 END AS r_13s,
             CASE WHEN (z > 2 AND z1 > 2) OR (z < -2 AND z1 < -2)
                  THEN 1 ELSE 0 END AS r_22s,
             CASE WHEN (z > 2 AND z1 < -2) OR (z < -2 AND z1 > 2)
                  THEN 1 ELSE 0 END AS r_r4s,
             CASE WHEN up1_4 = 4 OR dn1_4 = 4 THEN 1 ELSE 0 END AS r_41s,
             CASE WHEN up0_10 = 10 OR dn0_10 = 10 THEN 1 ELSE 0 END
               AS r_10x
      FROM lagged
    ),
    unp AS (
      SELECT '1_3s' AS rule, r_13s AS v, d FROM flags
      UNION ALL SELECT '2_2s', r_22s, d FROM flags
      UNION ALL SELECT 'R_4s', r_r4s, d FROM flags
      UNION ALL SELECT '4_1s', r_41s, d FROM flags
      UNION ALL SELECT '10_x', r_10x, d FROM flags
    )
    SELECT rule,
           CAST(SUM(v) AS BIGINT) AS n_violations,
           MIN(CASE WHEN v = 1 THEN d END) AS first_violation
    FROM unp GROUP BY 1 ORDER BY 1
    """,
)
def q_westgard_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Westgard multi-rule QC on standardized daily revenue: 1₃ₛ
    (single point beyond 3σ), 2₂ₛ (two consecutive beyond 2σ same
    side), R₄ₛ (consecutive points spanning 4σ on opposite sides), 4₁ₛ
    (four consecutive beyond 1σ same side), 10ₓ (ten consecutive on
    one side of the mean) — the clinical-lab rule set that catches both
    random and systematic error patterns a single-threshold chart
    misses; reports violation counts and first dates per rule.

    Determinism: z-scores from 1-row decimal-exact moments
    (whitelisted broadcast); every rule is integer window arithmetic
    over identical doubles.

    Scale: facts collapse to the day grid; five windowed indicators
    share the same ordered bounded-grid pass; the unpivot is 5×days.
    §2.B window/quality-control family [NS].
    """
    # checkpointed once (r6): the day grid feeds the moments and the z
    # map (and through it five windowed rules) — each reference
    # re-derived the fact aggregation (10 lineitem scans in the plan)
    daily = daily_revenue(spark, sf_dir).localCheckpoint(eager=True)
    mom = daily.agg(
        bcount("n"),
        F.sum(F.col("y").cast(D15)).cast("double").alias("s"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("ss"),
    )
    base = mom.select(
        (F.col("s") / F.col("n")).alias("mu"),
        F.sqrt(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
            / (F.col("n") - 1.0)
        ).alias("sd"),
    )
    z = daily.crossJoin(F.broadcast(base)).select(
        "d", ((F.col("y") - F.col("mu")) / F.col("sd")).alias("z")
    )
    w = Window.orderBy("d")
    w4 = w.rowsBetween(-3, 0)
    w10 = w.rowsBetween(-9, 0)
    zc = F.col("z")
    lagged = z.select(
        "d",
        "z",
        F.lag("z", 1).over(w).alias("z1"),
        F.sum(F.when(zc > 1, 1).otherwise(0)).over(w4).alias("up1_4"),
        F.sum(F.when(zc < -1, 1).otherwise(0)).over(w4).alias("dn1_4"),
        F.sum(F.when(zc > 0, 1).otherwise(0)).over(w10).alias("up0_10"),
        F.sum(F.when(zc < 0, 1).otherwise(0)).over(w10).alias("dn0_10"),
    )
    z1 = F.col("z1")
    flags = lagged.select(
        "d",
        F.when(F.abs(zc) > 3, 1).otherwise(0).alias("r_13s"),
        F.when(((zc > 2) & (z1 > 2)) | ((zc < -2) & (z1 < -2)), 1)
        .otherwise(0)
        .alias("r_22s"),
        F.when(((zc > 2) & (z1 < -2)) | ((zc < -2) & (z1 > 2)), 1)
        .otherwise(0)
        .alias("r_r4s"),
        F.when((F.col("up1_4") == 4) | (F.col("dn1_4") == 4), 1)
        .otherwise(0)
        .alias("r_41s"),
        F.when((F.col("up0_10") == 10) | (F.col("dn0_10") == 10), 1)
        .otherwise(0)
        .alias("r_10x"),
    )
    unp = None
    for rule, col in [
        ("1_3s", "r_13s"),
        ("2_2s", "r_22s"),
        ("R_4s", "r_r4s"),
        ("4_1s", "r_41s"),
        ("10_x", "r_10x"),
    ]:
        piece = flags.select(
            F.lit(rule).alias("rule"), F.col(col).alias("v"), "d"
        )
        unp = piece if unp is None else unp.unionAll(piece)
    return (
        unp.groupBy("rule")
        .agg(
            F.sum("v").cast("bigint").alias("n_violations"),
            F.min(F.when(F.col("v") == 1, F.col("d"))).alias(
                "first_violation"
            ),
        )
        .orderBy("rule")
    )
