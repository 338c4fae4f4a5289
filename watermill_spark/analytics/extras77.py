"""Analytics batch 85: multiple-testing-corrected experiment readout
(three metrics, Bonferroni), top-k assortment policy regret under a
temporal holdout, and pairwise vocabulary overlap between document
sources.

The Bonferroni readout is the guard experiments need the moment they
watch more than one metric (three 5%-level tests ≈ a 14% false-alarm
rate uncorrected); the policy-regret query is the engine's first
decision-evaluation shape: rank on the past, act, score on the future.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .registry import load, register
from .relations import FIRST_EVENT_TYPES_SQL, first_event_types


@register(
    "q_bonferroni_metrics",
    oracle=f"""
    WITH firsts AS ({FIRST_EVENT_TYPES_SQL}),
    users AS (
      SELECT e.user_id,
             CASE WHEN {sql_hexval("substr(md5('bf1:' || CAST(e.user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN f.first_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv,
             CAST(SUM(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS val
      FROM events e
      JOIN firsts f ON f.user_id = e.user_id
      GROUP BY 1, 2
    ),
    metrics AS (
      SELECT 'conversion' AS metric,
             CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT) AS n2,
             CAST(SUM(CASE WHEN arm = 'A' THEN conv END) AS DOUBLE) AS s1,
             CAST(SUM(CASE WHEN arm = 'B' THEN conv END) AS DOUBLE) AS s2,
             CAST(SUM(CASE WHEN arm = 'A' THEN conv * conv END) AS DOUBLE)
               AS q1,
             CAST(SUM(CASE WHEN arm = 'B' THEN conv * conv END) AS DOUBLE)
               AS q2
      FROM users
      UNION ALL
      SELECT 'events_per_user',
             CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT),
             CAST(SUM(CASE WHEN arm = 'A' THEN n_events END) AS DOUBLE),
             CAST(SUM(CASE WHEN arm = 'B' THEN n_events END) AS DOUBLE),
             CAST(SUM(CASE WHEN arm = 'A' THEN n_events * n_events END)
                  AS DOUBLE),
             CAST(SUM(CASE WHEN arm = 'B' THEN n_events * n_events END)
                  AS DOUBLE)
      FROM users
      UNION ALL
      SELECT 'value_per_user',
             CAST(COUNT(*) FILTER (WHERE arm = 'A') AS BIGINT),
             CAST(COUNT(*) FILTER (WHERE arm = 'B') AS BIGINT),
             CAST(SUM(CAST(CASE WHEN arm = 'A' THEN val END
                      AS DECIMAL(18,6))) AS DOUBLE),
             CAST(SUM(CAST(CASE WHEN arm = 'B' THEN val END
                      AS DECIMAL(18,6))) AS DOUBLE),
             CAST(SUM(CAST(CASE WHEN arm = 'A' THEN val * val END
                      AS DECIMAL(28,6))) AS DOUBLE),
             CAST(SUM(CAST(CASE WHEN arm = 'B' THEN val * val END
                      AS DECIMAL(28,6))) AS DOUBLE)
      FROM users
    )
    SELECT metric,
           round(s2 / n2 - s1 / n1, 6) AS effect,
           round((s2 / n2 - s1 / n1)
                 / sqrt((q1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                        + (q2 / n2 - (s2 / n2) * (s2 / n2)) / n2), 6)
             AS z_stat,
           CASE WHEN abs((s2 / n2 - s1 / n1)
                 / sqrt((q1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                        + (q2 / n2 - (s2 / n2) * (s2 / n2)) / n2))
                     > 1.959964 THEN 1 ELSE 0 END AS sig_uncorrected,
           CASE WHEN abs((s2 / n2 - s1 / n1)
                 / sqrt((q1 / n1 - (s1 / n1) * (s1 / n1)) / n1
                        + (q2 / n2 - (s2 / n2) * (s2 / n2)) / n2))
                     > 2.393980 THEN 1 ELSE 0 END AS sig_bonferroni_3
    FROM metrics
    """,
)
def q_bonferroni_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-metric experiment readout (first-event-is-purchase conversion,
    events/user,
    value/user for the hash split) with both the naive 1.96 cut and the
    Bonferroni-corrected α/3 cut (z > 2.394) — the family-wise guard
    that keeps a multi-metric dashboard from "finding" one significant
    metric in three by chance; extends q_ab_conversion_lift (one metric)
    and motivates q_cuped_adjustment (regain the power Bonferroni
    spends).

    Determinism: per-arm moments are exact integer/decimal sums per
    metric; z statistics are fixed-shape algebra; both critical values
    are shared literals.

    Scale: one user rollup feeding three 1-row moment branches (a single
    pass with conditional aggregation). §2.B experimentation surface
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("bf1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    firsts = first_event_types(spark, sf_dir)
    users = (
        ev.join(firsts, "user_id")
        .groupBy("user_id", arm.alias("arm"))
        .agg(
            bcount("n_events"),
            F.max(
                F.when(F.col("first_type") == "purchase", 1).otherwise(0)
            ).alias("conv"),
            F.sum(dec("value")).cast("double").alias("val"),
        )
    )
    # checkpointed once (r6): each of the three metric branches
    # re-derived the first-event window + user rollup (6 events scans in
    # the plan); the per-user grid materializes once (same class as the
    # pass-3 per-user grids)
    users = users.localCheckpoint(eager=True)

    def metric(name: str, col, q_typ: str | None = None):
        v = col.cast("double")
        sq = (
            (v * v).cast(q_typ).cast("double")
            if q_typ
            else (v * v)
        )
        return users.agg(
            F.lit(name).alias("metric"),
            F.count_if(F.col("arm") == "A").cast("bigint").alias("n1"),
            F.count_if(F.col("arm") == "B").cast("bigint").alias("n2"),
            F.sum(F.when(F.col("arm") == "A", v)).alias("s1"),
            F.sum(F.when(F.col("arm") == "B", v)).alias("s2"),
            F.sum(F.when(F.col("arm") == "A", sq)).alias("q1"),
            F.sum(F.when(F.col("arm") == "B", sq)).alias("q2"),
        )

    metrics = (
        metric("conversion", F.col("conv"))
        .unionByName(metric("events_per_user", F.col("n_events")))
        .unionByName(metric("value_per_user", F.col("val"), "decimal(28,6)"))
    )
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    se = F.sqrt(
        (F.col("q1") / F.col("n1") - m1 * m1) / F.col("n1")
        + (F.col("q2") / F.col("n2") - m2 * m2) / F.col("n2")
    )
    z = (m2 - m1) / se
    return metrics.select(
        "metric",
        F.round(m2 - m1, 6).alias("effect"),
        F.round(z, 6).alias("z_stat"),
        F.when(F.abs(z) > 1.959964, 1).otherwise(0).alias("sig_uncorrected"),
        F.when(F.abs(z) > 2.393980, 1).otherwise(0).alias("sig_bonferroni_3"),
    )


_POLICY_K = 50


@register(
    "q_topk_policy_regret",
    oracle=f"""
    WITH split AS (
      SELECT l.l_partkey,
             CAST(year(o.o_orderdate) < 1996 AS INTEGER) AS is_train,
             CAST(l.l_extendedprice AS DECIMAL(18,6)) AS rev
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    train_rank AS (
      SELECT l_partkey,
             ROW_NUMBER() OVER (
               ORDER BY SUM(CASE WHEN is_train = 1 THEN rev END) DESC
                        NULLS LAST, l_partkey) AS r
      FROM split GROUP BY l_partkey
    ),
    test_rev AS (
      SELECT l_partkey,
             CAST(SUM(CASE WHEN is_train = 0 THEN rev END) AS DOUBLE)
               AS test_rev
      FROM split GROUP BY l_partkey
    ),
    oracle_rank AS (
      SELECT l_partkey,
             ROW_NUMBER() OVER (ORDER BY test_rev DESC NULLS LAST,
                                l_partkey) AS r
      FROM test_rev
    ),
    tot AS (
      SELECT CAST(SUM(CAST(test_rev AS DECIMAL(18,6))) AS DOUBLE) AS t
      FROM test_rev WHERE test_rev IS NOT NULL
    )
    SELECT CAST({_POLICY_K} AS BIGINT) AS k,
           round(CAST(SUM(CAST(CASE WHEN tr.r <= {_POLICY_K}
                          THEN tv.test_rev END AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS policy_captured,
           round(CAST(SUM(CAST(CASE WHEN orc.r <= {_POLICY_K}
                          THEN tv.test_rev END AS DECIMAL(18,6)))
                      AS DOUBLE), 2) AS oracle_captured,
           round(CAST(SUM(CAST(CASE WHEN tr.r <= {_POLICY_K}
                          THEN tv.test_rev END AS DECIMAL(18,6)))
                      AS DOUBLE) / tot.t, 6) AS policy_share,
           round(1.0 - CAST(SUM(CAST(CASE WHEN tr.r <= {_POLICY_K}
                              THEN tv.test_rev END AS DECIMAL(18,6)))
                            AS DOUBLE)
                 / CAST(SUM(CAST(CASE WHEN orc.r <= {_POLICY_K}
                            THEN tv.test_rev END AS DECIMAL(18,6)))
                        AS DOUBLE), 6) AS regret_vs_oracle
    FROM test_rev tv
    JOIN train_rank tr USING (l_partkey)
    JOIN oracle_rank orc USING (l_partkey)
    CROSS JOIN tot
    GROUP BY tot.t
    """,
)
def q_topk_policy_regret(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k assortment policy under temporal holdout: rank parts by
    pre-1996 revenue, stock the top 50, and score the policy on 1996+
    revenue against the hindsight-oracle top 50 — regret = 1 −
    captured/oracle — the decision-evaluation loop (train on the past,
    act, score on the future) that turns q_abc_parts' descriptive ranking
    into a measured policy, and the template for any top-k
    retention/assortment/cache decision.

    Determinism: both rankings tiebreak on partkey (NULLS LAST for parts
    absent from a period); all captured revenues are exact decimal sums.

    Scale: two rollups over the split fact table + rank windows on the
    parts grid; no pairwise stage. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    split = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_partkey",
        (F.year("o_orderdate") < 1996).cast("int").alias("is_train"),
        dec("l_extendedprice").alias("rev"),
    )
    per_part = split.groupBy("l_partkey").agg(
        F.sum(F.when(F.col("is_train") == 1, F.col("rev"))).alias("train_rev"),
        F.sum(F.when(F.col("is_train") == 0, F.col("rev")))
        .cast("double")
        .alias("test_rev"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the rank windows and the test total both
    # re-derived the join+rollup (2 lineitem scans in the plan); the
    # part-domain grid materializes once
    train_rank = per_part.select(
        "l_partkey",
        "test_rev",
        F.row_number()
        .over(Window.orderBy(F.col("train_rev").desc_nulls_last(), "l_partkey"))
        .alias("r_train"),
        F.row_number()
        .over(Window.orderBy(F.col("test_rev").desc_nulls_last(), "l_partkey"))
        .alias("r_oracle"),
    )
    tot = per_part.filter(F.col("test_rev").isNotNull()).agg(
        F.sum(dec("test_rev")).cast("double").alias("t")
    )
    cap_policy = F.sum(
        F.when(F.col("r_train") <= _POLICY_K, dec("test_rev"))
    ).cast("double")
    cap_oracle = F.sum(
        F.when(F.col("r_oracle") <= _POLICY_K, dec("test_rev"))
    ).cast("double")
    s = train_rank.crossJoin(F.broadcast(tot)).groupBy("t").agg(
        cap_policy.alias("policy_captured_v"),
        cap_oracle.alias("oracle_captured_v"),
    )
    return s.select(
        F.lit(_POLICY_K).cast("bigint").alias("k"),
        F.round("policy_captured_v", 2).alias("policy_captured"),
        F.round("oracle_captured_v", 2).alias("oracle_captured"),
        F.round(F.col("policy_captured_v") / F.col("t"), 6).alias("policy_share"),
        F.round(
            1.0 - F.col("policy_captured_v") / F.col("oracle_captured_v"), 6
        ).alias("regret_vs_oracle"),
    )


@register(
    "q_vocab_overlap_sources",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT source, UNNEST(string_split(text, ' ')) AS t
      FROM documents
    ),
    clean AS (SELECT source, t FROM tok WHERE t <> ''),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS v FROM clean GROUP BY 1
    ),
    inter AS (
      SELECT a.source AS s1, b.source AS s2,
             CAST(COUNT(*) AS BIGINT) AS common
      FROM clean a JOIN clean b ON b.t = a.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.s1, i.s2, za.v AS vocab_1, zb.v AS vocab_2, i.common,
           round(CAST(i.common AS DOUBLE) / (za.v + zb.v - i.common), 6)
             AS jaccard,
           round(CAST(i.common AS DOUBLE) / LEAST(za.v, zb.v), 6)
             AS overlap_coeff
    FROM inter i
    JOIN sizes za ON za.source = i.s1
    JOIN sizes zb ON zb.source = i.s2
    """,
)
def q_vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary overlap between document sources: Jaccard and
    Szymkiewicz–Simpson overlap coefficients on distinct-token sets —
    the set-theoretic companion to q_burrows_delta (style) and
    q_kl_coding_cost (distribution): two sources can share 95% of their
    vocabulary yet use it at wildly different rates, and curation needs
    all three views before merging or dropping a source.

    All-integer set sizes; coefficients are exact-count ratios.

    Scale: distinct (source, token) pairs → token-partitioned pair join
    (the inverted-index shape, never source×source×vocab). §2.B text
    surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    # checkpoint the distinct (source, token) set once (r6): sizes and
    # both sides of the pair join re-tokenized the corpus per reference
    tok = (
        docs.select("source", F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .distinct()
        .localCheckpoint(eager=True)
    )
    sizes = tok.groupBy("source").agg(bcount("v"))
    ta, tb = tok.alias("ta"), tok.alias("tb")
    inter = (
        ta.join(
            tb,
            (F.col("tb.t") == F.col("ta.t"))
            & (F.col("ta.source") < F.col("tb.source")),
        )
        .groupBy(F.col("ta.source").alias("s1"), F.col("tb.source").alias("s2"))
        .agg(bcount("common"))
    )
    za = sizes.select(F.col("source").alias("s1"), F.col("v").alias("vocab_1"))
    zb = sizes.select(F.col("source").alias("s2"), F.col("v").alias("vocab_2"))
    j = inter.join(F.broadcast(za), "s1").join(F.broadcast(zb), "s2")
    return j.select(
        "s1",
        "s2",
        "vocab_1",
        "vocab_2",
        "common",
        F.round(
            F.col("common").cast("double")
            / (F.col("vocab_1") + F.col("vocab_2") - F.col("common")),
            6,
        ).alias("jaccard"),
        F.round(
            F.col("common").cast("double")
            / F.least(F.col("vocab_1"), F.col("vocab_2")),
            6,
        ).alias("overlap_coeff"),
    )
