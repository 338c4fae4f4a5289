"""Analytics batch 73: Weibull lifetime fit by median-rank regression,
Burrows' Delta stylometric distance between document sources, and the
bullwhip variance-amplification ratio along the demand chain.

Weibull MRR is the standard reliability-engineering fit (linear in
ln t vs ln(−ln(1−F)) space, so it lands on the engine's exact-moment OLS
machinery); Burrows' Delta is THE classic authorship-attribution measure;
bullwhip quantifies how order-level aggregation amplifies demand
variance — a supply-chain statistic that is really a warning about
aggregation layers in any pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import OLS_SLOPE_SQL, bcount, dec, ols_slope
from .distrib import two_level_order
from .registry import load, register


@register(
    "q_weibull_median_rank",
    oracle=f"""
    WITH life AS (
      SELECT CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS t_s
      FROM events GROUP BY user_id
      HAVING date_diff('second', MIN(ts), MAX(ts)) > 0
    ),
    ranked AS (
      SELECT t_s,
             CAST(ROW_NUMBER() OVER (ORDER BY t_s) AS BIGINT) AS i,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM life
    ),
    pts AS (
      SELECT CAST(ln(CAST(t_s AS DOUBLE)) AS DECIMAL(18,12)) AS x,
             CAST(ln(-ln(1.0 - (i - 0.3) / (n + 0.4)))
                  AS DECIMAL(18,12)) AS y
      FROM ranked
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx,
             CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(y AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)
                      AS DECIMAL(28,12))) AS DOUBLE) AS sxx
      FROM pts
    )
    SELECT n AS n_lifetimes,
           round({OLS_SLOPE_SQL}, 6)
             AS weibull_shape_k,
           round(exp(-((sy - {OLS_SLOPE_SQL} * sx)
                       / n)
                     / ({OLS_SLOPE_SQL})) / 3600,
                 4) AS weibull_scale_hours,
           CASE WHEN {OLS_SLOPE_SQL} < 1.0
                THEN 'infant_mortality'
                WHEN {OLS_SLOPE_SQL} > 1.0
                THEN 'wearout' ELSE 'exponential' END AS hazard_regime
    FROM m
    """,
)
def q_weibull_median_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weibull fit of user lifetimes (seconds between first and last
    event) by median-rank regression: Bernard's approximation
    F̂ᵢ = (i−0.3)/(n+0.4), then OLS of ln(−ln(1−F̂)) on ln t gives shape k
    (slope) and scale λ = exp(−intercept/k) — reliability engineering's
    standard graphical fit, with the hazard-regime verdict (k<1 infant
    mortality / churn-early, k>1 wear-out) that q_kaplan_meier_retention's
    non-parametric curve can't summarize in two parameters.

    Determinism: ranks are exact; both ln coordinates are decimal-cast
    per point before the exact moment sums (the q_heaps_law discipline).

    Scale: one user rollup + one global sort for ranks; the fit is 1-row
    algebra. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    life = (
        ev.groupBy("user_id")
        .agg(
            (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
            .cast("bigint")
            .alias("t_s")
        )
        .filter(F.col("t_s") > 0)
    )
    # r7 (guide §2.5): distributed rank over the data-scaled user grid
    # (distrib.two_level_order) instead of single-task windows. t_s ties
    # get a valid permutation of the same contiguous rank set (range
    # partitions keep equal keys together), and every downstream use sums
    # over the tie group, so the moments are permutation-invariant —
    # identical results (parity-verified).
    ranked = two_level_order(
        life, ["t_s"], rank_col="i", total_count="n", project=["t_s"]
    )
    pts = ranked.select(
        F.log(F.col("t_s").cast("double")).cast("decimal(18,12)").alias("x"),
        F.log(
            -F.log(1.0 - (F.col("i") - 0.3) / (F.col("n") + 0.4))
        )
        .cast("decimal(18,12)")
        .alias("y"),
    )
    m = pts.agg(
        bcount("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(
            (F.col("x").cast("double") * F.col("y").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxy"),
        F.sum(
            (F.col("x").cast("double") * F.col("x").cast("double")).cast(
                "decimal(28,12)"
            )
        )
        .cast("double")
        .alias("sxx"),
    )
    k = ols_slope()
    intercept = (F.col("sy") - k * F.col("sx")) / F.col("n")
    return m.select(
        F.col("n").alias("n_lifetimes"),
        F.round(k, 6).alias("weibull_shape_k"),
        F.round(F.exp(-intercept / k) / 3600, 4).alias("weibull_scale_hours"),
        F.when(k < 1.0, "infant_mortality")
        .when(k > 1.0, "wearout")
        .otherwise("exponential")
        .alias("hazard_regime"),
    )


_DELTA_TOP = 20


@register(
    "q_burrows_delta",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST(string_split(text, ' ')) AS t
      FROM documents
    ),
    clean AS (SELECT source, t FROM tok WHERE t <> ''),
    vocab AS (
      SELECT t FROM (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS c,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, t) AS rn
        FROM clean GROUP BY t) x
      WHERE rn <= {_DELTA_TOP}
    ),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM clean GROUP BY source
    ),
    freq2 AS (
      SELECT st.source, v.t,
             COALESCE((SELECT CAST(COUNT(*) AS DOUBLE) FROM clean c
                       WHERE c.source = st.source AND c.t = v.t), 0)
               / st.n * 1000 AS f
      FROM vocab v CROSS JOIN src_tot st
    ),
    stats AS (
      SELECT t,
             CAST(SUM(CAST(f AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS mu,
             sqrt(CAST(SUM(CAST(f * f AS DECIMAL(28,12))) AS DOUBLE)
                  / COUNT(*)
                  - (CAST(SUM(CAST(f AS DECIMAL(28,12))) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(SUM(CAST(f AS DECIMAL(28,12))) AS DOUBLE)
                       / COUNT(*))) AS sd
      FROM freq2 GROUP BY t
    ),
    z AS (
      SELECT f.source, f.t, (f.f - s.mu) / s.sd AS z
      FROM freq2 f JOIN stats s USING (t) WHERE s.sd > 0
    ),
    pairs AS (
      SELECT a.source AS s1, b.source AS s2,
             CAST(SUM(CAST(abs(a.z - b.z) AS DECIMAL(28,12))) AS DOUBLE)
               / COUNT(*) AS delta
      FROM z a JOIN z b ON b.t = a.t AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT s1, s2, round(delta, 6) AS burrows_delta
    FROM pairs
    """,
)
def q_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta between document sources: z-score each source's
    rate (per 1000 tokens) of the corpus's top-20 tokens against the
    cross-source mean/sd, then Δ(s₁,s₂) = mean |z₁−z₂| — the canonical
    stylometric / authorship-attribution distance, here answering "do the
    crawl sources share a register or does one stand apart" (a duplicate-
    pipeline smell q_dupe_rate_by_source counts but can't characterize).

    Determinism: token counts are exact; rates, z-scores, and pair means
    all go through per-term DECIMAL casts; top-20 vocabulary tiebreaks on
    token.

    Scale: one tokenize pass; the z grid is |sources|×20 and pairwise Δ
    runs on it alone. §2.B text surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    # ONE tokenize pass (r6): vocab, per-source totals, and per-(source,
    # term) counts all derive from a single checkpointed (source, t) count
    # grid — the un-checkpointed form re-derived (and re-tokenized) the
    # `tok` subtree in every consumer, 16 documents scans in the final
    # plan. Counts are identical: COUNT(*) over tokens == SUM of the
    # (source, t) counts.
    g = tok.groupBy("source", "t").agg(bcount("c")).localCheckpoint(eager=True)
    vocab = (
        g.groupBy("t")
        .agg(F.sum("c").cast("bigint").alias("c"))
        .select(
            "t",
            F.row_number()
            .over(Window.orderBy(F.col("c").desc(), "t"))
            .alias("rn"),
        )
        .filter(F.col("rn") <= _DELTA_TOP)
        .select("t")
    )
    src_tot = g.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    cnt = g.join(F.broadcast(vocab), "t").select(
        "source", "t", F.col("c").alias("ct")
    )
    spine = src_tot.crossJoin(F.broadcast(vocab))
    freq = spine.join(cnt, ["source", "t"], "left").select(
        "source",
        "t",
        (
            F.coalesce(F.col("ct"), F.lit(0)).cast("double")
            / F.col("n")
            * 1000
        ).alias("f"),
    )
    stats = freq.groupBy("t").agg(
        (
            F.sum(F.col("f").cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
        ).alias("mu"),
        F.sqrt(
            F.sum((F.col("f") * F.col("f")).cast("decimal(28,12)")).cast("double")
            / F.count(F.lit(1))
            - (
                F.sum(F.col("f").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            )
            * (
                F.sum(F.col("f").cast("decimal(28,12)")).cast("double")
                / F.count(F.lit(1))
            )
        ).alias("sd"),
    )
    z = (
        freq.join(F.broadcast(stats), "t")
        .filter(F.col("sd") > 0)
        .select("source", "t", ((F.col("f") - F.col("mu")) / F.col("sd")).alias("z"))
    )
    za, zb = z.alias("za"), z.alias("zb")
    pairs = (
        za.join(
            F.broadcast(zb),
            (F.col("zb.t") == F.col("za.t"))
            & (F.col("za.source") < F.col("zb.source")),
        )
        .groupBy(F.col("za.source").alias("s1"), F.col("zb.source").alias("s2"))
        .agg(
            (
                F.sum(
                    F.abs(F.col("za.z") - F.col("zb.z")).cast("decimal(28,12)")
                ).cast("double")
                / F.count(F.lit(1))
            ).alias("delta")
        )
    )
    return pairs.select("s1", "s2", F.round("delta", 6).alias("burrows_delta"))


@register(
    "q_bullwhip_effect",
    oracle="""
    WITH line_m AS (
      SELECT CAST(date_trunc('month', o.o_orderdate) AS TIMESTAMP) AS m,
             CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ),
    ord_m AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m,
             CAST(COUNT(*) AS DOUBLE) AS q
      FROM orders GROUP BY 1
    ),
    s1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(q * q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS m2
      FROM line_m
    ),
    s2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(q * q AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
               AS m2
      FROM ord_m
    )
    SELECT s1.n AS n_months,
           round((s1.m2 - s1.mu * s1.mu) / (s1.mu * s1.mu), 6)
             AS cv2_demand_qty,
           round((s2.m2 - s2.mu * s2.mu) / (s2.mu * s2.mu), 6)
             AS cv2_order_count,
           round(((s2.m2 - s2.mu * s2.mu) / (s2.mu * s2.mu))
                 / ((s1.m2 - s1.mu * s1.mu) / (s1.mu * s1.mu)), 6)
             AS bullwhip_ratio,
           CASE WHEN ((s2.m2 - s2.mu * s2.mu) / (s2.mu * s2.mu))
                 / ((s1.m2 - s1.mu * s1.mu) / (s1.mu * s1.mu)) > 1.0
                THEN 'amplified' ELSE 'damped' END AS verdict
    FROM s1, s2
    """,
)
def q_bullwhip_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bullwhip ratio along the demand chain: squared coefficient of
    variation of monthly order *counts* (upstream signal) over the CV² of
    monthly demanded *quantity* (downstream signal) — >1 means ordering
    behavior amplifies demand noise, the supply-chain instability marker;
    methodologically a caution for any pipeline that aggregates before
    measuring variability (cf. q_mix_shift_decomposition).

    Determinism: both monthly series are exact decimal/integer rollups;
    CV² terms come from exact moment sums.

    Scale: two map-side-combined calendar rollups + 1-row algebra. §2.B
    [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    line_m = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.date_trunc("month", "o_orderdate").alias("m"))
        .agg(F.sum(dec("l_quantity")).cast("double").alias("q"))
    )
    ord_m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("m")).agg(
        F.count(F.lit(1)).cast("double").alias("q")
    )

    def cv2(df: DataFrame) -> DataFrame:
        return df.agg(
            bcount("n"),
            (F.sum(dec("q")).cast("double") / F.count(F.lit(1))).alias("mu"),
            (
                F.sum((F.col("q") * F.col("q")).cast("decimal(28,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("m2"),
        )

    s1 = cv2(line_m)
    s2 = cv2(ord_m).select(
        F.col("n").alias("n2"), F.col("mu").alias("mu2"), F.col("m2").alias("m22")
    )
    j = s1.crossJoin(F.broadcast(s2))
    cv_d = (F.col("m2") - F.col("mu") * F.col("mu")) / (F.col("mu") * F.col("mu"))
    cv_o = (F.col("m22") - F.col("mu2") * F.col("mu2")) / (
        F.col("mu2") * F.col("mu2")
    )
    return j.select(
        F.col("n").alias("n_months"),
        F.round(cv_d, 6).alias("cv2_demand_qty"),
        F.round(cv_o, 6).alias("cv2_order_count"),
        F.round(cv_o / cv_d, 6).alias("bullwhip_ratio"),
        F.when(cv_o / cv_d > 1.0, "amplified").otherwise("damped").alias("verdict"),
    )
