"""Analytics batch 172: sample-ratio-mismatch guardrail, recommendation
novelty/coverage, and single-source supply risk.

SRM is the first guardrail every experimentation platform fires: if a
50/50 user split doesn't land 50/50, the experiment's randomization is
broken and every downstream metric (q_welch_ttest, q_uplift_qini,
q_sprt_ab_sequential) is garbage — checked overall and by week to
localize when the imbalance appeared. Recommendation novelty grades a
recommender on what accuracy metrics (q_ndcg_at_k, q_retrieval_mrr)
ignore: does it only recommend bestsellers, and how much of the
catalog does it ever surface? Single-source risk is the procurement
version of the concentration family: which parts depend on one
supplier.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register


@register(
    "q_sample_ratio_mismatch",
    oracle="""
    WITH assigned AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
             user_id,
             CASE WHEN substr(md5('exp1:' || CAST(user_id AS VARCHAR)),
                              1, 1) IN ('0','1','2','3','4','5','6','7')
                  THEN 'A' ELSE 'B' END AS arm
      FROM events
      GROUP BY 1, 2, 3
    ),
    weekly AS (
      SELECT wk,
             CAST(SUM(CASE WHEN arm = 'A' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN arm = 'B' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM assigned GROUP BY 1
    )
    SELECT wk AS week_start, n_a, n_b,
           round(CAST(n_a AS DOUBLE) / (n_a + n_b), 6) AS share_a,
           round(pow(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
                 + pow(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0),
                 6) AS chi2,
           CAST(pow(n_a - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
                + pow(n_b - (n_a + n_b) / 2.0, 2) / ((n_a + n_b) / 2.0)
                > 3.841 AS BOOLEAN) AS srm_alarm
    FROM weekly ORDER BY wk
    """,
)
def q_sample_ratio_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail: users split 50/50 into arms by
    the first hex digit of md5('exp1:'||user_id) (the deterministic
    assignment an experimentation platform would use), then each week's
    active-user counts are chi-square-tested against the expected even
    split (χ²₁ > 3.841 alarms) — an SRM alarm means randomization or
    logging is broken and every experiment metric downstream is invalid.

    Determinism: assignment is a pure md5 function of user_id; counts
    are integers; the chi-square is a fixed double expression.

    Scale: one distinct pass to the (week, user) grain + a weekly
    rollup — no joins, the whole guardrail is one scan. §2.B
    aggregation family [NS].
    """
    ev = load(spark, sf_dir, "events")
    assigned = ev.select(
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        "user_id",
        F.when(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))),
                1,
                1,
            ).isin(list("01234567")),
            "A",
        )
        .otherwise("B")
        .alias("arm"),
    ).distinct()
    weekly = assigned.groupBy("wk").agg(
        F.sum(F.when(F.col("arm") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == "B", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    half = (F.col("n_a") + F.col("n_b")) / 2.0
    chi2 = (
        F.pow(F.col("n_a") - half, 2) / half
        + F.pow(F.col("n_b") - half, 2) / half
    )
    return weekly.select(
        F.col("wk").alias("week_start"),
        "n_a",
        "n_b",
        F.round(
            F.col("n_a").cast("double") / (F.col("n_a") + F.col("n_b")), 6
        ).alias("share_a"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_alarm"),
    ).orderBy("week_start")


@register(
    "q_recommendation_novelty",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT o.o_custkey, l.l_partkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    pop AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_buyers
      FROM baskets GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST((SELECT COUNT(*) FROM pop) AS BIGINT) AS n_catalog
      FROM baskets
    ),
    pairs AS (
      SELECT a.l_partkey AS ante, b.l_partkey AS cons,
             CAST(COUNT(*) AS BIGINT) AS co
      FROM baskets a JOIN baskets b
        ON b.o_custkey = a.o_custkey AND b.l_partkey <> a.l_partkey
      GROUP BY 1, 2
    ),
    recs AS (
      SELECT ante, cons,
             ROW_NUMBER() OVER (PARTITION BY ante
                                ORDER BY co DESC, cons) AS rk
      FROM pairs
    ),
    top AS (SELECT ante, cons FROM recs WHERE rk <= 3)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_recommendations,
           round(CAST(SUM(CAST(-ln(CAST(p.n_buyers AS DOUBLE)
                                   / t.n_events) / ln(2.0)
                               AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_novelty_bits,
           CAST(COUNT(DISTINCT top.cons) AS BIGINT) AS n_items_surfaced,
           round(CAST(COUNT(DISTINCT top.cons) AS DOUBLE)
                 / MAX(t.n_catalog) * 100.0, 4) AS catalog_coverage_pct
    FROM top
    JOIN pop p ON p.l_partkey = top.cons, tot t
    GROUP BY t.n_events
    """,
)
def q_recommendation_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty and catalog coverage of a co-purchase recommender: for
    each part, the top-3 co-purchased parts (buyer-count ranked) are
    the recommendations; novelty is the mean self-information
    −log₂(popularity) of what gets recommended (bestseller-only
    recommenders score low), and coverage is the share of the catalog
    that is ever surfaced — the beyond-accuracy metrics that complement
    q_ndcg_at_k / q_retrieval_mrr / q_item_item_cosine.

    Determinism: co-purchase counts and ranks are integers with cons
    tiebreaks; novelty sums route through DECIMAL over identical
    ln inputs.

    Scale: baskets collapse to the (customer, part) distinct grain;
    the co-purchase self-join is customer-keyed (bounded per-basket);
    novelty is one join against the part-popularity dimension. §2.B
    aggregation family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    # Single-evaluation restructure (sf5 engine-sweep finding): the basket
    # grain used to feed FOUR consumers (pop, tot, both self-join sides),
    # so the 30M-row join+distinct was recomputed up to 4x — and pinning
    # it resident either OOMed the heap (MEMORY_AND_DISK) or paid more in
    # checkpoint I/O than it saved (DISK_ONLY, measured). Instead the
    # grain collapses ONCE to per-customer part lists (750k rows, ~20M
    # ints — two orders of magnitude smaller, cheap to keep), pairs come
    # from a double explode of each list (k² per basket, bounded by
    # basket size — no self-join, no second scan), and pop/tot both
    # derive from the same lists. One heavy shuffle remains: the
    # (ante, cons) count aggregation, which map-side combines.
    from pyspark.storagelevel import StorageLevel

    baskets = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_custkey", "l_partkey"
    )
    lists = (
        baskets.groupBy("o_custkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    pop = (
        lists.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(bcount("n_buyers"))
    )
    tot = pop.agg(
        F.sum("n_buyers").cast("bigint").alias("n_events"),
        F.count(F.lit(1)).cast("bigint").alias("n_catalog"),
    )
    # The (ante, cons) key domain is the query's one genuinely huge
    # intermediate (254M distinct at sf1, ~1.3G at sf5 — bounded by
    # catalog², not rows). At the session default of 32 shuffle
    # partitions the FINAL aggregation hash-map holds ~40M keys per task,
    # which exhausted the 8g local heap at sf5 on the round-5 host (the
    # round-4 host finished the same plan at 398 s by margin, not by
    # design). Widening just this exchange keeps per-task state ~5M keys;
    # an explicit repartition on the grouping keys is reused by the
    # aggregation, so it costs no extra shuffle — and at true cluster
    # scale this is exactly the operator whose partitioning you size by
    # key-domain, not by the session default.
    # r7 (guide §2.3 "shuffle fewer bytes"): co-purchase counts are
    # symmetric, so each UNORDERED pair is counted once — the basket's
    # parts are distinct, so cons > ante keeps exactly one of each pair
    # (the filter runs map-side BEFORE the exchange), halving both the
    # shuffle volume and
    # the aggregation hash state of the query's dominant stage (the
    # catalog² (ante, cons) aggregate that OOMed sf5 in r5). The
    # aggregated counts then mirror map-side with a 2-way explode (one
    # pass, no second derivation) before the per-ante top-3, which
    # WindowGroupLimit prunes map-side as before. co(a,b) = co(b,a) =
    # the number of customers whose set contains both (each customer
    # contributes exactly one (min,max) pair), so every count and rank
    # is identical.
    uo = (
        lists.select(F.explode("ps").alias("ante"), "ps")
        .select("ante", F.explode("ps").alias("cons"))
        .filter(F.col("cons") > F.col("ante"))
        .repartition(256, "ante", "cons")
        .groupBy("ante", "cons")
        .agg(bcount("co"))
    )
    pairs = uo.select(
        F.explode(
            F.array(
                F.struct("ante", "cons", "co"),
                F.struct(
                    F.col("cons").alias("ante"),
                    F.col("ante").alias("cons"),
                    "co",
                ),
            )
        ).alias("p")
    ).select("p.ante", "p.cons", "p.co")
    recs = pairs.select(
        "ante",
        "cons",
        F.row_number()
        .over(Window.partitionBy("ante").orderBy(F.col("co").desc(), "cons"))
        .alias("rk"),
    ).filter(F.col("rk") <= 3)
    novelty = -F.log(
        F.col("n_buyers").cast("double") / F.col("n_events")
    ) / F.log(F.lit(2.0))
    return (
        recs.join(
            F.broadcast(pop.select(F.col("l_partkey").alias("cons"), "n_buyers")),
            "cons",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("n_events")
        .agg(
            bcount("n_recommendations"),
            F.round(
                F.sum(novelty.cast(D15)).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("mean_novelty_bits"),
            F.countDistinct("cons").cast("bigint").alias("n_items_surfaced"),
            F.round(
                F.countDistinct("cons").cast("double")
                / F.max("n_catalog")
                * 100.0,
                4,
            ).alias("catalog_coverage_pct"),
        )
        .select(
            "n_recommendations",
            "mean_novelty_bits",
            "n_items_surfaced",
            "catalog_coverage_pct",
        )
    )


@register(
    "q_single_source_risk",
    oracle="""
    WITH supply AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM lineitem GROUP BY 1, 2
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers,
             CAST(SUM(CAST(rev AS DECIMAL(38,10))) AS DOUBLE) AS rev,
             CAST(SUM(CAST(rev * rev AS DECIMAL(38,10))) AS DOUBLE)
               AS rev2
      FROM supply GROUP BY 1
    ),
    scored AS (
      SELECT l_partkey, n_suppliers, rev,
             rev2 / (rev * rev) AS hhi
      FROM per_part
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_single_sourced,
           round(CAST(SUM(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 100.0, 4)
             AS single_source_pct,
           round(CAST(SUM(CASE WHEN n_suppliers = 1
                    THEN CAST(rev AS DECIMAL(38,10))
                    ELSE CAST(0 AS DECIMAL(38,10)) END) AS DOUBLE)
                 / CAST(SUM(CAST(rev AS DECIMAL(38,10))) AS DOUBLE)
                 * 100.0, 4) AS revenue_at_risk_pct,
           round(CAST(SUM(CAST(hhi * rev AS DECIMAL(38,10))) AS DOUBLE)
                 / CAST(SUM(CAST(rev AS DECIMAL(38,10))) AS DOUBLE), 6)
             AS rev_weighted_hhi
    FROM scored
    """,
)
def q_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source supply risk: per part, the supplier-share HHI of
    its revenue; reported as the share of parts with exactly one
    supplier, the revenue riding on them, and the revenue-weighted
    mean HHI — the procurement-risk cut of the concentration family
    (q_hhi_concentration measures market concentration; this measures
    DEPENDENCY concentration, the number a supply-chain review opens
    with).

    Determinism: revenue shares and HHI come from decimal-exact sums;
    all ratios divide in double.

    Scale: fact → (part, supplier) → part rollups with map-side
    combine; one 1-row summary — no joins. §2.B aggregation family
    [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    supply = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("rev")
    )
    per_part = supply.groupBy("l_partkey").agg(
        bcount("n_suppliers"),
        F.sum(F.col("rev").cast("decimal(38,10)")).cast("double").alias("rev"),
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(38,10)"))
        .cast("double")
        .alias("rev2"),
    )
    scored = per_part.select(
        "n_suppliers",
        "rev",
        (F.col("rev2") / (F.col("rev") * F.col("rev"))).alias("hhi"),
    )
    single = F.sum(F.when(F.col("n_suppliers") == 1, 1).otherwise(0))
    revdec = F.col("rev").cast("decimal(38,10)")
    return scored.agg(
        bcount("n_parts"),
        single.cast("bigint").alias("n_single_sourced"),
        F.round(
            single.cast("double") / F.count(F.lit(1)) * 100.0, 4
        ).alias("single_source_pct"),
        F.round(
            F.sum(
                F.when(F.col("n_suppliers") == 1, revdec).otherwise(
                    F.lit(0).cast("decimal(38,10)")
                )
            ).cast("double")
            / F.sum(revdec).cast("double")
            * 100.0,
            4,
        ).alias("revenue_at_risk_pct"),
        F.round(
            F.sum((F.col("hhi") * F.col("rev")).cast("decimal(38,10)")).cast(
                "double"
            )
            / F.sum(revdec).cast("double"),
            6,
        ).alias("rev_weighted_hhi"),
    )
