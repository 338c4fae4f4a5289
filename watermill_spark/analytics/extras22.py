"""Analytics batch 30: market structure & engagement — directional
association rules (support/confidence/lift), year-over-year mix-shift
decomposition, product-adoption revenue ramp, and rolling active users
(DAU/WAU/MAU + stickiness) via the explode-to-anchor idiom.

Counting stance: association-rule and active-user metrics are pure integer
counting (exact at any parallelism); mix-shift effects are double
arithmetic on the |priorities|×2 grid of exact decimal aggregates, with
the decomposition identity (Σwithin + Σmix ≡ Δavg) holding by
construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import dec
from .registry import load, register


@register(
    "q_assoc_rules_types",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey, p.p_type
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM items),
    item_n AS (SELECT p_type, COUNT(*) AS n_item FROM items GROUP BY 1),
    pair_n AS (
      SELECT a.p_type AS antecedent, b.p_type AS consequent,
             COUNT(*) AS n_both
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.p_type <> b.p_type
      GROUP BY 1, 2
    )
    SELECT antecedent, consequent,
           CAST(n_both AS BIGINT) AS support_orders,
           round(CAST(n_both AS DOUBLE) / ia.n_item, 6) AS confidence,
           round((CAST(n_both AS DOUBLE) / ia.n_item)
                 / (CAST(ic.n_item AS DOUBLE) / (SELECT n FROM n_orders)), 6)
             AS lift
    FROM pair_n
    JOIN item_n ia ON ia.p_type = antecedent
    JOIN item_n ic ON ic.p_type = consequent
    WHERE n_both >= 5
    ORDER BY lift DESC, antecedent, consequent
    LIMIT 20
    """,
)
def q_assoc_rules_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional association rules over part types within orders:
    A→B with support (co-occurrence orders), confidence n(A∧B)/n(A), and
    lift confidence / baseline P(B). Top-20 by lift with full tiebreaks —
    the rule-mining layer above q_market_basket_pairs' support counting.

    Scale: the basket self-join is key-local (both sides cluster on
    l_orderkey — one co-partitioned shuffle, no broadcast of fact data);
    baskets are ≤7 lines so the pair expansion is bounded per order. The
    item and order counts broadcast onto the ≤|types|² rule grid. §2.B
    [NS].
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_type")
    items = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_type")
        .distinct()
    )
    # checkpointed once (r6): the order count, item counts, and both
    # basket self-join sides each re-derived the lineitem⨝part distinct
    # (4 fact scans in the plan); the incidence set materializes once
    items = items.localCheckpoint(eager=True)
    n_orders = items.select("l_orderkey").distinct().count()
    item_n = items.groupBy("p_type").agg(F.count(F.lit(1)).alias("n_item"))
    a = items.alias("a")
    b = items.alias("b")
    pair_n = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.p_type") != F.col("b.p_type")),
        )
        .groupBy(
            F.col("a.p_type").alias("antecedent"),
            F.col("b.p_type").alias("consequent"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .filter(F.col("n_both") >= 5)
    )
    ia = item_n.select(
        F.col("p_type").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ic = item_n.select(
        F.col("p_type").alias("consequent"), F.col("n_item").alias("n_c")
    )
    conf = F.col("n_both").cast("double") / F.col("n_a")
    lift = conf / (F.col("n_c").cast("double") / F.lit(n_orders))
    return (
        pair_n.join(F.broadcast(ia), "antecedent")
        .join(F.broadcast(ic), "consequent")
        .select(
            "antecedent",
            "consequent",
            F.col("n_both").cast("bigint").alias("support_orders"),
            F.round(conf, 6).alias("confidence"),
            F.round(lift, 6).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), "antecedent", "consequent")
        .limit(20)
    )


@register(
    "q_mix_shift_decomposition",
    oracle="""
    WITH yp AS (
      SELECT year(o_orderdate) AS y, o_orderpriority,
             COUNT(*) AS n,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1, 2
    ),
    yr AS (
      SELECT y, o_orderpriority, n, rev,
             MIN(y) OVER () AS y0, MAX(y) OVER () AS y1
      FROM yp
    ),
    w AS (
      SELECT o_orderpriority,
             SUM(CASE WHEN y = y0 THEN n END) AS n0,
             SUM(CASE WHEN y = y1 THEN n END) AS n1,
             SUM(CASE WHEN y = y0 THEN CAST(rev AS DOUBLE) END) AS r0,
             SUM(CASE WHEN y = y1 THEN CAST(rev AS DOUBLE) END) AS r1
      FROM yr GROUP BY 1
    ),
    t AS (
      SELECT o_orderpriority, n0, n1, r0, r1,
             SUM(n0) OVER () AS tn0, SUM(n1) OVER () AS tn1
      FROM w WHERE n0 IS NOT NULL AND n1 IS NOT NULL
    )
    SELECT o_orderpriority,
           round(CAST(n0 AS DOUBLE) / tn0, 6) AS share_old,
           round(CAST(n1 AS DOUBLE) / tn1, 6) AS share_new,
           round(r0 / n0, 4) AS avg_old,
           round(r1 / n1, 4) AS avg_new,
           round((CAST(n1 AS DOUBLE) / tn1) * (r1 / n1 - r0 / n0), 4)
             AS within_effect,
           round((CAST(n1 AS DOUBLE) / tn1 - CAST(n0 AS DOUBLE) / tn0)
                 * (r0 / n0), 4) AS mix_effect
    FROM t
    """,
)
def q_mix_shift_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mix-shift decomposition of the change in average order value between
    the dataset's first and last year, by order priority: Δavg splits into
    a within-segment effect (new share × price change) and a mix effect
    (share change × old price) — Σ of both columns reconciles to the total
    Δavg by construction.

    Exact decimal revenue per (year, priority); effects are fixed double
    expressions on the |priorities| grid.

    Scale: one fact shuffle to the year×priority rollup; both window
    passes (min/max year, share totals) run on that tiny grid. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    yp = orders.groupBy(
        F.year("o_orderdate").alias("y"), "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("o_totalprice")).alias("rev"),
    )
    wall = Window.partitionBy(F.lit(1))
    yr = yp.select(
        "*", F.min("y").over(wall).alias("y0"), F.max("y").over(wall).alias("y1")
    )
    w = yr.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("y") == F.col("y0"), F.col("n"))).alias("n0"),
        F.sum(F.when(F.col("y") == F.col("y1"), F.col("n"))).alias("n1"),
        F.sum(F.when(F.col("y") == F.col("y0"), F.col("rev").cast("double"))).alias(
            "r0"
        ),
        F.sum(F.when(F.col("y") == F.col("y1"), F.col("rev").cast("double"))).alias(
            "r1"
        ),
    )
    t = w.filter(F.col("n0").isNotNull() & F.col("n1").isNotNull()).select(
        "*",
        F.sum("n0").over(wall).alias("tn0"),
        F.sum("n1").over(wall).alias("tn1"),
    )
    s0 = F.col("n0").cast("double") / F.col("tn0")
    s1 = F.col("n1").cast("double") / F.col("tn1")
    a0 = F.col("r0") / F.col("n0")
    a1 = F.col("r1") / F.col("n1")
    return t.select(
        "o_orderpriority",
        F.round(s0, 6).alias("share_old"),
        F.round(s1, 6).alias("share_new"),
        F.round(a0, 4).alias("avg_old"),
        F.round(a1, 4).alias("avg_new"),
        F.round(s1 * (a1 - a0), 4).alias("within_effect"),
        F.round((s1 - s0) * a0, 4).alias("mix_effect"),
    )


@register(
    "q_product_adoption_ramp",
    oracle="""
    WITH first_ship AS (
      SELECT l_partkey, MIN(date_trunc('month', l_shipdate)) AS intro_month
      FROM lineitem GROUP BY 1
    ),
    rel AS (
      SELECT f.intro_month,
             (year(date_trunc('month', l.l_shipdate)) - year(f.intro_month)) * 12
               + (month(date_trunc('month', l.l_shipdate))
                  - month(f.intro_month)) AS m_rel,
             CAST(l.l_extendedprice AS DECIMAL(18,6))
               * (1 - CAST(l.l_discount AS DECIMAL(8,6))) AS rev
      FROM lineitem l JOIN first_ship f ON l.l_partkey = f.l_partkey
    ),
    parts AS (
      SELECT intro_month, COUNT(*) AS n_parts FROM first_ship GROUP BY 1
    )
    SELECT CAST(r.intro_month AS TIMESTAMP) AS intro_month,
           CAST(p.n_parts AS BIGINT) AS n_parts,
           round(CAST(SUM(CASE WHEN r.m_rel = 0 THEN r.rev END) AS DOUBLE), 4)
             AS rev_m0,
           round(CAST(SUM(CASE WHEN r.m_rel = 1 THEN r.rev END) AS DOUBLE), 4)
             AS rev_m1,
           round(CAST(SUM(CASE WHEN r.m_rel = 2 THEN r.rev END) AS DOUBLE), 4)
             AS rev_m2
    FROM rel r JOIN parts p ON p.intro_month = r.intro_month
    GROUP BY r.intro_month, p.n_parts
    """,
)
def q_product_adoption_ramp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-adoption ramp: parts cohorted by the month they first
    shipped; per cohort, the part count and discounted revenue in relative
    months 0/1/2 after introduction — does a cohort's launch revenue decay
    or build?

    Scale: first-ship is one partkey rollup; joining it back is keyed on
    l_partkey (the fact side's natural key; at part-dimension size the
    rollup broadcasts). Conditional month-relative sums avoid a pivot
    shuffle. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    # single pass (r6): intro_month via a partkey window min instead of a
    # groupBy-min joined back (3 lineitem scans -> 1; the window rides the
    # same partkey exchange the join needed), and n_parts folds into the
    # final rollup as count_distinct(partkey) — every lineitem of a part
    # carries the same intro_month, so the distinct count per intro month
    # IS the introduced-parts count
    lm = F.date_trunc("month", "l_shipdate")
    rel = li.select(
        "l_partkey",
        lm.alias("lm"),
        (
            dec("l_extendedprice") * (F.lit(1) - dec("l_discount", "decimal(8,6)"))
        ).alias("rev"),
    ).withColumn(
        "intro_month", F.min("lm").over(Window.partitionBy("l_partkey"))
    )
    m_rel = (F.year("lm") - F.year("intro_month")) * 12 + (
        F.month("lm") - F.month("intro_month")
    )
    return (
        rel.withColumn("m_rel", m_rel)
        .groupBy("intro_month")
        .agg(
            F.count_distinct("l_partkey").cast("bigint").alias("n_parts"),
            F.round(
                F.sum(F.when(F.col("m_rel") == 0, F.col("rev"))).cast("double"), 4
            ).alias("rev_m0"),
            F.round(
                F.sum(F.when(F.col("m_rel") == 1, F.col("rev"))).cast("double"), 4
            ).alias("rev_m1"),
            F.round(
                F.sum(F.when(F.col("m_rel") == 2, F.col("rev"))).cast("double"), 4
            ).alias("rev_m2"),
        )
        .select("intro_month", "n_parts", "rev_m0", "rev_m1", "rev_m2")
    )


@register(
    "q_rolling_active_users",
    oracle="""
    WITH du AS (
      SELECT DISTINCT date_trunc('day', ts) AS day, user_id FROM events
    ),
    x AS (
      SELECT du.day + t.i * INTERVAL 1 DAY AS anchor, t.i, du.user_id
      FROM du CROSS JOIN range(0, 28) AS t(i)
    ),
    roll AS (
      SELECT anchor,
             COUNT(DISTINCT CASE WHEN i = 0 THEN user_id END) AS dau,
             COUNT(DISTINCT CASE WHEN i < 7 THEN user_id END) AS wau7,
             COUNT(DISTINCT user_id) AS mau28
      FROM x GROUP BY 1
    ),
    days AS (SELECT DISTINCT day FROM du)
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           CAST(r.dau AS BIGINT) AS dau,
           CAST(r.wau7 AS BIGINT) AS wau7,
           CAST(r.mau28 AS BIGINT) AS mau28,
           round(CAST(r.dau AS DOUBLE) / r.mau28, 6) AS stickiness
    FROM days d JOIN roll r ON r.anchor = d.day
    """,
)
def q_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling engagement: per day the DAU, trailing-7-day WAU, trailing-
    28-day MAU (windows ending at that day), and DAU/MAU stickiness — the
    canonical growth dashboard row.

    Rolling *distinct* counts can't ride a window frame; the explode-to-
    anchor idiom (q_rolling_median_7d) applies: each distinct (day, user)
    fans out to the 28 anchors whose trailing window contains it, and all
    three horizons come from conditional COUNT(DISTINCT) in ONE aggregation
    over the anchor key.

    Scale: input is the deduped (day,user) grid, not raw events; the ×28
    fan-out multiplies grid rows, not cardinality, and the anchor key is
    uniform. At 100 TB swap exact distinct for per-anchor HLL sketches
    merged additively — same shape, sketch-sized shuffle. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.date_trunc("day", "ts").alias("day"), "user_id"
    ).distinct()
    x = du.select(
        "user_id",
        F.posexplode(
            F.sequence(F.col("day"), F.col("day") + F.expr("INTERVAL 27 DAY"))
        ).alias("i", "anchor"),
    )
    roll = x.groupBy("anchor").agg(
        F.countDistinct(F.when(F.col("i") == 0, F.col("user_id")))
        .cast("bigint")
        .alias("dau"),
        F.countDistinct(F.when(F.col("i") < 7, F.col("user_id")))
        .cast("bigint")
        .alias("wau7"),
        F.countDistinct("user_id").cast("bigint").alias("mau28"),
    )
    days = du.select("day").distinct()
    return days.join(roll, days.day == roll.anchor).select(
        "day",
        "dau",
        "wau7",
        "mau28",
        F.round(F.col("dau").cast("double") / F.col("mau28"), 6).alias(
            "stickiness"
        ),
    )
