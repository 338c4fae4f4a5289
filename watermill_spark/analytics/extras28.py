"""Analytics batch 36: composition & concentration dynamics — basket
diversity distribution, supplier audience overlap (bipartite projection),
revenue concentration trend (top-decile share per quarter), and
inter-event burstiness coefficients.

Counting/moment discipline as established: set overlaps and diversity
indices are integers; concentration shares divide exact decimal sums;
burstiness moments ride the decimal second-moment idiom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_basket_diversity",
    oracle="""
    WITH per AS (
      SELECT l.l_orderkey,
             COUNT(*) AS n_lines,
             COUNT(DISTINCT p.p_brand) AS n_brands
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    )
    SELECT CAST(n_lines AS BIGINT) AS n_lines,
           CAST(n_brands AS BIGINT) AS n_brands,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(n_brands AS DOUBLE) / n_lines, 6) AS diversity_index
    FROM per GROUP BY n_lines, n_brands
    """,
)
def q_basket_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket diversity distribution: orders bucketed by (line count,
    distinct brand count) with the diversity index brands/lines — single-
    brand stockpiling vs assorted baskets, the mix signal behind bundling
    decisions.

    Scale: part dim broadcasts; one orderkey rollup (count + distinct
    count share the clustering) then a ≤(7×|brands|)-cell grid
    aggregation. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    per = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("p_brand").alias("n_brands"),
        )
    )
    return per.groupBy("n_lines", "n_brands").agg(bcount("n_orders")).select(
        F.col("n_lines").cast("bigint").alias("n_lines"),
        F.col("n_brands").cast("bigint").alias("n_brands"),
        "n_orders",
        F.round(
            F.col("n_brands").cast("double") / F.col("n_lines"), 6
        ).alias("diversity_index"),
    )


@register(
    "q_supplier_audience_overlap",
    oracle="""
    WITH sc AS (
      SELECT DISTINCT l.l_suppkey, o.o_custkey
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    sizes AS (SELECT l_suppkey, COUNT(*) AS n FROM sc GROUP BY 1),
    pairs AS (
      SELECT a.l_suppkey AS supp_a, b.l_suppkey AS supp_b,
             COUNT(*) AS n_shared
      FROM sc a JOIN sc b
        ON a.o_custkey = b.o_custkey AND a.l_suppkey < b.l_suppkey
      GROUP BY 1, 2
    )
    SELECT CAST(p.supp_a AS BIGINT) AS supp_a,
           CAST(p.supp_b AS BIGINT) AS supp_b,
           CAST(p.n_shared AS BIGINT) AS shared_customers,
           round(CAST(p.n_shared AS DOUBLE)
                 / (sa.n + sb.n - p.n_shared), 6) AS audience_jaccard
    FROM pairs p
    JOIN sizes sa ON sa.l_suppkey = p.supp_a
    JOIN sizes sb ON sb.l_suppkey = p.supp_b
    WHERE p.n_shared >= 10
    ORDER BY audience_jaccard DESC, supp_a, supp_b
    LIMIT 25
    """,
)
def q_supplier_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite projection: supplier pairs ranked by Jaccard overlap of
    their customer audiences (≥10 shared customers) — the competitive-
    adjacency map derived from the supplier↔customer bipartite graph.

    Scale: the projection join is customer-keyed over the deduped
    (supplier, customer) incidence set — the classic bipartite fold whose
    fan-out is bounded by per-customer supplier counts; the 100-TB guard
    caps hub customers (the same oversized-basket rule as association
    mining). Sizes broadcast; top-25 via TakeOrdered. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    sc = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_suppkey", "o_custkey")
        .distinct()
    )
    # r6 pass 13: pairs come from an in-row double explode of the
    # per-customer supplier set (the q_recommendation_novelty pattern)
    # instead of the customer-keyed self-join — the same pair multiset
    # (verified by direct output diff at sf1), with the second incidence
    # shuffle and the join machinery gone; sizes fold onto the same
    # per-customer lists (one incidence materialization feeds all
    # consumers). Per-customer fan-out is still the bound (the 100-TB
    # guard caps hub customers).
    lists = (
        sc.groupBy("o_custkey")
        .agg(F.collect_set("l_suppkey").alias("ss"))
        .localCheckpoint(eager=True)
    )
    sizes = (
        lists.select(F.explode("ss").alias("l_suppkey"))
        .groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        lists.select(F.explode("ss").alias("sa"), "ss")
        .select("sa", F.explode("ss").alias("sb"))
        .filter(F.col("sa") < F.col("sb"))
        .groupBy(
            F.col("sa").alias("supp_a"),
            F.col("sb").alias("supp_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 10)
    )
    sa = sizes.select(F.col("l_suppkey").alias("supp_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("l_suppkey").alias("supp_b"), F.col("n").alias("nb"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na") + F.col("nb") - F.col("n_shared")
    )
    return (
        pairs.join(sa, "supp_a")
        .join(sb, "supp_b")
        .select(
            F.col("supp_a").cast("bigint").alias("supp_a"),
            F.col("supp_b").cast("bigint").alias("supp_b"),
            F.col("n_shared").cast("bigint").alias("shared_customers"),
            F.round(jac, 6).alias("audience_jaccard"),
        )
        .orderBy(F.col("audience_jaccard").desc(), "supp_a", "supp_b")
        .limit(25)
    )


@register(
    "q_concentration_trend",
    oracle="""
    WITH cq AS (
      SELECT date_trunc('quarter', o_orderdate) AS q, o_custkey,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      FROM orders GROUP BY 1, 2
    ),
    r AS (
      SELECT q, spend,
             ntile(10) OVER (PARTITION BY q
                             ORDER BY spend DESC, o_custkey) AS decile
      FROM cq
    )
    SELECT CAST(q AS TIMESTAMP) AS quarter,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(CASE WHEN decile = 1 THEN spend END) AS DOUBLE)
                 / CAST(SUM(spend) AS DOUBLE), 6) AS top_decile_share
    FROM r GROUP BY 1
    """,
)
def q_concentration_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration over time: the revenue share captured by each
    quarter's top customer decile — a rising line is whale-dependency
    building up, the dynamic counterpart to the static Gini/HHI.

    ntile per quarter under a total order; shares divide exact decimal
    sums on the quarter grid.

    Scale: one (quarter, customer) rollup; ntile partitions by quarter
    (the approx-quantile swap applies per partition at 100 TB); the final
    rollup shares the quarter clustering. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    cq = orders.groupBy(
        F.date_trunc("quarter", "o_orderdate").alias("q"), "o_custkey"
    ).agg(F.sum(dec("o_totalprice")).alias("spend"))
    r = cq.select(
        "q",
        "spend",
        F.ntile(10)
        .over(Window.partitionBy("q").orderBy(F.col("spend").desc(), "o_custkey"))
        .alias("decile"),
    )
    return r.groupBy(F.col("q").alias("quarter")).agg(
        bcount("n_customers"),
        F.round(
            F.sum(F.when(F.col("decile") == 1, F.col("spend"))).cast("double")
            / F.sum("spend").cast("double"),
            6,
        ).alias("top_decile_share"),
    )


@register(
    "q_burstiness_coefficient",
    oracle="""
    WITH g AS (
      SELECT user_id,
             CAST(date_diff('second',
                            lag(ts) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id),
                            ts) AS BIGINT) AS gap_s
      FROM events
    ),
    m AS (
      SELECT user_id, COUNT(gap_s) AS n,
             SUM(gap_s) AS sx,
             SUM(CAST(gap_s * gap_s AS DECIMAL(38,0))) AS sx2
      FROM g WHERE gap_s IS NOT NULL GROUP BY 1
      HAVING COUNT(gap_s) >= 5
    ),
    b AS (
      SELECT user_id, n,
             (sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                   / (n - 1)) - CAST(sx AS DOUBLE) / n)
             / (sqrt((CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
                     / (n - 1)) + CAST(sx AS DOUBLE) / n) AS burstiness
      FROM m
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           round(CAST(SUM(CAST(burstiness AS DECIMAL(18,12))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_burstiness,
           round(MIN(burstiness), 6) AS min_burstiness,
           round(MAX(burstiness), 6) AS max_burstiness,
           CAST(SUM(CASE WHEN burstiness > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bursty
    FROM b
    """,
)
def q_burstiness_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness B = (σ−μ)/(σ+μ) of per-user event gaps
    (B→1 bursty, B≈0 Poisson, B→−1 metronomic), summarized over users
    with ≥5 gaps — the temporal-pattern fingerprint that separates bots
    (metronomic) from humans (bursty).

    Gap seconds are exact integers; per-user σ/μ come from integer
    moments (squares in DECIMAL(38,0) — second-scale gaps squared exceed
    bigint at long horizons); the cross-user mean re-casts each B to
    DECIMAL(18,12) (order-independent), min/max/count need no protection.

    Scale: lag and the moment rollup share the user clustering (one
    exchange); the summary reduces |users| rows to one. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "user_id",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        ).alias("gap_s"),
    )
    m = (
        g.filter(F.col("gap_s").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n"),
            F.sum("gap_s").alias("sx"),
            F.sum((F.col("gap_s") * F.col("gap_s")).cast("decimal(38,0)")).alias(
                "sx2"
            ),
        )
        .filter(F.col("n") >= 5)
    )
    sxd = F.col("sx").cast("double")
    sd = F.sqrt(
        (F.col("sx2").cast("double") - sxd * F.col("sx") / F.col("n"))
        / (F.col("n") - 1)
    )
    mu = sxd / F.col("n")
    b = m.select("n", ((sd - mu) / (sd + mu)).alias("burstiness"))
    return b.agg(
        bcount("n_users"),
        F.round(
            F.sum(F.col("burstiness").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_burstiness"),
        F.round(F.min("burstiness"), 6).alias("min_burstiness"),
        F.round(F.max("burstiness"), 6).alias("max_burstiness"),
        F.sum(F.when(F.col("burstiness") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bursty"),
    )
