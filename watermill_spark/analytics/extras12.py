"""Analytics batch 20: CDC snapshot diff, seasonality indexing, A/B testing,
association lift, log-scale histograms.

Determinism per :mod:`watermill_spark.analytics.det`. The log2 bucketing
deliberately avoids floating-point ``log2`` (boundary values like 64.0 can
land on either side across libm implementations): both engines compute the
bucket as ``length(bin(n))`` — the binary-string length of an exact BIGINT,
which is floor(log2 n)+1 with zero FP involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import DEC, bcount, dec, dsum, sql_dsum
from .registry import load, register

_SNAP_A = "1996-01-01"
_SNAP_B = "1997-01-01"


@register(
    "q_snapshot_diff_cdc",
    oracle=f"""
    WITH a AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      FROM orders WHERE o_orderdate < DATE '{_SNAP_A}' GROUP BY 1
    ),
    b AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      FROM orders WHERE o_orderdate < DATE '{_SNAP_B}' GROUP BY 1
    )
    SELECT COALESCE(a.o_custkey, b.o_custkey) AS o_custkey,
           CASE WHEN a.o_custkey IS NULL THEN 'added'
                WHEN b.o_custkey IS NULL THEN 'removed'
                WHEN a.n_orders <> b.n_orders OR a.spend <> b.spend
                  THEN 'changed'
                ELSE 'unchanged' END AS change_type,
           COALESCE(a.n_orders, 0) AS n_orders_a,
           COALESCE(b.n_orders, 0) AS n_orders_b,
           CAST(COALESCE(a.spend, 0) AS DOUBLE) AS spend_a,
           CAST(COALESCE(b.spend, 0) AS DOUBLE) AS spend_b
    FROM a FULL OUTER JOIN b ON a.o_custkey = b.o_custkey
    """,
)
def q_snapshot_diff_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture diff between two as-of snapshots of per-customer
    order state (count + exact spend at two date cutoffs): each customer is
    classified added / changed / unchanged (removed is emitted for
    generality — impossible here since snapshots are monotone).

    The equality compare runs on the DECIMAL sums (exact), only the output
    casts to DOUBLE. Scale: both snapshot aggregates partial-agg map-side
    and shuffle on the same key, so the full outer join co-partitions with
    no extra exchange. §2.B [NS] surface — watermill has no analytics ops.
    """
    orders = load(spark, sf_dir, "orders")

    def snap(cutoff: str) -> DataFrame:
        return (
            orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("date"))
            .groupBy("o_custkey")
            .agg(bcount("n_orders"), F.sum(dec("o_totalprice")).alias("spend"))
        )

    a = snap(_SNAP_A).alias("a")
    b = snap(_SNAP_B).alias("b")
    joined = a.join(b, F.col("a.o_custkey") == F.col("b.o_custkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("a.o_custkey"), F.col("b.o_custkey")).alias("o_custkey"),
        F.when(F.col("a.o_custkey").isNull(), F.lit("added"))
        .when(F.col("b.o_custkey").isNull(), F.lit("removed"))
        .when(
            (F.col("a.n_orders") != F.col("b.n_orders"))
            | (F.col("a.spend") != F.col("b.spend")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
        .alias("change_type"),
        F.coalesce(F.col("a.n_orders"), F.lit(0)).cast("bigint").alias("n_orders_a"),
        F.coalesce(F.col("b.n_orders"), F.lit(0)).cast("bigint").alias("n_orders_b"),
        F.coalesce(F.col("a.spend"), F.lit(0).cast(DEC)).cast("double").alias("spend_a"),
        F.coalesce(F.col("b.spend"), F.lit(0).cast(DEC)).cast("double").alias("spend_b"),
    )


@register(
    "q_seasonality_index",
    oracle="""
    WITH m AS (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
             CAST(EXTRACT(month FROM o_orderdate) AS BIGINT) AS mon,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1, 2
    )
    SELECT yr, mon, CAST(rev AS DOUBLE) AS month_rev,
           CAST(rev AS DOUBLE)
             / (CAST(SUM(rev) OVER (PARTITION BY yr) AS DOUBLE) / 12.0)
             AS seasonality_index
    FROM m
    """,
)
def q_seasonality_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly revenue seasonality: each (year, month)'s revenue relative to
    that year's average month (index 1.0 = typical month). The yearly total
    is a window sum over the already-exact monthly DECIMAL sums, so the
    ratio's inputs are identical across engines; the division is one double
    op.

    Scale: ≤ years×12 rows after the first map-side-combined aggregate;
    the window is free. §2.B [NS] surface.
    """
    orders = load(spark, sf_dir, "orders")
    m = orders.groupBy(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mon"),
    ).agg(F.sum(dec("o_totalprice")).alias("rev"))
    w_yr = Window.partitionBy("yr")
    return m.select(
        "yr",
        "mon",
        F.col("rev").cast("double").alias("month_rev"),
        (
            F.col("rev").cast("double")
            / (F.sum("rev").over(w_yr).cast("double") / F.lit(12.0))
        ).alias("seasonality_index"),
    )


@register(
    "q_ab_conversion_lift",
    oracle="""
    WITH u AS (
      SELECT user_id, user_id % 2 AS cohort,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1, 2
    ),
    c AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM u GROUP BY 1
    ),
    wide AS (
      SELECT MAX(CASE WHEN cohort = 0 THEN n_users END) AS n0,
             MAX(CASE WHEN cohort = 0 THEN n_conv END) AS c0,
             MAX(CASE WHEN cohort = 1 THEN n_users END) AS n1,
             MAX(CASE WHEN cohort = 1 THEN n_conv END) AS c1
      FROM c
    )
    SELECT n0, c0, n1, c1,
           round(CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                 / NULLIF(CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE), 0.0), 6)
             AS lift,
           round((CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                  - CAST(c0 AS DOUBLE) / CAST(n0 AS DOUBLE))
                 / NULLIF(
                     sqrt(CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE)
                          * (1.0 - CAST(c0 + c1 AS DOUBLE) / CAST(n0 + n1 AS DOUBLE))
                          * (1.0 / CAST(n0 AS DOUBLE) + 1.0 / CAST(n1 AS DOUBLE))),
                     0.0),
                 6) AS z_stat
    FROM wide
    """,
)
def q_ab_conversion_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B read-out: users split into cohorts by user_id
    parity, conversion = at least one purchase event; reports lift and the
    pooled two-proportion z-statistic. Counts are exact BIGINTs; the rate
    arithmetic is one fixed double expression on both engines, rounded 6dp
    for the sqrt's last-ulp wobble.

    Scale: per-user conversion is one map-side-combined groupBy; everything
    downstream operates on a 2-row table. §2.B [NS] surface.
    """
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id", (F.col("user_id") % 2).alias("cohort")).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", F.lit(1)).otherwise(F.lit(0))
        ).alias("conv")
    )
    c = u.groupBy("cohort").agg(bcount("n_users"), F.sum("conv").cast("bigint").alias("n_conv"))
    wide = c.agg(
        F.max(F.when(F.col("cohort") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("cohort") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("cohort") == 1, F.col("n_conv"))).alias("c1"),
    )
    n0, c0 = F.col("n0").cast("double"), F.col("c0").cast("double")
    n1, c1 = F.col("n1").cast("double"), F.col("c1").cast("double")
    pooled = (F.col("c0") + F.col("c1")).cast("double") / (
        F.col("n0") + F.col("n1")
    ).cast("double")
    return wide.select(
        "n0",
        "c0",
        "n1",
        "c1",
        F.round((c1 / n1) / F.nullif(c0 / n0, F.lit(0.0)), 6).alias("lift"),
        F.round(
            (c1 / n1 - c0 / n0)
            / F.nullif(
                F.sqrt(
                    pooled
                    * (F.lit(1.0) - pooled)
                    * (F.lit(1.0) / n0 + F.lit(1.0) / n1)
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z_stat"),
    )


@register(
    "q_brand_affinity_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM ob),
    ca AS (SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS cnt FROM ob GROUP BY 1),
    co AS (
      SELECT x.p_brand AS brand_a, y.p_brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS co_cnt
      FROM ob x JOIN ob y
        ON x.l_orderkey = y.l_orderkey AND x.p_brand < y.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, co_cnt,
           (CAST(co_cnt AS DOUBLE) * CAST(n.n_orders AS DOUBLE))
             / (CAST(a.cnt AS DOUBLE) * CAST(b.cnt AS DOUBLE)) AS lift
    FROM co
    JOIN ca a ON co.brand_a = a.p_brand
    JOIN ca b ON co.brand_b = b.p_brand
    CROSS JOIN n
    """,
)
def q_brand_affinity_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket lift per brand pair: observed co-occurrence in the same
    order vs what independence predicts — lift = P(A∩B) / (P(A)·P(B)),
    computed as (co·N)/(cA·cB) in one fixed double expression over exact
    counts.

    Scale: a single shuffle on l_orderkey builds each order's (bounded,
    ≤7-element) sorted brand set; pairs are expanded order-locally with
    array HOFs instead of a fact-fact self-join — no sort-merge join
    anywhere, and the pair fan-out is capped at C(7,2) per order. Per-brand
    counts come off the same sets and broadcast back. §2.B [NS] surface.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sets = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("p_brand")).alias("brands"))
        .localCheckpoint(eager=True)
    )
    n = sets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    ca = sets.select(F.explode("brands").alias("p_brand")).groupBy("p_brand").agg(
        bcount("cnt")
    )
    pair_expr = F.expr(
        "flatten(transform(brands, (x, i) ->"
        " transform(slice(brands, i + 2, size(brands)), y ->"
        " struct(x AS brand_a, y AS brand_b))))"
    )
    co = (
        sets.select(F.explode(pair_expr).alias("p"))
        .select("p.brand_a", "p.brand_b")
        .groupBy("brand_a", "brand_b")
        .agg(bcount("co_cnt"))
    )
    joined = (
        co.join(
            F.broadcast(ca.select(F.col("p_brand").alias("brand_a"), F.col("cnt").alias("cnt_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(ca.select(F.col("p_brand").alias("brand_b"), F.col("cnt").alias("cnt_b"))),
            "brand_b",
        )
        .crossJoin(F.broadcast(n))
    )
    return joined.select(
        "brand_a",
        "brand_b",
        "co_cnt",
        (
            (F.col("co_cnt").cast("double") * F.col("n_orders").cast("double"))
            / (F.col("cnt_a").cast("double") * F.col("cnt_b").cast("double"))
        ).alias("lift"),
    )


@register(
    "q_value_log2_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(length(bin(CAST(FLOOR(value) AS BIGINT))) AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           {sql_dsum("value", "sum_value")}
    FROM events
    WHERE value IS NOT NULL AND value >= 1.0
    GROUP BY 1, 2
    """,
)
def q_value_log2_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two magnitude histogram of event values per type (the
    training-pipeline "length distribution" shape): bucket k holds values in
    [2^(k-1), 2^k). The bucket is length(bin(floor(value))) — an exact
    integer path on both engines; no floating-point log anywhere.

    Scale: pure map-side-combined groupBy with a handful of output rows per
    type. §2.B [NS] surface.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 1.0)
    )
    return ev.groupBy(
        "event_type",
        F.length(F.bin(F.floor("value").cast("bigint"))).cast("bigint").alias("bucket"),
    ).agg(bcount("n"), dsum("value", "sum_value"))
