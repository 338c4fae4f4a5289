"""Analytics batch 11: time-series resampling with forward fill, equi-depth
quantile buckets, referential-integrity audit.

Determinism per :mod:`watermill_spark.analytics.det`; disc (not cont)
quantiles so both engines pick actual data elements, no interpolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dsum
from .registry import load, register


@register(
    "q_resample_ffill",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS day_value
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    )
    SELECT s.event_type, s.day,
           d.day_value IS NOT NULL AS observed,
           last_value(d.day_value IGNORE NULLS)
             OVER (PARTITION BY s.event_type ORDER BY s.day
                   ROWS UNBOUNDED PRECEDING) AS value_ffill
    FROM spine s LEFT JOIN daily d USING (event_type, day)
    """,
)
def q_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily resample with forward fill (LOCF): a gap-free per-type series
    where missing days carry the last observed daily total.

    Scale: the spine is O(types × days) — generated, never scanned; the raw
    table is touched once for the daily agg. The ffill window orders by day
    within type: bounded state, one shuffle. Day totals are exact decimal
    sums, so the carried value is engine-identical.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(dsum("value", "day_value"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.col("day_value").isNotNull().alias("observed"),
        F.last("day_value", ignorenulls=True).over(w).alias("value_ffill"),
    )


@register(
    "q_equi_depth_deciles",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_disc(l_extendedprice, 0.25) AS p25,
           quantile_disc(l_extendedprice, 0.50) AS p50,
           quantile_disc(l_extendedprice, 0.75) AS p75,
           quantile_disc(l_extendedprice, 0.95) AS p95
    FROM lineitem GROUP BY 1
    """,
)
def q_equi_depth_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth bucket boundaries via *discrete* percentiles — both engines
    pick an actual data element (no interpolation arithmetic to disagree
    on); the scale path swaps in approx_percentile with the same call shape.

    Scale: percentile_disc is a sort-based aggregation per group; at 100 TB
    this runs as a per-partition partial sort + merge, or is replaced by the
    t-digest approximation — the declared surface stays identical.
    """
    li = load(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("li_deciles_v")
    return spark.sql("""
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY l_extendedprice) AS p25,
               percentile_disc(0.50) WITHIN GROUP (ORDER BY l_extendedprice) AS p50,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY l_extendedprice) AS p75,
               percentile_disc(0.95) WITHIN GROUP (ORDER BY l_extendedprice) AS p95
        FROM li_deciles_v GROUP BY 1
    """)


@register(
    "q_referential_orphans",
    oracle="""
    SELECT 'lineitem_wo_order' AS check_name,
           CAST((SELECT COUNT(*) FROM lineitem l
                 WHERE NOT EXISTS (SELECT 1 FROM orders o
                                   WHERE o.o_orderkey = l.l_orderkey)) AS BIGINT) AS n_bad
    UNION ALL
    SELECT 'order_wo_customer',
           CAST((SELECT COUNT(*) FROM orders o
                 WHERE NOT EXISTS (SELECT 1 FROM customer c
                                   WHERE c.c_custkey = o.o_custkey)) AS BIGINT)
    UNION ALL
    SELECT 'customer_wo_nation',
           CAST((SELECT COUNT(*) FROM customer c
                 WHERE NOT EXISTS (SELECT 1 FROM nation n
                                   WHERE n.n_nationkey = c.c_nationkey)) AS BIGINT)
    """,
)
def q_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: orphan counts along the FK chain
    (lineitem→orders→customer→nation) via left-anti joins — the ingest
    data-quality gate of a training pipeline.

    Scale: each anti join broadcasts the smaller key set where possible;
    lineitem⟕orders anti-joins on the co-partitioned orderkey (one shuffle,
    reused by AQE). Counting is a partial-agg collapse.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")

    def orphans(name, child, parent, cond):
        return child.join(parent, cond, "left_anti").agg(
            F.lit(name).alias("check_name"), bcount("n_bad")
        ).select("check_name", "n_bad")

    return (
        orphans("lineitem_wo_order", li, orders, li.l_orderkey == orders.o_orderkey)
        .unionByName(
            orphans("order_wo_customer", orders, cust, orders.o_custkey == cust.c_custkey)
        )
        .unionByName(
            orphans(
                "customer_wo_nation",
                cust,
                F.broadcast(nation),
                cust.c_nationkey == nation.n_nationkey,
            )
        )
    )


@register(
    "q_yoy_growth",
    oracle="""
    WITH yearly AS (
      SELECT EXTRACT(year FROM o_orderdate) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT CAST(yr AS BIGINT) AS yr, revenue, n_orders,
           lag(revenue) OVER (ORDER BY yr) AS prev_revenue,
           (revenue - lag(revenue) OVER (ORDER BY yr))
             / lag(revenue) OVER (ORDER BY yr) AS yoy_growth
    FROM yearly
    """,
)
def q_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year revenue growth: yearly exact-decimal totals + lag.

    Scale: the window runs over O(years) rows — the global (unpartitioned)
    window is safe precisely because the aggregation collapsed the data
    first; growth is a single IEEE division on identical operands.
    """
    orders = load(spark, sf_dir, "orders")
    yearly = orders.groupBy(F.year("o_orderdate").cast("bigint").alias("yr")).agg(
        dsum("o_totalprice", "revenue"), bcount("n_orders")
    )
    w = Window.orderBy("yr")
    prev = F.lag("revenue").over(w)
    return yearly.select(
        "yr",
        "revenue",
        "n_orders",
        prev.alias("prev_revenue"),
        ((F.col("revenue") - prev) / prev).alias("yoy_growth"),
    )


@register(
    "q_market_basket_pairs",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey % 1000 AS part_bucket FROM lineitem
    )
    SELECT a.part_bucket AS p1, b.part_bucket AS p2,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.part_bucket < b.part_bucket
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def q_market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: part-bucket pairs appearing together in
    ≥3 orders (the support-counting core of association mining).

    Scale: the per-order pair expansion is quadratic in basket size — safe
    here because baskets are ≤7 lines; at 100 TB the guard is capping or
    sampling oversized baskets BEFORE the self-join. The join is key-local
    (same l_orderkey both sides): one shuffle co-partitions both sides, and
    the p1 < p2 predicate halves the pair space. Bucketing parts (mod 1000)
    bounds the output cardinality.
    """
    li = load(spark, sf_dir, "lineitem")
    # checkpointed once (r6): both self-join sides re-scanned and
    # re-deduped lineitem (2 scans in the plan); the deduped
    # (order, bucket) grid materializes once (posting-list class)
    items = li.select(
        "l_orderkey", (F.col("l_partkey") % 1000).alias("part_bucket")
    ).distinct().localCheckpoint(eager=True)
    a = items.alias("a")
    b = items.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.part_bucket") < F.col("b.part_bucket")),
        )
        .groupBy(
            F.col("a.part_bucket").alias("p1"), F.col("b.part_bucket").alias("p2")
        )
        .agg(bcount("n_orders"))
        .filter(F.col("n_orders") >= 3)
    )


@register(
    "q_gapfill_interpolate",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM events GROUP BY 1, 2
    ),
    bounds AS (
      SELECT event_type, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
    ),
    spine AS (
      SELECT event_type, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
      FROM bounds
    ),
    j AS (
      SELECT s.event_type, s.day, d.v,
             last_value(d.v IGNORE NULLS) OVER w_prev AS pv,
             last_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER w_prev AS pd,
             first_value(d.v IGNORE NULLS) OVER w_next AS nv,
             first_value(CASE WHEN d.v IS NOT NULL THEN s.day END IGNORE NULLS)
               OVER w_next AS nd
      FROM spine s LEFT JOIN daily d USING (event_type, day)
      WINDOW w_prev AS (PARTITION BY s.event_type ORDER BY s.day
                        ROWS UNBOUNDED PRECEDING),
             w_next AS (PARTITION BY s.event_type ORDER BY s.day
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day, v IS NOT NULL AS observed,
           CASE WHEN v IS NOT NULL THEN v
                WHEN pv IS NULL THEN nv
                WHEN nv IS NULL THEN pv
                ELSE pv + (nv - pv)
                       * (CAST(date_diff('day', pd, day) AS DOUBLE)
                          / CAST(date_diff('day', pd, nd) AS DOUBLE))
           END AS v_interp
    FROM j
    """,
)
def q_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill with *linear interpolation* (TimescaleDB `interpolate`
    analog): missing days take the line between the previous and next
    observed daily totals; edges fall back to nearest-observation.

    Determinism: the interpolation is pv + (nv−pv)·(Δ/Δtotal) — single IEEE
    ops on exact-decimal endpoints and integer day offsets, identical on
    both engines. Scale: same spine/LOCF plan as q_resample_ffill plus one
    mirrored backward window; both windows share the (event_type, day) sort.
    """
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(dsum("value", "v"))
    spine = (
        daily.groupBy("event_type")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select(
            "event_type",
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("day"),
        )
    )
    w_prev = (
        Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type").orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    j = spine.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(w_prev).alias("pd"),
        F.first("v", ignorenulls=True).over(w_next).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(w_next).alias("nd"),
    )
    frac = F.datediff("day", "pd").cast("double") / F.datediff("nd", "pd").cast("double")
    return j.select(
        "event_type",
        "day",
        F.col("v").isNotNull().alias("observed"),
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("pv").isNull(), F.col("nv"))
        .when(F.col("nv").isNull(), F.col("pv"))
        .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
        .alias("v_interp"),
    )
