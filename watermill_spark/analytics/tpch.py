"""Relational analytics surface over the TPC-H-ish testdata tables.

These are the §2.B [NS] operators of SURVEY.md: projection/filter, equi- and
broadcast joins, semi/anti joins, hash aggregation, rollup/cube, window
functions, sort/limit/top-k, set ops, scalar functions.

Scale notes applying to the whole module (designed for ~100 TB lineitem):

- Dimension tables (region/nation/customer/supplier/part) are orders of
  magnitude smaller than the facts — every dim join is hinted with
  ``broadcast()`` so the fact table never shuffles for a join. At real scale
  customer/part stop being broadcastable; AQE then falls back to sort-merge
  with the same plan text, and the hint is advisory, not load-bearing.
- Aggregations rely on Spark's partial (map-side) aggregation; group keys are
  low-cardinality (flags, nations, months) so the final shuffle is tiny.
- Filters are expressed directly on the scan DataFrame so Catalyst pushes
  them into the parquet reader (check: `PushedFilters` in `.explain`).
- Window functions partition by a key (customer) — no global windows except
  the deliberately-global ntile demo, which at scale would use range
  partitioning (`repartitionByRange`) — noted on the query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import DEC, bcount, davg, dec, dsum, sql_davg, sql_dsum
from .registry import load, register, spread

# Exact disc-price expression shared by several queries. The product is
# computed in DOUBLE (bit-identical across engines: same operands, same
# left-to-right op order) and then cast to DECIMAL(18,6) *per row* so the
# subsequent SUM is exact and aggregation-order-independent. Decimal
# multiplication is deliberately avoided — its width/scale rules differ
# between engines. (Functions, not module constants: building a Column needs
# a live session.)
def _disc_price():
    return (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(DEC)


def _charge():
    return (
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
    ).cast(DEC)

_SQL_DISC_PRICE = "CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))"
_SQL_CHARGE = (
    "CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) AS DECIMAL(18,6))"
)


@register(
    "q01_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 'sum_qty')},
           {sql_dsum('l_extendedprice', 'sum_base_price')},
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS sum_disc_price,
           CAST(SUM({_SQL_CHARGE}) AS DOUBLE) AS sum_charge,
           {sql_davg('l_quantity', 'avg_qty')},
           {sql_davg('l_extendedprice', 'avg_price')},
           {sql_davg('l_discount', 'avg_disc')},
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    bench=True,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: full-scan hash aggregation on 6 measures.

    Scale: 4-6 groups → partial agg reduces each input partition to ≤6 rows
    before the shuffle; the shuffle moves O(partitions) rows regardless of
    data size. Decimal arithmetic stays inside whole-stage codegen but is
    the per-row CPU cost here, so the (conditional) spread fan-out after the
    filter parallelizes it when the scan is a single row group; on a real
    multi-split table spread is a no-op and the plan is scan→agg.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        spread(li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(_disc_price()).cast("double").alias("sum_disc_price"),
            F.sum(_charge()).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc"),
            bcount("count_order"),
        )
    )


@register(
    "q03_top_revenue_orders",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           o.o_orderdate, o.o_orderpriority
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    bench=True,
)
def q03_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: fact-fact join + dim filter + top-k.

    Scale (r4 reshape, measured 0.71s -> 0.57s at sf0.1): revenue is
    pre-aggregated per l_orderkey BELOW the join — legal because orderkey
    is both the grouping key and the (unique-on-orders) join key, and
    (o_orderdate, o_orderpriority) are constant per order. Map-side
    partial aggregation shrinks the one fact shuffle from raw lineitem
    rows to one row per orderkey, and the join then *reuses* the agg's
    hash partitioning (the agg side never re-shuffles). The customer
    filter is broadcast onto orders BEFORE that join, so the orders side
    enters 5x smaller. Top-k via global sort of the tiny aggregated
    result (LIMIT pushes a TakeOrdered, no full sort).
    """
    cust = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    rev = li.groupBy("l_orderkey").agg(
        F.sum(_disc_price()).cast("double").alias("revenue")
    )
    o = orders.join(cust, orders.o_custkey == cust.c_custkey)
    return (
        rev.join(o, rev.l_orderkey == o.o_orderkey)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q05_nation_revenue",
    oracle=f"""
    SELECT n.n_name,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue
    FROM region r
    JOIN nation n ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = n.n_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
    bench=True,
)
def q05_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join with a local-supplier constraint.

    Scale (r6 join reorder, measured 1.20 s → 0.75 s median at sf0.1 under
    interleaved A/B): the customer join now happens on the ORDERS side
    BEFORE lineitem is attached — orders⨝customer⨝nation(ASIA) first, then
    the (date-filtered, region-pruned, ~1/5-selectivity) per-order nation
    row set joins lineitem on orderkey. The previous shape joined
    lineitem⨝orders first and then shuffled the fact-scale result by
    custkey; at 100 TB that custkey exchange carries lineitem volume,
    while this shape's carries orders volume (≈4× smaller) and the
    region filter lands before lineitem's only shuffle, so the supplier
    join sees ~1/5 of the fact rows. Inner-join reorder — results
    identical by associativity. No broadcast hints on fact-derived sides:
    AQE converts from measured sizes (at sf0.1 the joined order-side is
    ~9k rows → runtime broadcast; at 100 TB it stays a shuffle join,
    which is correct there). The s_nationkey = n_nationkey constraint
    rides on the supplier join condition instead of a post-join filter.
    """
    region = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = load(spark, sf_dir, "nation")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem")

    nr = nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
    oc = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nr), F.col("c_nationkey") == nr.n_nationkey)
        .select("o_orderkey", "n_nationkey", "n_name")
    )
    return (
        li.join(oc, li.l_orderkey == oc.o_orderkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (supp.s_nationkey == F.col("n_nationkey")),
        )
        .groupBy("n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
    )


@register(
    "q06_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q06_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate; the pushdown showcase.

    Scale: all four predicates reach the parquet reader (`PushedFilters`),
    and only 3 columns are read (`ReadSchema`). Single-stage, no shuffle
    beyond the 1-row final agg.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.03, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_discount")).cast(DEC))
            .cast("double")
            .alias("revenue"),
            bcount("n_items"),
        )
    )


@register(
    "q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS revenue,
           c.c_acctbal, n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, c.c_acctbal, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    bench=True,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top 20.

    Scale: lineitem filtered on returnflag at the scan; single
    orders⨝lineitem shuffle; customer/nation broadcast; TakeOrdered top-k.
    """
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.sum(_disc_price()).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q14_promo_effect",
    oracle=f"""
    SELECT CAST(100.0 AS DOUBLE)
             * CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_SQL_DISC_PRICE}
                             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS promo_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-07-01'
    """,
)
def q14_promo_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional aggregation over a broadcast join.

    Scale: part is broadcast (never shuffles lineitem); CASE-sum is a single
    pass with partial aggregation.
    """
    part = load(spark, sf_dir, "part")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    promo = F.when(F.col("p_type") == "PROMO", _disc_price()).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0).cast("double")
                * F.sum(promo).cast("double")
                / F.sum(_disc_price()).cast("double")
            ).alias("promo_revenue_pct"),
            bcount("n_items"),
        )
    )


@register(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name, c_acctbal
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: customers having at least one large order.

    Scale: semi join never materializes the probe side's matches — at scale
    this is a broadcast of the (filtered, deduped-by-Spark) build side or a
    shuffled semi; either way no row multiplication.
    """
    cust = load(spark, sf_dir, "customer")
    big = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


@register(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders at all."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "q_outer_join_fillna",
    oracle="""
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))),
                         CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS total_spend
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    """,
)
def q_outer_join_fillna(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + per-customer order count/spend (0 for none).

    Scale: this is the classic count-orders-per-customer — at 100 TB the
    right approach is aggregate-then-join (shrink orders to one row per
    custkey *before* joining) which is what we do; the join input is already
    minimal, and AQE broadcasts the aggregated side when small.
    """
    cust = load(spark, sf_dir, "customer")
    per_cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count("o_orderkey").alias("_n"),
            F.sum(dec("o_totalprice")).alias("_spend"),
        )
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(
            "c_custkey",
            F.coalesce(F.col("_n"), F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce(F.col("_spend"), F.lit(0).cast(DEC)).cast("double").alias("total_spend"),
        )
    )


@register(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation with grouping-id disambiguation.

    Scale: Spark expands rollup to a union of grouping sets before the
    shuffle; with partial aggregation the cost stays ~1 pass over data.
    """
    li = load(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            bcount("n"),
            dsum("l_quantity", "sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


@register(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregation over order status x priority."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            bcount("n"),
            dsum("o_totalprice", "total"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "total")
    )


@register(
    "q_window_topk",
    oracle="""
    SELECT * FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
      FROM orders)
    WHERE rn <= 3
    """,
)
def q_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via row_number — the scalable top-k idiom.

    Scale: one shuffle on the partition key; Spark 3.5+ inserts a
    WindowGroupLimit so each partition keeps only k rows pre-shuffle.
    """
    from watermill_spark.operators import topk_per_group

    orders = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_totalprice")
    top = topk_per_group(
        orders,
        ["o_custkey"],
        [F.desc("o_totalprice"), F.asc("o_orderkey")],
        k=3,
        rank_col="rn",
    )
    return top.withColumn("rn", F.col("rn").cast("bigint"))


@register(
    "q_window_running",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             AS running_spend
    FROM orders
    """,
)
def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running cumulative sum per customer (rows frame)."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("running_spend"),
    )


@register(
    "q_window_lag",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(date_diff('day',
                LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    """,
)
def q_window_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag(): inter-order gap in days per customer (NULL for first order)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.datediff(F.col("o_orderdate"), prev).cast("bigint").alias("days_since_prev"),
    )


@register(
    "q_rank_ntile",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CAST(RANK()       OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS drnk,
           CAST(NTILE(10)    OVER (ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS decile
    FROM customer
    """,
)
def q_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile over a global ordering.

    Scale: a single-partition window is a demo-only shape; at 100 TB the
    same result comes from `repartitionByRange` + per-range offsets (a
    two-pass distributed ranking). Kept here because the declared surface
    includes global ranking on a dimension-sized table.
    """
    cust = load(spark, sf_dir, "customer")
    w = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return cust.select(
        "c_custkey",
        "c_acctbal",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.ntile(10).over(w).cast("bigint").alias("decile"),
    )


@register(
    "q_set_ops",
    oracle="""
    SELECT 'cust_only' AS tag, k FROM (
      SELECT DISTINCT c_nationkey AS k FROM customer
      EXCEPT
      SELECT DISTINCT s_nationkey AS k FROM supplier)
    UNION ALL
    SELECT 'both' AS tag, k FROM (
      SELECT DISTINCT c_nationkey AS k FROM customer
      INTERSECT
      SELECT DISTINCT s_nationkey AS k FROM supplier)
    """,
)
def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operators: EXCEPT / INTERSECT / UNION ALL in one result."""
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k")).distinct()
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k")).distinct()
    cust_only = c.exceptAll(s).withColumn("tag", F.lit("cust_only"))
    both = c.intersect(s).withColumn("tag", F.lit("both"))
    return cust_only.unionByName(both).select("tag", "k")


@register(
    "q_distinct_agg",
    oracle="""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations,
           CAST(MIN(c_acctbal) AS DOUBLE) AS min_bal,
           CAST(MAX(c_acctbal) AS DOUBLE) AS max_bal
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def q_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """count distinct + min/max per group (exact; the approx variant
    `approx_count_distinct` is exercised in tests, not against the oracle,
    since HLL sketches are engine-specific)."""
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        bcount("n_customers"),
        F.countDistinct("c_nationkey").cast("bigint").alias("n_nations"),
        F.min("c_acctbal").cast("double").alias("min_bal"),
        F.max("c_acctbal").cast("double").alias("max_bal"),
    )


@register(
    "q_string_funcs",
    oracle="""
    SELECT p_partkey,
           UPPER(p_name) AS name_u,
           SUBSTRING(p_name, 1, 12) AS name_pfx,
           CAST(LENGTH(p_name) AS BIGINT) AS name_len,
           REPLACE(p_name, ' ', '_') AS name_snake,
           CONCAT(p_brand, ':', p_type) AS brand_type,
           CAST(REGEXP_EXTRACT(p_brand, '[0-9]+') AS BIGINT) AS brand_num
    FROM part
    WHERE p_name LIKE '%a%'
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string functions: upper/substring/length/replace/concat/regexp."""
    part = load(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_name").alias("name_u"),
        F.substring("p_name", 1, 12).alias("name_pfx"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.regexp_replace("p_name", " ", "_").alias("name_snake"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", "[0-9]+", 0).cast("bigint").alias("brand_num"),
    )


@register(
    "q_date_funcs",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS mo,
           CAST(year(o_orderdate) AS BIGINT) AS yr,
           CAST(month(o_orderdate) AS BIGINT) AS mth,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total
    FROM orders
    GROUP BY 1, 2, 3
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_trunc / year / month extraction + monthly aggregation."""
    orders = load(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("month", "o_orderdate").alias("mo"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
            F.month("o_orderdate").cast("bigint").alias("mth"),
        )
        .agg(bcount("n_orders"), dsum("o_totalprice", "total"))
    )


@register(
    "q_case_bucketing",
    oracle="""
    SELECT CASE WHEN o_totalprice < 50000  THEN 'S'
                WHEN o_totalprice < 150000 THEN 'M'
                WHEN o_totalprice < 300000 THEN 'L'
                ELSE 'XL' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders
    GROUP BY 1
    """,
)
def q_case_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE-WHEN bucketing + min/max (order-independent, no decimal needed)."""
    orders = load(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "S")
        .when(F.col("o_totalprice") < 150000, "M")
        .when(F.col("o_totalprice") < 300000, "L")
        .otherwise("XL")
        .alias("bucket")
    )
    return orders.groupBy(bucket).agg(
        bcount("n"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )
