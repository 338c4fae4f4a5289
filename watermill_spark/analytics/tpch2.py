"""Advanced relational surface, batch 2: subquery shapes (EXISTS, scalar,
correlated-via-aggregate-join), argmin-per-group, disjunctive predicates,
HAVING, distribution histograms, percentiles, exact-formula stddev, rolling
range frames.

Several queries here run through ``spark.sql`` over temp views — the SQL API
is part of the declared surface (§2.B), and Catalyst plans SQL and DataFrame
identically. Correlated subqueries are expressed as aggregate-then-join
(the scalable rewrite Catalyst itself performs): at 100 TB the aggregate
side shrinks before the join instead of probing per-row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


def _views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    for n in names:
        load(spark, sf_dir, n).createOrReplaceTempView(n)


@register(
    "q04_priority_exists",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1996-07-01'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
    GROUP BY o_orderpriority
    """,
)
def q04_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated inequality — via the SQL
    API. Catalyst rewrites the EXISTS to a left-semi join on orderkey with
    the inequality as join condition (one shuffle)."""
    _views(spark, sf_dir, "orders", "lineitem")
    return spark.sql(
        """
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
          AND o.o_orderdate <  TIMESTAMP '1996-07-01'
          AND EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        """
    )


@register(
    "q07_nation_volume",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS volume
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_name = 'FRANCE' AND cn.n_name = 'GERMANY')
        OR (sn.n_name = 'GERMANY' AND cn.n_name = 'FRANCE'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY sn.n_name, cn.n_name, year(l.l_shipdate)
    """,
)
def q07_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume. All dims broadcast; the
    nation-pair disjunction is applied post-broadcast-join (tiny)."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    supp = load(spark, sf_dir, "supplier")
    nation = load(spark, sf_dir, "nation")
    sn = nation.select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation"))
    cn = nation.select(F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "FRANCE") & (F.col("cust_nation") == "GERMANY")
    ) | ((F.col("supp_nation") == "GERMANY") & (F.col("cust_nation") == "FRANCE"))
    vol = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key"))
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("bigint").alias("l_year"),
        )
        .agg(F.sum(vol).cast("double").alias("volume"))
    )


@register(
    "q12_dategap_priority",
    oracle="""
    SELECT CASE WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'fast'
                WHEN date_diff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN 'normal'
                ELSE 'slow' END AS ship_speed,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY 1
    """,
)
def q12_dategap_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts over a date-gap bucketing."""
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    gap = F.datediff("l_shipdate", "o_orderdate")
    speed = (
        F.when(gap <= 30, "fast").when(gap <= 90, "normal").otherwise("slow").alias("ship_speed")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(speed)
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "q13_order_histogram",
    oracle="""
    SELECT n_orders, CAST(COUNT(*) AS BIGINT) AS n_customers FROM (
      SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey)
    GROUP BY n_orders
    """,
)
def q13_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation (orders-per-customer
    distribution). The inner agg shrinks orders to one row per customer
    before anything joins."""
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(bcount("n_customers"))


@register(
    "q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey,
             CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                           AS DECIMAL(18,6))) AS DOUBLE) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: scalar subquery (global max) against an aggregate.
    Window-max over an empty partition computes the scalar in the same pass
    — no second scan of lineitem."""
    li = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    supp = load(spark, sf_dir, "supplier")
    rev = li.groupBy("l_suppkey").agg(
        F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)"))
        .cast("double")
        .alias("total_revenue")
    )
    # r7 (guide §2.5): the window-max moved the data-scaled |suppliers|
    # grid to ONE task; the grid now materializes once (checkpoint) and
    # the scalar max is a parallel tree-reduced aggregate attached back
    # as a broadcast 1-row cross join (audited BNLJ pattern) — still one
    # lineitem scan.
    rev = rev.localCheckpoint(eager=True)
    mxdf = rev.agg(F.max("total_revenue").alias("_mx"))
    top = rev.crossJoin(F.broadcast(mxdf)).filter(
        F.col("total_revenue") == F.col("_mx")
    )
    return top.join(supp, top.l_suppkey == supp.s_suppkey).select(
        "s_suppkey", "s_name", "total_revenue"
    )


@register(
    "q17_small_quantity",
    oracle="""
    WITH pavg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(COUNT(l_quantity) AS DOUBLE) AS avg_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN pavg ON pavg.l_partkey = l.l_partkey
    WHERE l.l_quantity < 0.5 * pavg.avg_qty
    """,
)
def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated average rewritten aggregate-then-join —
    the per-part average is computed once (one shuffle on partkey) and
    joined back, instead of a per-row correlated probe."""
    li = load(spark, sf_dir, "lineitem")
    pavg = li.groupBy(F.col("l_partkey").alias("p_key")).agg(
        (F.sum(dec("l_quantity")).cast("double") / F.count("l_quantity").cast("double")).alias(
            "avg_qty"
        )
    )
    return (
        li.join(pavg, li.l_partkey == pavg.p_key)
        .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias("avg_yearly"),
            bcount("n_items"),
        )
    )


@register(
    "q18_large_orders",
    oracle="""
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 150)
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery with HAVING — left-semi join against the
    aggregated key set (never materializes the IN list on the driver)."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    # single lineitem pass (r6): the per-order rollup already holds the
    # order's total quantity, so the old re-join of raw lineitem (2nd
    # fact scan) + re-aggregation is redundant — the exact decimal sum
    # computed for the >150 filter IS total_qty (cast double, identical
    # to the old dsum over the same lineitems), and the inner join to
    # the filtered grid keeps exactly the semi-join's orders, one row
    # per order like the old groupBy emitted.
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("q"))
        .filter(F.col("q") > 150)
        .select(
            F.col("l_orderkey").alias("bk"),
            F.col("q").cast("double").alias("total_qty"),
        )
    )
    return (
        orders.join(big, orders.o_orderkey == F.col("bk"))
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
            "total_qty",
        )
    )


@register(
    "q19_disjunctive",
    oracle=f"""
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount)
                         AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 20)
       OR (p.p_brand = 'Brand#22' AND p.p_size BETWEEN 10 AND 30
           AND l.l_quantity BETWEEN 10 AND 30)
       OR (p.p_brand = 'Brand#33' AND p.p_size BETWEEN 20 AND 50
           AND l.l_quantity BETWEEN 20 AND 50)
    """,
)
def q19_disjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate across a join. Catalyst
    extracts the common join key so the disjunction never forces a
    cartesian; part stays broadcast."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    cond = (
        (F.col("p_brand") == "Brand#11")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 20)
    ) | (
        (F.col("p_brand") == "Brand#22")
        & F.col("p_size").between(10, 30)
        & F.col("l_quantity").between(10, 30)
    ) | (
        (F.col("p_brand") == "Brand#33")
        & F.col("p_size").between(20, 50)
        & F.col("l_quantity").between(20, 50)
    )
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .filter(cond)
        .agg(F.sum(rev).cast("double").alias("revenue"), bcount("n_items"))
    )


@register(
    "q22_wealthy_inactive",
    oracle="""
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_custs,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
    FROM customer c
    WHERE c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                 / CAST(COUNT(c2.c_acctbal) AS DOUBLE)
        FROM customer c2 WHERE c2.c_acctbal > 0.0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_nationkey
    """,
)
def q22_wealthy_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar subquery (global average) + anti join — via
    the SQL API; Catalyst plans the scalar as a broadcast one-row join."""
    _views(spark, sf_dir, "customer", "orders")
    return spark.sql(
        """
        SELECT c_nationkey,
               CAST(COUNT(*) AS BIGINT) AS n_custs,
               CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
        FROM customer c
        WHERE c.c_acctbal > (
            SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(COUNT(c2.c_acctbal) AS DOUBLE)
            FROM customer c2 WHERE c2.c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_nationkey
        """
    )


@register(
    "q_argmin_per_group",
    oracle="""
    SELECT l_partkey, l_suppkey AS cheapest_supp, l_extendedprice AS min_price
    FROM (SELECT l_partkey, l_suppkey, l_extendedprice,
                 ROW_NUMBER() OVER (PARTITION BY l_partkey
                                    ORDER BY l_extendedprice, l_suppkey) AS rn
          FROM lineitem)
    WHERE rn = 1
    """,
)
def q_argmin_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmin-per-group (TPC-H Q2's min-cost-supplier shape on available
    tables): cheapest supplier observed per part."""
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey").orderBy("l_extendedprice", "l_suppkey")
    return (
        li.select(
            "l_partkey", "l_suppkey", "l_extendedprice", F.row_number().over(w).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select(
            "l_partkey",
            F.col("l_suppkey").alias("cheapest_supp"),
            F.col("l_extendedprice").alias("min_price"),
        )
    )


@register(
    "q_percentiles",
    oracle="""
    SELECT c_mktsegment,
           quantile_cont(c_acctbal, 0.5) AS p50,
           quantile_cont(c_acctbal, 0.9) AS p90,
           quantile_cont(c_acctbal, 0.99) AS p99
    FROM customer GROUP BY c_mktsegment
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (verified bit-identical to DuckDB's
    quantile_cont). The approx_percentile variant is benchmarked in tests —
    sketches are engine-specific so only the exact form is oracle-checked."""
    cust = load(spark, sf_dir, "customer")
    return cust.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.5)").alias("p50"),
        F.expr("percentile(c_acctbal, 0.9)").alias("p90"),
        F.expr("percentile(c_acctbal, 0.99)").alias("p99"),
    )


@register(
    "q_stddev_exact",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(sqrt((CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                 - CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                   * CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
                / (COUNT(*) - 1)), 8) AS qty_stddev
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_stddev_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample stddev via exact decimal moments (sum, sum-of-squares).

    The built-in stddev is single-pass/streaming and its float error differs
    per engine and per aggregation order; the two-moment formula over exact
    decimal sums is deterministic everywhere, and still one data pass with
    partial aggregation."""
    li = load(spark, sf_dir, "lineitem")
    sx = F.sum(dec("l_quantity")).cast("double")
    sx2 = F.sum((F.col("l_quantity") * F.col("l_quantity")).cast("decimal(18,6)")).cast("double")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag").agg(
        n.cast("bigint").alias("n"),
        F.round(F.sqrt((sx2 - sx * sx / n) / (n - F.lit(1))), 8).alias("qty_stddev"),
    )


@register(
    "q_rolling_range_frame",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           CAST(COUNT(*) OVER w AS BIGINT) AS orders_7d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) OVER w AS DOUBLE) AS spend_7d
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY date_diff('second', TIMESTAMP '1970-01-01', o_orderdate)
                 RANGE BETWEEN 604800 PRECEDING AND CURRENT ROW)
    """,
)
def q_rolling_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: trailing 7-day order count/spend per customer (value
    range, not row count — multiple orders at one timestamp all join the
    frame)."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-604800, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).cast("bigint").alias("orders_7d"),
        F.sum(dec("o_totalprice")).over(w).cast("double").alias("spend_7d"),
    )
