"""TPC-H queries 2, 8, 9, 11, 16, 20, 21 — adapted to the testdata schema.

The driver's star schema has no ``partsupp`` table and lineitem lacks
receipt/commit dates, so the supply-cost / lateness inputs of the original
queries are re-derived from ``lineitem`` (unit price = l_extendedprice /
l_quantity; "late" = shipped > 60 days after o_orderdate). Each query keeps
the *plan shape* that makes its original interesting — correlated scalar
subqueries, share-of-total, grouped HAVING against a global aggregate,
NOT IN, double-correlated EXISTS/NOT EXISTS — which is what the engine is
graded on.

Scale notes (100 TB lineitem):
- Dim joins (supplier/nation/region/part) broadcast; the fact table never
  shuffles for them.
- Correlated-min (q02) and share-of-total (q11) are computed with one extra
  tiny aggregate joined back (broadcast), not a per-row subquery — Spark
  rewrites the SQL subquery the same way; the DataFrame form makes the
  single-pass plan explicit.
- q21's double correlation becomes semi-join + anti-join on l_orderkey: two
  shuffles on the same key, which AQE coalesces; at scale, bucketing
  lineitem by l_orderkey makes both co-located.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import DEC, bcount, dec
from .registry import load, register
from .tpch import _SQL_DISC_PRICE, _disc_price


@register(
    "q02_min_cost_supplier",
    oracle="""
    WITH cost AS (
      SELECT l.l_partkey, l.l_suppkey,
             min(l.l_extendedprice / l.l_quantity) AS unit_cost
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
      GROUP BY l.l_partkey, l.l_suppkey)
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_type,
           c.unit_cost
    FROM cost c
    JOIN part p ON p.p_partkey = c.l_partkey
    JOIN supplier s ON s.s_suppkey = c.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_size = 15 AND p.p_type = 'LARGE'
      AND c.unit_cost = (SELECT min(c2.unit_cost) FROM cost c2
                         WHERE c2.l_partkey = c.l_partkey)
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q02_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated min-within-group + 4-way dim join.

    ``partsupp.ps_supplycost`` is re-derived as the minimum unit price the
    supplier ever shipped the part at (``min(l_extendedprice/l_quantity)``,
    per-row double division — bit-identical across engines). The correlated
    ``= (SELECT min ...)`` becomes a window min over l_partkey: one pass, no
    re-scan, no per-row subquery.

    Scale: the region filter prunes suppliers before the fact aggregation;
    the window min runs on the already-aggregated (part, supp) table — tiny
    compared to lineitem.
    """
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    euro_sup = (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cost = (
        li.join(euro_sup.select("s_suppkey"), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min(F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_cost"))
    )
    w = Window.partitionBy("l_partkey")
    best = cost.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        best.join(part, best.l_partkey == part.p_partkey)
        .join(euro_sup, best.l_suppkey == euro_sup.s_suppkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "unit_cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q08_market_share",
    oracle=f"""
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                         ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE) AS mkt_share
    FROM (
      SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
             {_SQL_DISC_PRICE} AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'EUROPE'
        AND o.o_orderdate BETWEEN TIMESTAMP '1995-01-01'
                              AND TIMESTAMP '1996-12-31')
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def q08_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: national market share within a region, by year.

    Conditional aggregation (share = CASE-sum / total-sum) over a 6-join
    star. Both sums are exact decimal; the final ratio divides in DOUBLE.

    Scale: all five dim joins broadcast; the only shuffle is the final
    2-row-per-year aggregate. The orders date filter is pushed to the scan.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between("1995-01-01", "1996-12-31")
    )
    cust = load(spark, sf_dir, "customer")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n1 = nat.alias("n1")
    n2 = nat.select(
        F.col("n_nationkey").alias("n2_nationkey"), F.col("n_name").alias("supp_nation")
    )
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(reg), F.col("n1.n_regionkey") == reg.r_regionkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(n2), sup.s_nationkey == F.col("n2_nationkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            _disc_price().alias("volume"),
            "supp_nation",
        )
    )
    nat_vol = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast(DEC)
    )
    return (
        joined.groupBy("o_year")
        .agg(
            (F.sum(nat_vol).cast("double") / F.sum("volume").cast("double")).alias(
                "mkt_share"
            )
        )
        .orderBy("o_year")
    )


@register(
    "q09_product_profit",
    oracle="""
    SELECT nation, o_year, CAST(SUM(amount) AS DOUBLE) AS sum_profit
    FROM (
      SELECT n.n_name AS nation,
             EXTRACT(year FROM o.o_orderdate) AS o_year,
             CAST(l.l_extendedprice * (1.0 - l.l_discount)
                  - p.p_retailprice * l.l_quantity * 0.1 AS DECIMAL(18,6))
               AS amount
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE p.p_name LIKE '%green%')
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def q09_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and year.

    ``ps_supplycost`` is absent, so cost is modeled as 10% of retail price
    per unit (p_retailprice * l_quantity * 0.1) — same multi-term profit
    expression, computed in DOUBLE (bit-identical) then cast to DECIMAL per
    row so the SUM is order-independent.

    Scale: part/supplier/nation broadcast; the orders join is the one real
    shuffle (fact-fact on orderkey); the p_name LIKE filter prunes ~90% of
    parts before the join, and column pruning keeps the scan at 5 columns.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("%green%"))
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    orders = load(spark, sf_dir, "orders")
    amount = (
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    ).cast(DEC)
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.sum("amount").cast("double").alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


@register(
    "q11_important_parts",
    oracle=f"""
    SELECT l_partkey, CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) AS part_value
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_7'
    GROUP BY l_partkey
    HAVING CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) >
      (SELECT CAST(SUM({_SQL_DISC_PRICE}) AS DOUBLE) * 0.005
       FROM lineitem l
       JOIN supplier s ON s.s_suppkey = l.l_suppkey
       JOIN nation n ON n.n_nationkey = s.s_nationkey
       WHERE n.n_name = 'NATION_7')
    ORDER BY part_value DESC, l_partkey
    """,
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value with HAVING against a global total.

    Supply value is re-derived from shipped revenue for one nation's
    suppliers. The scalar subquery (0.5% of total) is computed once from the
    per-part aggregate itself — re-aggregating the grouped result instead of
    re-scanning lineitem, then cross-joined back (1-row broadcast).

    Scale: one lineitem aggregation; the threshold compare happens on the
    grouped (≤ #parts) table. Both engines derive the threshold from the
    same exact decimal total, so the comparison is bit-identical.
    """
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    per_part = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy("l_partkey")
        .agg(F.sum(_disc_price()).alias("value_dec"))
        # checkpointed once (r6): the 0.5% threshold and the filtered
        # output both re-derived the rollup (2 lineitem scans in the
        # plan); the part-domain grid materializes once
        .localCheckpoint(eager=True)
    )
    total = per_part.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.005)).alias("threshold")
    )
    return (
        per_part.select("l_partkey", F.col("value_dec").cast("double").alias("part_value"))
        .join(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


@register(
    "q16_supplier_count",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#13'
      AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
      AND l.l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    """,
)
def q16_supplier_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts with a NOT IN exclusion.

    The "customer complaints" exclusion becomes suppliers with negative
    account balance; NOT IN maps to a broadcast left-anti join (safe here:
    s_suppkey is non-null, so NOT IN == anti-join semantics).

    Scale: the part predicate trio prunes before the join; count(distinct)
    expands to a two-phase aggregate (dedup shuffle then count) — fine
    because the dedup key (brand,type,size,suppkey) is low-cardinality.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#13")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
    )
    bad_sup = load(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .join(bad_sup, li.l_suppkey == bad_sup.s_suppkey, "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


@register(
    "q20_potential_promotion",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_1'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE 'red%'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 50.0)
    ORDER BY s_name
    """,
)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: IN over a grouped-HAVING subquery + dim filter.

    The "excess availability" predicate becomes: supplier shipped > 50 units
    of some red part. IN maps to left-semi join on the grouped subquery.

    Scale: the part LIKE filter broadcasts into the lineitem agg; the
    grouped (supp, part) table is small, and the semi-join against 100
    suppliers broadcasts.
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part").filter(F.col("p_name").like("red%"))
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_1")
    qualifying = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(dec("l_quantity")).cast("double").alias("qty"))
        .filter(F.col("qty") > 50.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        sup.join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .join(qualifying, sup.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@register(
    "q21_waiting_supplier",
    oracle="""
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE o.o_orderstatus = 'F'
      AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q21_waiting_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: double-correlated EXISTS / NOT EXISTS.

    "Late" is re-derived as shipped > 60 days after order date (lineitem has
    no receipt/commit dates). Suppliers who were the *only* late supplier on
    a multi-supplier finalized order: EXISTS → left-semi join, NOT EXISTS →
    left-anti join, both on (orderkey, suppkey≠).

    Scale: three passes over lineitem keyed by l_orderkey — with lineitem
    bucketed by l_orderkey all three are co-located (no shuffle); without
    bucketing AQE coalesces the three shuffles onto the same key. The late
    filter runs before both correlations to shrink l1 early.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    sup = load(spark, sf_dir, "supplier")
    # single pass (r6): the semi/anti self-joins re-scanned lineitem
    # twice more (3 scans, two fact-fact SMJs). Both exist conditions are
    # order-local distinct-supplier counts: "another supplier has a line
    # in this order" ⇔ distinct suppliers ≥ 2, and "no OTHER supplier is
    # late on it" ⇔ distinct LATE suppliers = 1 (the candidate line's own
    # supplier is late, so it contributes the 1). Two collect_set windows
    # over the same order partition replace both joins; row multiplicity
    # of the candidate late lines is untouched, so numwait counts the
    # same lines. The orders inner join already restricts every line of a
    # kept order to status 'F' (status is order-level), matching the old
    # l2 = all-lineitems side.
    wok = Window.partitionBy("l_orderkey")
    ann = (
        li.join(
            orders.select("o_orderkey", "o_orderdate"),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            (
                F.col("l_shipdate")
                > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            ).alias("late"),
        )
        .select(
            "l_orderkey",
            "l_suppkey",
            "late",
            F.size(F.collect_set("l_suppkey").over(wok)).alias("n_supp"),
            F.size(
                F.collect_set(
                    F.when(F.col("late"), F.col("l_suppkey"))
                ).over(wok)
            ).alias("n_late_supp"),
        )
    )
    sole_late = ann.filter(
        F.col("late") & (F.col("n_supp") >= 2) & (F.col("n_late_supp") == 1)
    )
    return (
        sole_late.join(sup, F.col("l_suppkey") == sup.s_suppkey)
        .groupBy("s_name")
        .agg(bcount("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )
