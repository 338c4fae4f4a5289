"""Analytics batch 9: lateral/correlated subqueries, multiset ops, bit/bool
aggregates, nth_value frames, fixed-width histograms, event-sequence pattern
matching.

Determinism per :mod:`watermill_spark.analytics.det`.
"""

from __future__ import annotations

import uuid as _uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_lateral_topn",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n,
         LATERAL (SELECT c_name, c_acctbal FROM customer
                  WHERE c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    """,
)
def q_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: top-2 customers by balance per nation.

    Declared as real SQL LATERAL (not a hand-rewrite) so Catalyst's
    decorrelation does the work: the per-nation subquery becomes one
    ranked-window pass over customer + a broadcast join — O(|customer|), not
    |nation| × scan. The 100-TB lesson: express the correlation, let the
    optimizer unnest it.
    """
    tag = _uuid.uuid4().hex[:8]
    load(spark, sf_dir, "nation").createOrReplaceTempView(f"nation_{tag}")
    load(spark, sf_dir, "customer").createOrReplaceTempView(f"customer_{tag}")
    return spark.sql(f"""
        SELECT n.n_name, t.c_name, t.c_acctbal
        FROM nation_{tag} n,
             LATERAL (SELECT c_name, c_acctbal FROM customer_{tag}
                      WHERE c_nationkey = n.n_nationkey
                      ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
    """)


@register(
    "q_multiset_ops",
    oracle="""
    WITH r AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'),
         a AS (SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A')
    SELECT 'in_both' AS tag, k, CAST(COUNT(*) AS BIGINT) AS n
    FROM (SELECT k FROM r INTERSECT ALL SELECT k FROM a) GROUP BY 2
    UNION ALL
    SELECT 'r_surplus', k, CAST(COUNT(*) AS BIGINT)
    FROM (SELECT k FROM r EXCEPT ALL SELECT k FROM a) GROUP BY 2
    """,
)
def q_multiset_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiset INTERSECT ALL / EXCEPT ALL (bag semantics: multiplicities
    min() and subtract, unlike q_set_ops' distinct-set forms).

    Scale: Spark plans both as a single hash aggregation per side on the key
    with count comparison — no sort, no pairwise matching.
    """
    li = load(spark, sf_dir, "lineitem")
    # r6: intersectAll + exceptAll each scanned both filtered branches —
    # 4 lineitem scans and two set-op shuffles. Multiset semantics over a
    # single key column reduce to per-key copy counts: intersectAll keeps
    # min(rc, ac) copies, exceptAll keeps rc − ac when positive — so ONE
    # scan builds the (suppkey, rc, ac) grid and both outputs are filters
    # of it. Exact integer counts: 4 fact scans → 1.
    grid = (
        li.filter(F.col("l_returnflag").isin("R", "A"))
        .groupBy(F.col("l_suppkey").alias("k"))
        .agg(
            F.count_if(F.col("l_returnflag") == "R").cast("bigint").alias("rc"),
            F.count_if(F.col("l_returnflag") == "A").cast("bigint").alias("ac"),
        )
        .localCheckpoint(eager=True)
    )
    both = (
        grid.filter((F.col("rc") > 0) & (F.col("ac") > 0))
        .select("k", F.least("rc", "ac").cast("bigint").alias("n"))
        .withColumn("tag", F.lit("in_both"))
    )
    surplus = (
        grid.filter(F.col("rc") > F.col("ac"))
        .select("k", (F.col("rc") - F.col("ac")).cast("bigint").alias("n"))
        .withColumn("tag", F.lit("r_surplus"))
    )
    return both.unionByName(surplus).select("tag", "k", "n")


@register(
    "q_bool_bit_aggs",
    oracle="""
    SELECT l_returnflag,
           bool_and(l_quantity < 50) AS all_small,
           bool_or(l_discount > 0.05) AS any_discounted,
           CAST(bit_and(l_linenumber) AS BIGINT) AS lines_band,
           CAST(bit_or(l_linenumber) AS BIGINT) AS lines_bor,
           CAST(bit_xor(l_linenumber) AS BIGINT) AS lines_bxor
    FROM lineitem GROUP BY 1
    """,
)
def q_bool_bit_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean and bitwise aggregates (every/any, bit_and/or/xor) — exact,
    order-independent, fully codegen'd with partial aggregation."""
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bool_and(F.col("l_quantity") < 50).alias("all_small"),
        F.bool_or(F.col("l_discount") > 0.05).alias("any_discounted"),
        F.bit_and("l_linenumber").cast("bigint").alias("lines_band"),
        F.bit_or("l_linenumber").cast("bigint").alias("lines_bor"),
        F.bit_xor("l_linenumber").cast("bigint").alias("lines_bxor"),
    )


@register(
    "q_nth_value_window",
    oracle="""
    SELECT o_custkey, o_orderkey,
           nth_value(o_totalprice, 2) OVER w AS second_price,
           first_value(o_orderkey) OVER w AS first_order,
           last_value(o_orderkey) OVER (PARTITION BY o_custkey
                                        ORDER BY o_orderdate, o_orderkey
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q_nth_value_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value / first_value / last_value with explicit frames (the
    UNBOUNDED FOLLOWING last_value pitfall done right). Total order
    (o_orderdate, o_orderkey) keeps frames engine-identical."""
    orders = load(spark, sf_dir, "orders")
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_full = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
        F.first("o_orderkey").over(w).alias("first_order"),
        F.last("o_orderkey").over(w_full).alias("last_order"),
    )


@register(
    "q_width_bucket_histogram",
    oracle="""
    -- DuckDB has no width_bucket; this is its exact definition for
    -- lower=0, upper=500000, n=10 over in-range positive values:
    -- floor(v / ((upper-lower)/n)) + 1, clamped to n+1 at/above upper.
    SELECT CAST(CASE WHEN o_totalprice >= 500000 THEN 11
                     ELSE floor(o_totalprice / 50000.0) + 1 END AS BIGINT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(o_totalprice) AS DOUBLE) AS lo,
           CAST(MAX(o_totalprice) AS DOUBLE) AS hi
    FROM orders GROUP BY 1
    """,
)
def q_width_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via width_bucket — the scan-once, shuffle-11-rows
    histogram (vs ntile, which must sort the world). Integer bucket bounds
    make the double arithmetic engine-identical."""
    orders = load(spark, sf_dir, "orders")
    return orders.groupBy(
        F.width_bucket("o_totalprice", F.lit(0), F.lit(500000), F.lit(10))
        .cast("bigint")
        .alias("bucket")
    ).agg(
        bcount("n"),
        F.min("o_totalprice").cast("double").alias("lo"),
        F.max("o_totalprice").cast("double").alias("hi"),
    )


@register(
    "q_events_pattern_match",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts,
             lead(event_type) OVER w AS next_type,
             lead(ts) OVER w AS next_ts
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, ts AS view_ts, next_ts AS purchase_ts
    FROM ordered
    WHERE event_type = 'view' AND next_type = 'purchase'
      AND next_ts <= ts + INTERVAL 30 MINUTE
    """,
)
def q_events_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence pattern detection (MATCH_RECOGNIZE-lite): immediately
    consecutive view→purchase within 30 minutes per user.

    Scale: lag/lead over (user_id, ts) is one shuffle-sort; no self-join on
    the event stream. event_id tiebreak keeps adjacency engine-identical.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.lead("event_type").over(w).alias("next_type"),
        F.lead("ts").over(w).alias("next_ts"),
    )
    return ordered.filter(
        (F.col("event_type") == "view")
        & (F.col("next_type") == "purchase")
        & (F.col("next_ts") <= F.col("ts") + F.expr("INTERVAL 30 MINUTE"))
    ).select("user_id", F.col("ts").alias("view_ts"), F.col("next_ts").alias("purchase_ts"))


@register(
    "q_scalar_subquery",
    oracle="""
    SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_above
    FROM customer
    WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                              / CAST(COUNT(*) AS DOUBLE)
                       FROM customer)
    GROUP BY 1
    """,
)
def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery: customers above the global mean balance.

    Spark plans the aggregate as a one-row broadcast (ReusedSubquery) — the
    fact side streams through a map-side filter; no shuffle besides the
    final small group-by. Exact-decimal mean per det.py rules.
    """
    cust = load(spark, sf_dir, "customer")
    mean = cust.agg(
        (F.sum(dec("c_acctbal")).cast("double") / F.count(F.lit(1)).cast("double")).alias("m")
    )
    return (
        cust.join(F.broadcast(mean))
        .filter(F.col("c_acctbal") > F.col("m"))
        .groupBy("c_mktsegment")
        .agg(bcount("n_above"))
    )
