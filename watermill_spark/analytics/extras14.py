"""Analytics batch 22: financial allocation & audit shapes — largest-remainder
proration, invoice reconciliation, duplicate-rate reporting, Benford digit
audit, Wilson confidence intervals.

Determinism per :mod:`watermill_spark.analytics.det`. The proration query is
all-BIGINT (cents), so reconciliation is *provable* in the result: every
order's allocations sum exactly to its total. Benford first digits come from
the DECIMAL's string form — no floating-point log10 near power-of-ten
boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import RATE, bcount, dec
from .registry import load, register


@register(
    "q_proration_largest_remainder",
    oracle="""
    WITH w AS (
      SELECT l_orderkey, l_linenumber,
             CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS wc
      FROM lineitem
    ),
    t AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS total_c
      FROM orders
    ),
    base AS (
      SELECT w.l_orderkey, w.l_linenumber, t.total_c,
             (t.total_c * w.wc) // SUM(w.wc) OVER (PARTITION BY w.l_orderkey)
               AS base_c,
             (t.total_c * w.wc) % SUM(w.wc) OVER (PARTITION BY w.l_orderkey)
               AS rem,
             SUM(w.wc) OVER (PARTITION BY w.l_orderkey) AS wsum
      FROM w JOIN t ON w.l_orderkey = t.o_orderkey
    ),
    ranked AS (
      SELECT *,
             CAST(row_number() OVER (
               PARTITION BY l_orderkey ORDER BY rem DESC, l_linenumber
             ) AS BIGINT) AS rk,
             total_c - SUM(base_c) OVER (PARTITION BY l_orderkey) AS leftover
      FROM base
    )
    SELECT l_orderkey AS o_orderkey,
           CAST(MAX(total_c) AS BIGINT) AS total_cents,
           CAST(SUM(base_c + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                AS BIGINT) AS allocated_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(MAX(total_c) = SUM(base_c + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)
                AS BOOLEAN) AS reconciled
    FROM ranked GROUP BY 1
    """,
)
def q_proration_largest_remainder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder proration: allocate each order's total (in integer
    cents) across its lineitems proportionally to extended price, handing
    the rounding leftover to the largest fractional remainders — the
    standard exact-reconciliation allocation (no cent ever lost; the result
    proves it per order with a `reconciled` flag that is always true).

    All arithmetic is BIGINT; products stay < 1e15 (6e7 total cents × 1e7
    weight) so no overflow at any SF. Scale: every window clusters on
    l_orderkey — the whole allocate-rank-reconcile pipeline is one shuffle
    plus a broadcast-able totals join. §2.B [NS] surface.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    w = li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint").alias("wc"),
    )
    t = orders.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").alias("total_c"),
    )
    wk = Window.partitionBy("l_orderkey")
    base = (
        w.join(t, w.l_orderkey == t.o_orderkey)
        .withColumn("wsum", F.sum("wc").over(wk))
        .withColumn("base_c", F.expr("(total_c * wc) div wsum"))
        .withColumn("rem", (F.col("total_c") * F.col("wc")) % F.col("wsum"))
    )
    ranked = base.withColumn(
        "rk",
        F.row_number()
        .over(wk.orderBy(F.col("rem").desc(), "l_linenumber"))
        .cast("bigint"),
    ).withColumn("leftover", F.col("total_c") - F.sum("base_c").over(wk))
    alloc = F.col("base_c") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
    return ranked.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("total_c").cast("bigint").alias("total_cents"),
        F.sum(alloc).cast("bigint").alias("allocated_cents"),
        bcount("n_lines"),
        (F.max("total_c") == F.sum(alloc)).alias("reconciled"),
    )


@register(
    "q_order_total_reconciliation",
    oracle="""
    WITH comp AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(8,6)))
                 * (1 + CAST(l_tax AS DECIMAL(8,6)))) AS computed
      FROM lineitem GROUP BY 1
    ),
    d AS (
      SELECT o_orderkey,
             CAST(o_totalprice AS DECIMAL(18,6)) AS stated,
             comp.computed,
             abs(CAST(o_totalprice AS DECIMAL(18,6)) - comp.computed) AS diff
      FROM orders JOIN comp ON o_orderkey = l_orderkey
    )
    SELECT CASE WHEN diff = 0 THEN 'exact'
                WHEN diff * 100 <= stated THEN 'within_1pct'
                WHEN diff * 10 <= stated THEN 'within_10pct'
                ELSE 'mismatch' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           round(CAST(SUM(diff) AS DOUBLE), 6) AS total_abs_diff
    FROM d GROUP BY 1
    """,
)
def q_order_total_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Invoice reconciliation audit: per order, compare the stated total
    against Σ price·(1−discount)·(1+tax) recomputed from its lines, and
    bucket the absolute difference (exact / ≤1% / ≤10% / mismatch). The
    tolerance compare is decimal-exact — ``diff·100 ≤ stated`` instead of a
    double ratio, so bucket edges can't straddle engines.

    (On this synthetic data the invariant deliberately does NOT hold — the
    audit reports real discrepancies, which is its job.) Scale: one
    partial-agg per order on the fact table, a co-partitioned join on the
    order key, then a 4-row aggregate. §2.B [NS] surface.
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    comp = li.groupBy("l_orderkey").agg(
        F.sum(
            dec("l_extendedprice")
            * (F.lit(1) - dec("l_discount", RATE))
            * (F.lit(1) + dec("l_tax", RATE))
        ).alias("computed")
    )
    d = (
        orders.join(comp, orders.o_orderkey == comp.l_orderkey)
        .select(
            dec("o_totalprice").alias("stated"),
            F.col("computed"),
        )
        .withColumn("diff", F.abs(F.col("stated") - F.col("computed")))
    )
    return d.groupBy(
        F.when(F.col("diff") == 0, F.lit("exact"))
        .when(F.col("diff") * 100 <= F.col("stated"), F.lit("within_1pct"))
        .when(F.col("diff") * 10 <= F.col("stated"), F.lit("within_10pct"))
        .otherwise(F.lit("mismatch"))
        .alias("bucket")
    ).agg(
        bcount("n_orders"),
        F.round(F.sum("diff").cast("double"), 6).alias("total_abs_diff"),
    )


@register(
    "q_dupe_rate_by_source",
    oracle="""
    WITH sh AS (
      SELECT source, md5(text) AS h, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM documents GROUP BY 1, 2
    ),
    aug AS (
      SELECT source, cnt,
             CAST(COUNT(*) OVER (PARTITION BY h) AS BIGINT) AS n_sources
      FROM sh
    )
    SELECT source,
           CAST(SUM(cnt) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_unique_texts,
           CAST(SUM(cnt) - COUNT(*) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)
             AS dup_rate,
           CAST(SUM(CASE WHEN n_sources > 1 THEN cnt ELSE 0 END) AS BIGINT)
             AS n_cross_source_docs
    FROM aug GROUP BY 1
    """,
)
def q_dupe_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicate accounting for corpus curation: within-source
    dup rate (docs minus unique texts) plus cross-source leakage (docs whose
    text also appears under another source) — the report that decides which
    crawl snapshot to drop.

    Scale: one groupBy on (source, md5) with map-side combine; the
    cross-source count is a window over the already-aggregated hash rows
    clustered by hash (same uniform-key discipline as the dedup family).
    §2.B [NS] training-pipeline surface.
    """
    docs = load(spark, sf_dir, "documents")
    sh = docs.groupBy("source", F.md5("text").alias("h")).agg(bcount("cnt"))
    aug = sh.withColumn(
        "n_sources", F.count(F.lit(1)).over(Window.partitionBy("h")).cast("bigint")
    )
    return aug.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("n_docs"),
        bcount("n_unique_texts"),
        (
            (F.sum("cnt") - F.count(F.lit(1))).cast("double")
            / F.sum("cnt").cast("double")
        ).alias("dup_rate"),
        F.sum(F.when(F.col("n_sources") > 1, F.col("cnt")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_cross_source_docs"),
    )


@register(
    "q_benford_digit_audit",
    oracle="""
    WITH d AS (
      SELECT substr(CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), 1, 1)
               AS first_digit
      FROM orders WHERE o_totalprice > 0
    )
    SELECT first_digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM d) AS DOUBLE) AS share
    FROM d GROUP BY 1
    """,
)
def q_benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-digit audit of order totals (the classic fraud screen:
    organic amounts skew toward leading 1s and 2s). The digit comes from the
    DECIMAL's canonical string — immune to the floating-point log10
    boundary problem at exact powers of ten.

    Scale: map-side-combined groupBy to ≤9 rows; the total for the share is
    a broadcast 1-row aggregate. §2.B [NS] surface.
    """
    orders = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    d = orders.select(
        F.substring(F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1)
        .alias("first_digit")
    )
    # single scan (r6): the grand total is the exact sum of the ≤10-row
    # digit grid (checkpointed once) instead of a second orders scan
    cnts = d.groupBy("first_digit").agg(bcount("n")).localCheckpoint(eager=True)
    tot = cnts.agg(F.sum("n").alias("n_total"))
    return (
        cnts.crossJoin(F.broadcast(tot))
        .select(
            "first_digit",
            "n",
            (F.col("n").cast("double") / F.col("n_total").cast("double")).alias("share"),
        )
    )


@register(
    "q_event_rate_wilson_ci",
    oracle="""
    WITH c AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS k
      FROM events GROUP BY 1
    ),
    t AS (SELECT CAST(SUM(k) AS BIGINT) AS n FROM c)
    SELECT event_type, k, n,
           round(CAST(k AS DOUBLE) / CAST(n AS DOUBLE), 6) AS p_hat,
           round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                   + 1.9208 / CAST(n AS DOUBLE))
                  - 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                / CAST(n AS DOUBLE)
                                + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS ci_low,
           round(((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
                   + 1.9208 / CAST(n AS DOUBLE))
                  + 1.96 * sqrt((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                                / CAST(n AS DOUBLE)
                                + 0.9604 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))))
                 / (1.0 + 3.8416 / CAST(n AS DOUBLE)), 6) AS ci_high
    FROM c CROSS JOIN t
    """,
)
def q_event_rate_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for each event type's share of
    traffic — the interval that stays sane at extreme proportions, written
    with pre-squared z constants (1.96² = 3.8416, z²/2 = 1.9208,
    z²/4 = 0.9604) so both engines evaluate the identical double
    expression, rounded 6dp for the sqrt ulp.

    Scale: per-type counts collapse map-side; the total is a broadcast
    1-row aggregate; the CI math runs on ≤|types| rows. §2.B [NS] surface.
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the total and the CI pass both re-derived
    # the counts (2 events scans in the plan); the ≤|types| grid
    # materializes once
    c = ev.groupBy("event_type").agg(bcount("k")).localCheckpoint(eager=True)
    t = c.agg(F.sum("k").cast("bigint").alias("n"))
    kd = F.col("k").cast("double")
    nd = F.col("n").cast("double")
    p = kd / nd
    center = p + F.lit(1.9208) / nd
    half = F.lit(1.96) * F.sqrt(
        p * (F.lit(1.0) - p) / nd + F.lit(0.9604) / (nd * nd)
    )
    denom = F.lit(1.0) + F.lit(3.8416) / nd
    return c.crossJoin(F.broadcast(t)).select(
        "event_type",
        "k",
        "n",
        F.round(p, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("ci_low"),
        F.round((center + half) / denom, 6).alias("ci_high"),
    )
