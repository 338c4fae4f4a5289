"""Analytics batch 145: RFM customer segmentation, ABC/XYZ inventory
classification, and the cohort retention triangle.

Three staples of operational analytics: RFM (recency/frequency/monetary
quintile scoring — the classic CRM segmentation), ABC/XYZ (Pareto
revenue class × demand-variability class — the inventory-policy matrix),
and the cohort triangle (first-order-month cohorts × month age —
the retention table every growth team reads weekly).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/window families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .distrib import two_level_order
from .registry import load, register


@register(
    "q_rfm_segmentation",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS maxd FROM orders),
    rfm AS (
      SELECT o_custkey,
             CAST(date_diff('day', MAX(CAST(o_orderdate AS DATE)),
                            (SELECT maxd FROM mx)) AS BIGINT) AS recency,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS monetary
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT o_custkey, recency, frequency, monetary,
             NTILE(5) OVER (ORDER BY recency DESC, o_custkey) AS r,
             NTILE(5) OVER (ORDER BY frequency ASC, o_custkey) AS f,
             NTILE(5) OVER (ORDER BY monetary ASC, o_custkey) AS m
      FROM rfm
    ),
    seg AS (
      SELECT *,
             CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champions'
                  WHEN r >= 4 AND f >= 3 THEN 'loyal'
                  WHEN r >= 4 THEN 'recent'
                  WHEN r <= 2 AND f >= 4 THEN 'at_risk'
                  WHEN r <= 2 AND f <= 2 THEN 'hibernating'
                  ELSE 'regular' END AS segment
      FROM scored
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           round(CAST(SUM(CAST(recency AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_recency_days,
           round(CAST(SUM(CAST(frequency AS DECIMAL(38,6))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_frequency,
           round(CAST(SUM(CAST(monetary AS DECIMAL(38,10))) AS DOUBLE)
                 / COUNT(*), 2) AS avg_monetary
    FROM seg GROUP BY 1 ORDER BY 1
    """,
)
def q_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    relative to the dataset's max order date), frequency (order count),
    monetary (exact revenue sum); each scored 1-5 by NTILE quintile
    (5 = best: most recent / most frequent / highest spend), then mapped
    to the classic named segments and profiled per segment.

    Determinism: every NTILE ordering carries o_custkey as a unique
    tiebreak, so quintile assignment is a pure row-position function
    identical in both engines; averages are exact-decimal-sum / count.

    Scale: one groupBy collapses orders to the customer grain; the three
    quintile windows sort the customer dimension (bounded relative to
    facts — at 100 TB use range-partitioned sort; the per-row work stays
    O(1)). §2.B window family [NS].
    """
    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("maxd"))
    rfm = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("lastd"),
            bcount("frequency"),
            F.sum(dec("o_totalprice")).cast("double").alias("monetary"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.datediff("maxd", "lastd").cast("bigint").alias("recency"),
            "frequency",
            "monetary",
        )
    )
    scored = rfm.select(
        "*",
        F.ntile(5)
        .over(Window.orderBy(F.col("recency").desc(), "o_custkey"))
        .alias("r"),
        F.ntile(5)
        .over(Window.orderBy(F.col("frequency").asc(), "o_custkey"))
        .alias("f"),
        F.ntile(5)
        .over(Window.orderBy(F.col("monetary").asc(), "o_custkey"))
        .alias("m"),
    )
    seg = scored.withColumn(
        "segment",
        F.when((F.col("r") >= 4) & (F.col("f") >= 4) & (F.col("m") >= 4), "champions")
        .when((F.col("r") >= 4) & (F.col("f") >= 3), "loyal")
        .when(F.col("r") >= 4, "recent")
        .when((F.col("r") <= 2) & (F.col("f") >= 4), "at_risk")
        .when((F.col("r") <= 2) & (F.col("f") <= 2), "hibernating")
        .otherwise("regular"),
    )
    return (
        seg.groupBy("segment")
        .agg(
            bcount("n_customers"),
            F.round(
                F.sum(F.col("recency").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_recency_days"),
            F.round(
                F.sum(F.col("frequency").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_frequency"),
            F.round(
                F.sum(F.col("monetary").cast("decimal(38,10)")).cast("double")
                / F.count(F.lit(1)),
                2,
            ).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


@register(
    "q_abc_xyz_inventory",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue
      FROM lineitem GROUP BY 1
    ),
    abc AS (
      SELECT l_partkey, revenue,
             CAST(SUM(CAST(revenue AS DECIMAL(38,10)))
                  OVER (ORDER BY revenue DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE)
             / CAST(SUM(CAST(revenue AS DECIMAL(38,10))) OVER () AS DOUBLE)
               AS cum_share
      FROM rev
    ),
    monthly AS (
      SELECT l_partkey, date_trunc('month', l_shipdate) AS ym,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    xyz AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(q AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(q * q AS DECIMAL(38,10))) AS DOUBLE) AS sxx
      FROM monthly GROUP BY 1
    ),
    cls AS (
      SELECT a.l_partkey, a.revenue,
             CASE WHEN a.cum_share <= 0.8 THEN 'A'
                  WHEN a.cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc,
             CASE WHEN x.n < 2 THEN 'Z'
                  WHEN sqrt((x.sxx - x.s * x.s / x.n) / (x.n - 1.0))
                       / (x.s / x.n) < 0.5 THEN 'X'
                  WHEN sqrt((x.sxx - x.s * x.s / x.n) / (x.n - 1.0))
                       / (x.s / x.n) < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz
      FROM abc a JOIN xyz x ON x.l_partkey = a.l_partkey
    )
    SELECT abc, xyz,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(CAST(revenue AS DECIMAL(38,10))) AS DOUBLE), 2)
             AS revenue
    FROM cls GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_abc_xyz_inventory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC/XYZ inventory matrix: parts classed A/B/C by cumulative
    revenue share (Pareto cut at 80%/95%, ranked by revenue with partkey
    tiebreak) × X/Y/Z by the coefficient of variation of monthly demand
    (CV < 0.5 / < 1.0 / else) — the 3×3 grid that decides which parts
    get tight forecasting and which get safety stock.

    Determinism: cumulative and total revenue accumulate over
    DECIMAL(38,10) casts (window-tree independent); CV is a fixed
    double expression of decimal-exact (n, s, sxx); rank ties broken by
    partkey.

    Scale (r6 pass 13f): two fact rollups to the part grain; the Pareto
    cumsum no longer runs in ONE task over the data-scaled part grid —
    it is the two-level exact prefix sum (q_monetary_unit_sampling
    pattern): range-repartition by the Pareto order, per-partition
    DECIMAL(38,10) sums become cumulative offsets, each row adds its
    offset to its within-partition prefix (operands cast to
    DECIMAL(30,10) so the addition stays losslessly inside precision 38;
    corpus revenue < 10¹⁸). Decimal addition is associative and the
    order key unique, so every cum/total is the identical exact decimal.
    The ABC-XYZ join is part-keyed. §2.B window/aggregation family
    [NS], guide §2.5.
    """
    li = load(spark, sf_dir, "lineitem")
    # NOT merged into one scan (r7, measured): the (part, month) grid is
    # nearly fact-sized at TPC-H-like distributions (~30 lineitems per
    # part spread over ~84 months), so materializing it to feed both
    # rollups costs MORE than the second pruned columnar read of
    # (partkey, extendedprice) — the pass-11 criterion (sf1 A/B: 5.0 s
    # single-scan-grid vs 3.2 s two pruned scans). The two scans read
    # disjoint narrow column sets.
    rev = li.groupBy("l_partkey").agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("revenue")
    )
    # r7: the pass-13f two-level prefix scaffold moved to the shared
    # distrib.two_level_order helper (same range grid, same (30,10)
    # narrow-cast offsets — identical exact decimals).
    ranked = two_level_order(
        rev,
        [F.col("revenue").desc(), "l_partkey"],
        sums=[
            {
                "col": F.col("revenue").cast("decimal(38,10)"),
                "acc": "decimal(38,10)",
                "running": "cum",
                "total": "tot",
            }
        ],
    )
    abc = ranked.select(
        "l_partkey",
        "revenue",
        (F.col("cum").cast("double") / F.col("tot").cast("double")).alias(
            "cum_share"
        ),
    )
    monthly = li.groupBy(
        "l_partkey", F.date_trunc("month", "l_shipdate").alias("ym")
    ).agg(F.sum(dec("l_quantity")).cast("double").alias("q"))
    xyz = monthly.groupBy("l_partkey").agg(
        bcount("n"),
        F.sum(F.col("q").cast(D15)).cast("double").alias("s"),
        F.sum((F.col("q") * F.col("q")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
    )
    cv = F.sqrt(
        (F.col("sxx") - F.col("s") * F.col("s") / F.col("n")) / (F.col("n") - 1.0)
    ) / (F.col("s") / F.col("n"))
    cls = abc.join(xyz, "l_partkey").select(
        "revenue",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc"),
        F.when(F.col("n") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz"),
    )
    return (
        cls.groupBy("abc", "xyz")
        .agg(
            bcount("n_parts"),
            F.round(
                F.sum(F.col("revenue").cast("decimal(38,10)")).cast("double"), 2
            ).alias("revenue"),
        )
        .orderBy("abc", "xyz")
    )


@register(
    "q_cohort_retention_triangle",
    oracle="""
    WITH om AS (
      SELECT o_custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS ym
      FROM orders GROUP BY 1, 2
    ),
    first AS (
      SELECT o_custkey, MIN(ym) AS cohort FROM om GROUP BY 1
    ),
    aged AS (
      SELECT f.cohort,
             CAST((year(o.ym) * 12 + month(o.ym))
                  - (year(f.cohort) * 12 + month(f.cohort)) AS BIGINT)
               AS age,
             o.o_custkey
      FROM om o JOIN first f ON f.o_custkey = o.o_custkey
      GROUP BY 1, 2, 3
    ),
    act AS (
      SELECT cohort, age, CAST(COUNT(*) AS BIGINT) AS n_active
      FROM aged GROUP BY 1, 2
    ),
    sz AS (SELECT cohort, n_active AS cohort_size FROM act WHERE age = 0)
    SELECT a.cohort AS cohort_month, a.age, a.n_active, s.cohort_size,
           round(CAST(a.n_active AS DOUBLE) / s.cohort_size * 100.0, 4)
             AS retention_pct
    FROM act a JOIN sz s ON s.cohort = a.cohort
    WHERE a.age <= 6
    ORDER BY 1, 2
    """,
)
def q_cohort_retention_triangle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: customers grouped by first-order
    month; for each cohort × month-age (0-6), the count still ordering
    and the retention rate vs the cohort's size — the table behind every
    retention curve, here computed once over the whole history.

    Determinism: month age is pure integer calendar arithmetic
    (year*12+month), no float date math; rates divide in double.

    Scale: orders collapse to the (customer, month) grain, then to the
    bounded (cohort, age) grid; the cohort-size join is an equi-join on
    the ~84-row month dimension (broadcast). §2.B aggregation family
    [NS].
    """
    o = load(spark, sf_dir, "orders")
    om = (
        o.select(
            "o_custkey",
            F.date_trunc("month", "o_orderdate").cast("date").alias("ym"),
        )
        .distinct()
    )
    # checkpointed once (r6): the cohort firsts and the aging join each
    # re-derived the distinct customer-month rollup from the fact, and
    # the cohort sizes re-derived the activity grid (4 orders scans in
    # the plan); the customer×month grid and the ≤cohorts×ages activity
    # grid each materialize once
    om = om.localCheckpoint(eager=True)
    first = om.groupBy("o_custkey").agg(F.min("ym").alias("cohort"))
    aged = (
        om.join(first, "o_custkey")
        .select(
            "cohort",
            (
                (F.year("ym") * 12 + F.month("ym"))
                - (F.year("cohort") * 12 + F.month("cohort"))
            )
            .cast("bigint")
            .alias("age"),
            "o_custkey",
        )
        .distinct()
    )
    act = aged.groupBy("cohort", "age").agg(bcount("n_active"))
    act = act.localCheckpoint(eager=True)
    sz = act.filter(F.col("age") == 0).select(
        "cohort", F.col("n_active").alias("cohort_size")
    )
    return (
        act.join(F.broadcast(sz), "cohort")
        .filter(F.col("age") <= 6)
        .select(
            F.col("cohort").alias("cohort_month"),
            "age",
            "n_active",
            "cohort_size",
            F.round(
                F.col("n_active").cast("double") / F.col("cohort_size") * 100.0,
                4,
            ).alias("retention_pct"),
        )
        .orderBy("cohort_month", "age")
    )
