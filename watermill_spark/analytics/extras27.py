"""Analytics batch 35: cohort overlap, cross-series structure & series
hygiene — week-over-week user-base Jaccard, brand cannibalization
correlation matrix, missing-calendar-day audit (date-spine anti-join),
and local peak detection with prominence.

All set overlaps and peak flags are integer/exact-decimal comparisons;
cross-series correlations use the wide-decimal moment idiom on the
brand×day grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import dec
from .registry import load, register


@register(
    "q_weekly_user_overlap",
    oracle="""
    WITH wu AS (
      SELECT DISTINCT date_trunc('week', ts) AS wk, user_id FROM events
    ),
    sizes AS (SELECT wk, COUNT(*) AS n FROM wu GROUP BY 1),
    pairs AS (
      SELECT a.wk AS wk_prev, b.wk AS wk_next, COUNT(*) AS n_common
      FROM wu a JOIN wu b
        ON b.user_id = a.user_id AND b.wk = a.wk + INTERVAL 7 DAY
      GROUP BY 1, 2
    )
    SELECT CAST(p.wk_next AS TIMESTAMP) AS week,
           CAST(sp.n AS BIGINT) AS users_prev,
           CAST(sn.n AS BIGINT) AS users_this,
           CAST(p.n_common AS BIGINT) AS users_both,
           round(CAST(p.n_common AS DOUBLE)
                 / (sp.n + sn.n - p.n_common), 6) AS jaccard,
           round(CAST(p.n_common AS DOUBLE) / sp.n, 6) AS retention
    FROM pairs p
    JOIN sizes sp ON sp.wk = p.wk_prev
    JOIN sizes sn ON sn.wk = p.wk_next
    """,
)
def q_weekly_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week audience overlap: Jaccard similarity and retention
    of consecutive weeks' active-user sets — the churn pulse at set level
    (complements per-cohort retention with a symmetric overlap measure).

    Scale: the deduped (week, user) grid joins itself keyed on (user,
    week+7d) — co-partitioned on user_id, one shuffle; week sizes
    broadcast onto the ≤|weeks| pair rows. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    wu = ev.select(
        F.date_trunc("week", "ts").alias("wk"), "user_id"
    ).distinct()
    # checkpointed once (r6): the week sizes and both self-join sides
    # each re-derived the distinct user-week rollup from the fact (4
    # events scans in the plan); the user×week grid materializes once
    wu = wu.localCheckpoint(eager=True)
    sizes = wu.groupBy("wk").agg(F.count(F.lit(1)).alias("n"))
    a = wu.alias("a")
    b = wu.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.wk") == F.col("a.wk") + F.expr("INTERVAL 7 DAY")),
        )
        .groupBy(
            F.col("a.wk").alias("wk_prev"), F.col("b.wk").alias("wk_next")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sp = sizes.select(F.col("wk").alias("wk_prev"), F.col("n").alias("users_prev"))
    sn = sizes.select(F.col("wk").alias("wk_next"), F.col("n").alias("users_this"))
    j = pairs.join(F.broadcast(sp), "wk_prev").join(F.broadcast(sn), "wk_next")
    common = F.col("n_common").cast("double")
    return j.select(
        F.col("wk_next").alias("week"),
        F.col("users_prev").cast("bigint").alias("users_prev"),
        F.col("users_this").cast("bigint").alias("users_this"),
        F.col("n_common").cast("bigint").alias("users_both"),
        F.round(
            common / (F.col("users_prev") + F.col("users_this") - F.col("n_common")),
            6,
        ).alias("jaccard"),
        F.round(common / F.col("users_prev"), 6).alias("retention"),
    )


@register(
    "q_brand_cannibalization",
    oracle="""
    WITH top5 AS (
      SELECT p_brand,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1 ORDER BY rev DESC, p_brand LIMIT 5
    ),
    bd AS (
      SELECT p.p_brand, date_trunc('day', l.l_shipdate) AS day,
             CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      WHERE p.p_brand IN (SELECT p_brand FROM top5)
      GROUP BY 1, 2
    ),
    m AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
             COUNT(*) AS n,
             SUM(CAST(a.rev AS DECIMAL(38,6))) AS sx,
             SUM(CAST(b.rev AS DECIMAL(38,6))) AS sy,
             SUM(CAST(a.rev * b.rev AS DECIMAL(38,6))) AS sxy,
             SUM(CAST(a.rev * a.rev AS DECIMAL(38,6))) AS sx2,
             SUM(CAST(b.rev * b.rev AS DECIMAL(38,6))) AS sy2
      FROM bd a JOIN bd b ON a.day = b.day AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT brand_a, brand_b, CAST(n AS BIGINT) AS n_days,
           round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(sy2 AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS daily_rev_correlation
    FROM m
    """,
)
def q_brand_cannibalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cannibalization screen: pairwise correlation of daily revenue
    between the top-5 brands — persistently negative pairs are candidates
    for substitution effects; positive pairs co-move with overall demand.

    The brand cut (top-5 by exact revenue, name tiebreak) bounds the pair
    matrix at C(5,2)=10; per-pair moments use DECIMAL(38,6) (day-revenue
    products overflow (18,6)).

    Scale: one fact shuffle to the brand×day grid; the pair join is
    day-keyed over ≤5 rows/day. Correlations reduce to 10 moment rows.
    §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    joined = li.join(part, li.l_partkey == part.p_partkey)
    # r6: top5 and the day series each re-scanned the fact, and the pair
    # self-join doubled the day series — 4 lineitem scans. Both now
    # derive from ONE checkpointed |brands|×|days| DECIMAL grid: the
    # brand totals are sums of the per-day decimal sums (exact by
    # decimal-addition associativity), and the top-5 day series is a
    # filter of the grid. 4 fact scans → 1.
    grid = (
        joined.groupBy("p_brand", F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(F.sum(dec("l_extendedprice")).alias("revd"))
        .localCheckpoint(eager=True)
    )
    top5 = (
        grid.groupBy("p_brand")
        .agg(F.sum("revd").alias("rev"))
        .orderBy(F.col("rev").desc(), "p_brand")
        .limit(5)
        .select("p_brand")
    )
    bd = grid.join(F.broadcast(top5), "p_brand").select(
        "p_brand", "day", F.col("revd").cast("double").alias("rev")
    )
    a = bd.alias("a")
    b = bd.alias("b")
    d38 = "decimal(38,6)"
    m = (
        a.join(
            b,
            (F.col("a.day") == F.col("b.day"))
            & (F.col("a.p_brand") < F.col("b.p_brand")),
        )
        .groupBy(
            F.col("a.p_brand").alias("brand_a"), F.col("b.p_brand").alias("brand_b")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("a.rev").cast(d38)).alias("sx"),
            F.sum(F.col("b.rev").cast(d38)).alias("sy"),
            F.sum((F.col("a.rev") * F.col("b.rev")).cast(d38)).alias("sxy"),
            F.sum((F.col("a.rev") * F.col("a.rev")).cast(d38)).alias("sx2"),
            F.sum((F.col("b.rev") * F.col("b.rev")).cast(d38)).alias("sy2"),
        )
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        "brand_a",
        "brand_b",
        F.col("n").cast("bigint").alias("n_days"),
        F.round(
            (nd * F.col("sxy").cast("double") - sxd * syd)
            / F.sqrt(
                (nd * F.col("sx2").cast("double") - sxd * sxd)
                * (nd * F.col("sy2").cast("double") - syd * syd)
            ),
            6,
        ).alias("daily_rev_correlation"),
    )


@register(
    "q_missing_calendar_days",
    oracle="""
    WITH bounds AS (
      SELECT MIN(date_trunc('day', o_orderdate)) AS lo,
             MAX(date_trunc('day', o_orderdate)) AS hi
      FROM orders
    ),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day
      FROM bounds
    ),
    present AS (
      SELECT DISTINCT date_trunc('day', o_orderdate) AS day FROM orders
    ),
    missing AS (
      SELECT s.day FROM spine s
      LEFT JOIN present p ON p.day = s.day
      WHERE p.day IS NULL
    )
    SELECT CAST((SELECT COUNT(*) FROM spine) AS BIGINT) AS n_spine_days,
           CAST((SELECT COUNT(*) FROM present) AS BIGINT) AS n_present_days,
           CAST(COUNT(*) AS BIGINT) AS n_missing,
           CAST(MIN(day) AS TIMESTAMP) AS first_missing,
           CAST(MAX(day) AS TIMESTAMP) AS last_missing
    FROM missing
    """,
)
def q_missing_calendar_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar completeness audit: generate the full day spine between
    the first and last order date and anti-join observed days — the gap
    detector that catches silently dropped ingest partitions (a day with
    zero orders in a multi-year B2B dataset is an alarm, not a fact).

    Scale: the spine is sequence()-generated from two scalars (never
    materialized from data); present-days is one distinct rollup; the
    anti-join runs on two calendar-bounded grids. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the bounds, the anti-join and the two
    # count actions each re-derived the dedup (2 orders scans in the
    # plan); the calendar-bounded day grid materializes once
    present = orders.select(
        F.date_trunc("day", "o_orderdate").alias("day")
    ).distinct().localCheckpoint(eager=True)
    bounds = present.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("lo"), F.col("hi"), F.expr("INTERVAL 1 DAY"))
        ).alias("day")
    )
    missing = spine.join(present, "day", "left_anti")
    n_spine = spine.count()
    n_present = present.count()
    agg = missing.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_missing"),
        F.min("day").alias("first_missing"),
        F.max("day").alias("last_missing"),
    )
    return agg.select(
        F.lit(n_spine).cast("bigint").alias("n_spine_days"),
        F.lit(n_present).cast("bigint").alias("n_present_days"),
        "n_missing",
        "first_missing",
        "last_missing",
    )


@register(
    "q_peak_detection",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    ),
    w AS (
      SELECT day, rev,
             lag(rev) OVER (ORDER BY day) AS prev,
             lead(rev) OVER (ORDER BY day) AS next,
             CAST(SUM(CAST(rev AS DECIMAL(38,6)))
                  OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                  AS DOUBLE)
               / COUNT(*) OVER (ORDER BY day
                                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
               AS ma7
      FROM d
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           round(CAST(rev AS DOUBLE), 4) AS rev,
           round(ma7, 4) AS ma7,
           round(CAST(rev AS DOUBLE) / ma7, 6) AS prominence
    FROM w
    WHERE prev IS NOT NULL AND next IS NOT NULL
      AND rev > prev AND rev > next
      AND CAST(rev AS DOUBLE) / ma7 > 1.2
    ORDER BY CAST(rev AS DOUBLE) / ma7 DESC, day
    LIMIT 25
    """,
)
def q_peak_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peak detection on daily revenue: days strictly above both
    neighbors AND ≥20% above their own trailing 7-day mean (the prominence
    filter that separates real spikes from sawtooth noise). Top-25 by
    prominence.

    Neighbor comparisons are exact decimal; the prominence ratio divides
    an exact decimal by the frame mean once per row.

    Scale: lag/lead and the trailing frame share the single |days|-grid
    window sort (calendar-bounded); the top-25 is TakeOrderedAndProject.
    §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    )
    wd = Window.orderBy("day")
    wf = wd.rowsBetween(-6, 0)
    w = d.select(
        "day",
        "rev",
        F.lag("rev").over(wd).alias("prev"),
        F.lead("rev").over(wd).alias("next"),
        (
            F.sum(F.col("rev").cast("decimal(38,6)")).over(wf).cast("double")
            / F.count(F.lit(1)).over(wf)
        ).alias("ma7"),
    )
    revd = F.col("rev").cast("double")
    prom = revd / F.col("ma7")
    return (
        w.filter(
            F.col("prev").isNotNull()
            & F.col("next").isNotNull()
            & (F.col("rev") > F.col("prev"))
            & (F.col("rev") > F.col("next"))
            & (prom > 1.2)
        )
        .select(
            "day",
            F.round(revd, 4).alias("rev"),
            F.round("ma7", 4).alias("ma7"),
            F.round(prom, 6).alias("prominence"),
            prom.alias("_p"),
        )
        .orderBy(F.col("_p").desc(), "day")
        .limit(25)
        .drop("_p")
    )
