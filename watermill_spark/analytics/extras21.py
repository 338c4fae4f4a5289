"""Analytics batch 29: robust rolling statistics & behavioral flows —
7-day rolling median (explode-to-anchor, no range join), Grubbs max-z
outlier test, day-over-day top movers, daily event-mix entropy, 2-D joint
histogram, and a time-bound (2-hour step window) conversion funnel.

The rolling median shows the scale-first alternative to a windowed
percentile: instead of a range self-join (quadratic blowup risk, BNLJ),
each day's revenue row is exploded to the ≤7 trailing-window anchors it
belongs to, and the median is rank math per anchor — shuffle on a uniform
key, no join operator at all.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_rolling_median_7d",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    ),
    x AS (
      SELECT d.day + t.i * INTERVAL 1 DAY AS anchor, d.day, d.rev
      FROM d CROSS JOIN range(0, 7) AS t(i)
    ),
    r AS (
      SELECT anchor, day, rev,
             row_number() OVER (PARTITION BY anchor ORDER BY rev, day) AS rn,
             COUNT(*) OVER (PARTITION BY anchor) AS cnt
      FROM x
    ),
    m AS (
      SELECT anchor, MAX(CASE WHEN rn = (cnt + 1) // 2 THEN rev END) AS med,
             MAX(cnt) AS cnt
      FROM r GROUP BY 1
    )
    SELECT CAST(d.day AS TIMESTAMP) AS day,
           CAST(d.rev AS DOUBLE) AS rev,
           CAST(m.cnt AS BIGINT) AS n_window,
           CAST(m.med AS DOUBLE) AS med7
    FROM d JOIN m ON m.anchor = d.day
    """,
)
def q_rolling_median_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling *median* of daily order revenue — the robust
    cousin of the Bollinger moving average.

    Spark has no median window; the scale-safe shape is explode-to-anchor:
    every day row fans out to the ≤7 window anchors that include it
    (`sequence(day, day+6d)`), the median is the rank-⌊(cnt+1)/2⌋ element
    per anchor under a total order (rev, day), and anchors are finally
    inner-joined back to real days (calendar gaps produce no output). All
    values stay exact DECIMAL until the final cast.

    Scale: no range join / BNLJ anywhere — one shuffle on the anchor key
    (uniform, |days|·7 rows of the calendar-bounded daily grid) plus a
    grid-sized hash join. The window width multiplies rows, not
    cardinality, so a 90-day window on years of data is still dimension
    work. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the 7-day fan-out and the final join both
    # re-derived the rollup (2 orders scans in the plan); the
    # calendar-bounded day grid materializes once
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    ).localCheckpoint(eager=True)
    x = d.select(
        "day",
        "rev",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.expr("INTERVAL 6 DAY"))
        ).alias("anchor"),
    )
    wr = Window.partitionBy("anchor").orderBy("rev", "day")
    wc = Window.partitionBy("anchor")
    r = x.select(
        "anchor",
        "rev",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    m = r.groupBy("anchor").agg(
        F.max(
            F.when(F.col("rn") == ((F.col("cnt") + 1) / 2).cast("bigint"), F.col("rev"))
        ).alias("med"),
        F.max("cnt").alias("cnt"),
    )
    return d.join(m, d.day == m.anchor).select(
        "day",
        F.col("rev").cast("double").alias("rev"),
        F.col("cnt").cast("bigint").alias("n_window"),
        F.col("med").cast("double").alias("med7"),
    )


@register(
    "q_grubbs_outlier",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) AS sx2
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT e.event_type, e.event_id, e.value,
             abs(e.value - s.sx / s.n)
               / sqrt((s.sx2 - s.sx * s.sx / s.n) / (s.n - 1)) AS g,
             s.n
      FROM events e JOIN s ON e.event_type = s.event_type
    ),
    r AS (
      SELECT event_type, event_id, value, g, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY g DESC, event_id) AS rn
      FROM z
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           round(g, 6) AS grubbs_g,
           CAST(event_id AS BIGINT) AS suspect_event_id,
           round(value, 6) AS suspect_value
    FROM r WHERE rn = 1
    """,
)
def q_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' test statistic per event type: G = max|x-x̄|/s, with the
    suspect row (the most extreme value) identified deterministically
    (event_id tiebreak on equal G).

    Same broadcast-back-moments shape as the z-score scaler; the argmax is
    a rank-1 window on the per-type z stream.

    Scale: 5-row stats broadcast onto the fact scan; the rank window
    shuffles once on event_type — at 100 TB pre-reduce with a per-partition
    top-1 (max_by) before the global rank if |types| is small. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy(F.col("event_type").alias("t")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,6)"))
        .cast("double")
        .alias("sx2"),
    )
    j = ev.join(F.broadcast(s), ev.event_type == s.t)
    mu = F.col("sx") / F.col("n")
    sd = F.sqrt(
        (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    )
    z = j.select(
        "event_type",
        "event_id",
        "value",
        (F.abs(F.col("value") - mu) / sd).alias("g"),
        "n",
    )
    r = z.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(F.col("g").desc(), "event_id")
        ),
    )
    return r.filter(F.col("rn") == 1).select(
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("g", 6).alias("grubbs_g"),
        F.col("event_id").cast("bigint").alias("suspect_event_id"),
        F.round("value", 6).alias("suspect_value"),
    )


@register(
    "q_top_movers_dod",
    oracle="""
    WITH bd AS (
      SELECT p.p_brand, date_trunc('day', l.l_shipdate) AS day,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l.l_discount AS DECIMAL(8,6)))) AS rev
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1, 2
    ),
    c AS (
      SELECT p_brand, day, rev,
             rev - lag(rev) OVER (PARTITION BY p_brand ORDER BY day) AS chg
      FROM bd
    )
    SELECT p_brand, CAST(day AS TIMESTAMP) AS day,
           CAST(rev AS DOUBLE) AS rev,
           CAST(chg AS DOUBLE) AS change
    FROM c
    WHERE chg IS NOT NULL
    ORDER BY abs(chg) DESC, p_brand, day
    LIMIT 15
    """,
)
def q_top_movers_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top movers: the 15 largest day-over-day revenue swings on the
    brand×day grid (consecutive *observed* days per brand — lag, not
    calendar diff).

    The change is a decimal subtraction (exact); |change| ordering plus
    (brand, day) tiebreaks make the top-15 set engine-identical.

    Scale: one fact shuffle to the brand×day grid (part dim broadcasts);
    lag partitions by brand — no global window; the top-15 compiles to
    TakeOrderedAndProject. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    bd = (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy("p_brand", F.date_trunc("day", "l_shipdate").alias("day"))
        .agg(
            F.sum(
                dec("l_extendedprice") * (F.lit(1) - dec("l_discount", "decimal(8,6)"))
            ).alias("rev")
        )
    )
    c = bd.select(
        "p_brand",
        "day",
        "rev",
        (
            F.col("rev")
            - F.lag("rev").over(Window.partitionBy("p_brand").orderBy("day"))
        ).alias("chg"),
    )
    return (
        c.filter(F.col("chg").isNotNull())
        .select(
            "p_brand",
            "day",
            F.col("rev").cast("double").alias("rev"),
            F.col("chg").cast("double").alias("change"),
            F.abs(F.col("chg")).alias("_a"),
        )
        .orderBy(F.col("_a").desc(), "p_brand", "day")
        .limit(15)
        .drop("_a")
    )


@register(
    "q_entropy_daily_mix",
    oracle="""
    WITH c AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    t AS (
      SELECT day, CAST(SUM(n) AS BIGINT) AS total FROM c GROUP BY 1
    ),
    r AS (
      SELECT c.day, c.event_type, c.n, t.total,
             row_number() OVER (PARTITION BY c.day
                                ORDER BY c.n DESC, c.event_type) AS rn
      FROM c JOIN t USING (day)
    )
    SELECT CAST(day AS TIMESTAMP) AS day, MAX(total) AS n_events,
           round(-SUM((CAST(n AS DOUBLE) / CAST(total AS DOUBLE))
                      * log2(CAST(n AS DOUBLE) / CAST(total AS DOUBLE))), 9)
             AS entropy_bits,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS dominant_type
    FROM r GROUP BY day
    """,
)
def q_entropy_daily_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily Shannon entropy of the event-type mix plus the dominant type
    per day — the drift monitor for a training-data firehose (a collapsing
    mix shows up as an entropy drop before any count threshold fires).

    ≤5 -p·log2(p) terms per day, summed on the day grid and rounded 9dp
    (the q_user_entropy idiom); dominant type is a rank-1 pick with a name
    tiebreak.

    Scale: two shuffles on day-keyed grids (type counts, then day rollup);
    the rank window partitions by day. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the day totals and the entropy join both
    # re-derived the counts (2 events scans in the plan); the
    # day×|types| grid materializes once
    c = ev.groupBy(
        F.date_trunc("day", "ts").alias("day"), "event_type"
    ).agg(bcount("n")).localCheckpoint(eager=True)
    t = c.groupBy("day").agg(F.sum("n").cast("bigint").alias("total"))
    r = c.join(t, "day").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("day").orderBy(F.col("n").desc(), "event_type")
        ),
    )
    p = F.col("n").cast("double") / F.col("total").cast("double")
    return r.groupBy("day").agg(
        F.max("total").alias("n_events"),
        F.round(-F.sum(p * F.log2(p)), 9).alias("entropy_bits"),
        F.max(F.when(F.col("rn") == 1, F.col("event_type"))).alias("dominant_type"),
    )


@register(
    "q_histogram_2d",
    oracle="""
    SELECT CAST(least(floor(l_quantity / 10), 4) AS BIGINT) AS qty_bin,
           CAST(least(floor(l_discount / 0.02), 4) AS BIGINT) AS disc_bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             AS total_price
    FROM lineitem
    GROUP BY 1, 2
    """,
)
def q_histogram_2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D joint histogram: quantity (width-10 bins, top-clamped) ×
    discount (width-0.02 bins) with count and exact price mass per cell —
    the joint-distribution profile behind copula/feature-interaction
    checks.

    Bin indices are floor() on raw doubles — identical IEEE ops per row,
    no accumulation — and the 5×5 grid aggregates with partial combine.

    Scale: one shuffle of ≤25 cells; this is the histogram shape that
    replaces collect-and-bin driver code at any size. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.least(F.floor(F.col("l_quantity") / 10), F.lit(4))
        .cast("bigint")
        .alias("qty_bin"),
        F.least(F.floor(F.col("l_discount") / 0.02), F.lit(4))
        .cast("bigint")
        .alias("disc_bin"),
    ).agg(
        bcount("n"),
        F.sum(dec("l_extendedprice")).cast("double").alias("total_price"),
    )


@register(
    "q_funnel_timebound",
    oracle="""
    WITH v AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view
      FROM events GROUP BY 1
    ),
    c AS (
      SELECT e.user_id, v.t_view, MIN(e.ts) AS t_click
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click'
        AND e.ts >= v.t_view
        AND e.ts <= v.t_view + INTERVAL 2 HOUR
      GROUP BY 1, 2
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t_purchase
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase'
        AND e.ts >= c.t_click
        AND e.ts <= c.t_click + INTERVAL 2 HOUR
      GROUP BY 1
    )
    SELECT CAST((SELECT COUNT(*) FROM v WHERE t_view IS NOT NULL) AS BIGINT)
             AS n_view,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_click_2h,
           CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_purchase_2h,
           round(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                 / (SELECT COUNT(*) FROM v WHERE t_view IS NOT NULL), 6)
             AS view_to_click,
           round(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                 / NULLIF((SELECT COUNT(*) FROM c), 0), 6) AS click_to_purchase
    """,
)
def q_funnel_timebound(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bound conversion funnel: first view → first click within 2
    hours of that view → first purchase within 2 hours of that click, per
    user; reports stage counts and step conversion rates. Unlike
    q_events_funnel (any-order lifetime funnel), steps here must occur in
    sequence within a window — the attribution-grade variant.

    Stage timestamps are MINs (order-independent); counts are integers;
    the rates are two scalar divisions.

    Scale: three chained per-user reductions, all clustering on user_id —
    with AQE the stage joins stay co-partitioned on the same key, so the
    funnel adds no cross-key shuffle beyond the first. The 2-hour bound
    also caps state for the Structured Streaming twin
    (applyInPandasWithState with a 2 h timeout). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    v = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view")
    )
    # checkpointed once (r6): each chained stage and the stage counts
    # re-derived the earlier per-user reductions (6 events scans in the
    # plan); the per-user stage tables materialize once, leaving one
    # full + two pushdown-pruned events scans — the minimal shape
    v = v.localCheckpoint(eager=True)
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    c = (
        clicks.join(v, "user_id")
        .filter(
            (F.col("ts") >= F.col("t_view"))
            & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    c = c.localCheckpoint(eager=True)
    purchases = ev.filter(F.col("event_type") == "purchase").select("user_id", "ts")
    p = (
        purchases.join(c, "user_id")
        .filter(
            (F.col("ts") >= F.col("t_click"))
            & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 2 HOUR"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    nv = v.filter(F.col("t_view").isNotNull()).agg(bcount("n_view"))
    nc = c.agg(bcount("n_click_2h"))
    np_ = p.agg(bcount("n_purchase_2h"))
    one = nv.join(nc).join(np_)
    return one.select(
        "n_view",
        "n_click_2h",
        "n_purchase_2h",
        F.round(
            F.col("n_click_2h").cast("double") / F.col("n_view"), 6
        ).alias("view_to_click"),
        F.round(
            F.col("n_purchase_2h").cast("double")
            / F.nullif(F.col("n_click_2h"), F.lit(0)),
            6,
        ).alias("click_to_purchase"),
    )
