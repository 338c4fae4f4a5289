"""Analytics batch 16: operational-reporting shapes — activity heatmap,
inter-order gaps, order-size distribution, IQR outlier detection.

Determinism per :mod:`watermill_spark.analytics.det`. Day-of-week uses the
ISO numbering on both engines (Spark ``weekday()+1`` == DuckDB ``isodow``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dsum
from .registry import load, register, spread


@register(
    "q_dow_hour_heatmap",
    oracle="""
    SELECT CAST(isodow(ts) AS BIGINT) AS dow,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events GROUP BY 1, 2
    """,
)
def q_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity heatmap: events by ISO day-of-week × hour (the ops-dashboard
    matrix). ≤168 output rows regardless of input size — partial aggregation
    collapses everything map-side."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        (F.weekday("ts") + 1).cast("bigint").alias("dow"),
        F.hour("ts").cast("bigint").alias("hour"),
    ).agg(bcount("n"), F.countDistinct("user_id").cast("bigint").alias("n_users"))


@register(
    "q_interorder_gap",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS gap_days
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    )
    SELECT o_custkey,
           CAST(COUNT(gap_days) AS BIGINT) AS n_gaps,
           CAST(SUM(gap_days) AS DOUBLE) / CAST(COUNT(gap_days) AS DOUBLE)
             AS avg_gap_days,
           CAST(MIN(gap_days) AS BIGINT) AS min_gap,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap
    FROM gaps WHERE gap_days IS NOT NULL GROUP BY 1
    """,
)
def q_interorder_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase cadence: per-customer stats over day-gaps between consecutive
    orders (lag + datediff; integer day arithmetic, exact mean as Σ/n)."""
    orders = load(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        bcount("n_gaps", "gap_days"),
        (F.sum("gap_days").cast("double") / F.count("gap_days").cast("double")).alias(
            "avg_gap_days"
        ),
        F.min("gap_days").cast("bigint").alias("min_gap"),
        F.max("gap_days").cast("bigint").alias("max_gap"),
    )


@register(
    "q_order_size_histogram",
    oracle="""
    WITH per_order AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_lines FROM lineitem GROUP BY 1
    )
    SELECT n_lines,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) AS DOUBLE)
             / CAST((SELECT COUNT(*) FROM per_order) AS DOUBLE) AS share
    FROM per_order GROUP BY 1
    """,
)
def q_order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-size distribution: histogram of lines-per-order with shares —
    two stacked aggregations, the second over |distinct sizes| rows only."""
    li = load(spark, sf_dir, "lineitem")
    # checkpointed once (r6): the total and the histogram both re-derived
    # the rollup (2 lineitem scans in the plan); the order-domain grid
    # materializes once (posting-list class)
    per_order = li.groupBy("l_orderkey").agg(bcount("n_lines")).localCheckpoint(
        eager=True
    )
    total = per_order.agg(F.count(F.lit(1)).cast("double").alias("t"))
    return (
        per_order.groupBy("n_lines")
        .agg(bcount("n_orders"))
        .join(F.broadcast(total))
        .select(
            "n_lines",
            "n_orders",
            (F.col("n_orders").cast("double") / F.col("t")).alias("share"),
        )
    )


@register(
    "q_price_outliers_iqr",
    oracle="""
    WITH fences AS (
      SELECT p_brand,
             quantile_disc(p_retailprice, 0.25) AS q1,
             quantile_disc(p_retailprice, 0.75) AS q3
      FROM part GROUP BY 1
    )
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           f.q1, f.q3,
           CAST(COUNT(*) FILTER (
             WHERE p.p_retailprice < f.q1 - 1.5 * (f.q3 - f.q1)
                OR p.p_retailprice > f.q3 + 1.5 * (f.q3 - f.q1)) AS BIGINT)
             AS n_outliers
    FROM part p JOIN fences f USING (p_brand)
    GROUP BY p.p_brand, f.q1, f.q3
    """,
)
def q_price_outliers_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier detection per brand: IQR from discrete quantiles,
    fences at 1.5×IQR (single IEEE mul/sub/add on element values — engine-
    identical), outlier counts.

    Scale: fences are |brands| rows broadcast back onto the scan; the data
    pass is a map-side filtered count.
    """
    part = load(spark, sf_dir, "part")
    part.createOrReplaceTempView("part_iqr_v")
    fences = spark.sql("""
        SELECT p_brand,
               percentile_disc(0.25) WITHIN GROUP (ORDER BY p_retailprice) AS q1,
               percentile_disc(0.75) WITHIN GROUP (ORDER BY p_retailprice) AS q3
        FROM part_iqr_v GROUP BY 1
    """)
    iqr = F.col("q3") - F.col("q1")
    is_out = (F.col("p_retailprice") < F.col("q1") - 1.5 * iqr) | (
        F.col("p_retailprice") > F.col("q3") + 1.5 * iqr
    )
    return (
        part.join(F.broadcast(fences), "p_brand")
        .groupBy("p_brand", "q1", "q3")
        .agg(bcount("n_parts"), F.count(F.when(is_out, 1)).cast("bigint").alias("n_outliers"))
        .select("p_brand", "n_parts", "q1", "q3", "n_outliers")
    )


@register(
    "q_dedup_keep_best",
    oracle="""
    WITH scored AS (
      SELECT doc_id, text,
             md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS quality
      FROM documents
    )
    SELECT fp,
           CAST(COUNT(*) AS BIGINT) AS n_dups,
           CAST(struct_extract(MAX({'q': quality, 'd': doc_id}), 'q')
                AS BIGINT) AS best_quality,
           CAST(struct_extract(MAX({'q': quality, 'd': doc_id}), 'd')
                AS BIGINT) AS kept_doc
    FROM scored GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the BEST duplicate (highest lexical diversity),
    not an arbitrary one — the curation-correct survivor policy.

    argmax via MAX over a (quality, doc_id) struct: lexicographic struct
    comparison gives a total order, so ties on quality resolve by doc_id
    identically on every engine — the deterministic form of max_by (whose
    tie behavior is unspecified). One uniform-key shuffle, same as min-id
    dedup.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    scored = docs.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fp"),
        F.size(F.array_distinct(F.split("text", " "))).cast("bigint").alias("quality"),
    )
    best = F.max(F.struct("quality", "doc_id"))
    return (
        scored.groupBy("fp")
        .agg(
            bcount("n_dups"),
            best.getField("quality").cast("bigint").alias("best_quality"),
            best.getField("doc_id").cast("bigint").alias("kept_doc"),
        )
        .filter(F.col("n_dups") > 1)
        .select("fp", "n_dups", "best_quality", "kept_doc")
    )


@register(
    "q_user_power_curve",
    oracle="""
    WITH per_user AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    deciled AS (
      SELECT user_id, n_events,
             CAST(ntile(10) OVER (ORDER BY n_events DESC, user_id) AS BIGINT) AS decile
      FROM per_user
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_events) AS BIGINT) AS events,
           CAST(SUM(n_events) AS DOUBLE)
             / CAST((SELECT SUM(n_events) FROM per_user) AS DOUBLE) AS share
    FROM deciled GROUP BY 1
    """,
)
def q_user_power_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Usage concentration: decile the users by activity, report each
    decile's share of total events (the power-user curve).

    Scale: ntile runs over |users| (post-aggregation) rows; the share is one
    IEEE division of exact integer sums. Tiebreak user_id keeps decile
    boundaries engine-identical.
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the total and the decile rank both
    # re-derived the rollup (2 events scans in the plan); the
    # user-domain grid materializes once
    per_user = ev.groupBy("user_id").agg(bcount("n_events")).localCheckpoint(
        eager=True
    )
    total = per_user.agg(F.sum("n_events").cast("double").alias("t"))
    deciled = per_user.select(
        "n_events",
        F.ntile(10)
        .over(Window.orderBy(F.desc("n_events"), "user_id"))
        .cast("bigint")
        .alias("decile"),
    )
    return (
        deciled.groupBy("decile")
        .agg(bcount("n_users"), F.sum("n_events").cast("bigint").alias("events"))
        .join(F.broadcast(total))
        .select(
            "decile",
            "n_users",
            "events",
            (F.col("events").cast("double") / F.col("t")).alias("share"),
        )
    )


@register(
    "q_join_null_safe",
    oracle="""
    WITH c AS (SELECT nullif(c_nationkey, 3) AS k, c_custkey FROM customer),
         s AS (SELECT nullif(s_nationkey, 3) AS k, s_suppkey FROM supplier)
    SELECT 'null_safe' AS mode, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM c JOIN s ON c.k IS NOT DISTINCT FROM s.k
    UNION ALL
    SELECT 'plain_eq', CAST(COUNT(*) AS BIGINT)
    FROM c JOIN s ON c.k = s.k
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (`<=>` / IS NOT DISTINCT FROM) vs plain `=`:
    nulls match each other under <=>, silently drop under = — the join
    semantics a pipeline must choose consciously when keys are nullable.

    Scale: <=> is still hash-joinable in Spark (null becomes an ordinary
    key value) — same single shuffle as the equi join, no fallback to
    nested-loop.
    """
    c = load(spark, sf_dir, "customer").select(
        F.nullif(F.col("c_nationkey"), F.lit(3)).alias("ck")
    )
    s = load(spark, sf_dir, "supplier").select(
        F.nullif(F.col("s_nationkey"), F.lit(3)).alias("sk")
    )
    ns = (
        c.join(s, F.col("ck").eqNullSafe(F.col("sk")))
        .agg(bcount("n_pairs"))
        .withColumn("mode", F.lit("null_safe"))
    )
    eq = (
        c.join(s, F.col("ck") == F.col("sk"))
        .agg(bcount("n_pairs"))
        .withColumn("mode", F.lit("plain_eq"))
    )
    return ns.unionByName(eq).select("mode", "n_pairs")


@register(
    "q_events_burst_detection",
    oracle="""
    WITH counted AS (
      SELECT user_id, ts, event_id,
             CAST(COUNT(*) OVER (PARTITION BY user_id
                                 ORDER BY epoch(ts)
                                 RANGE BETWEEN 60 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS n_1min
      FROM events
    )
    SELECT user_id,
           CAST(MAX(n_1min) AS BIGINT) AS peak_per_min,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MAX(n_1min) >= 5 AS burst_suspect
    FROM counted GROUP BY 1
    """,
)
def q_events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/burst detection: a user's peak event count in any trailing
    60-second window (RANGE frame on epoch seconds) — flag ≥5/min.

    Scale: one range window per user (bounded state: 60 s of events), then
    a per-user max — no self-join against time buckets, no explode. Integer
    counts only.
    """
    ev = load(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-60, 0)
    )
    counted = ev.select(
        "user_id", F.count(F.lit(1)).over(w).cast("bigint").alias("n_1min")
    )
    return counted.groupBy("user_id").agg(
        F.max("n_1min").cast("bigint").alias("peak_per_min"),
        bcount("n_events"),
        (F.max("n_1min") >= 5).alias("burst_suspect"),
    )


@register(
    "q_order_status_flow",
    oracle="""
    SELECT o.o_orderstatus, l.l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(COUNT(DISTINCT o.o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS value
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus <> 'F' OR l.l_linestatus <> 'F'
    GROUP BY 1, 2
    """,
)
def q_order_status_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order/line status cross-tab (the fulfillment-state flow matrix) with
    open-value accounting; the filter drops the fully-finished bulk FIRST
    (pushed to both scans via join-predicate inference where possible).

    Scale: one orderkey-co-partitioned join; the cross-tab output is
    |statuses|² rows.
    """
    orders = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter((F.col("o_orderstatus") != "F") | (F.col("l_linestatus") != "F"))
        .groupBy("o_orderstatus", "l_linestatus")
        .agg(
            bcount("n_lines"),
            F.countDistinct("o_orderkey").cast("bigint").alias("n_orders"),
            dsum("l_extendedprice", "value"),
        )
    )
