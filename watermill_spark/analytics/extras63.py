"""Analytics batch 71: streaming-semantics audits — the exactly-once
idempotent-merge ledger (duplicate delivery simulated, then collapsed by
UUID exactly like the reference's transactional-SQL recipe), an
out-of-order / lateness profile that sizes watermarks from data, and a
schema-evolution union (v1 rows without the new column merged with v2).

These are the §2.A delivery-semantics contracts as *auditable queries*:
at-least-once redelivery (watermill docs/content/docs/pub-sub.md) makes
duplicates normal; the merge-by-uuid sink and the watermark bound are the
two mechanisms that restore correctness, and both are measured here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_exactly_once_dedup_audit",
    oracle="""
    WITH delivered AS (
      SELECT event_id, ts, user_id, event_type, value, 1 AS attempt
      FROM events
      UNION ALL
      SELECT event_id, ts, user_id, event_type, value, 2 AS attempt
      FROM events WHERE event_id % 3 = 0
    ),
    merged AS (
      SELECT event_id, ts, value FROM (
        SELECT event_id, ts, value,
               ROW_NUMBER() OVER (PARTITION BY event_id
                                  ORDER BY attempt) AS rn
        FROM delivered) x
      WHERE rn = 1
    )
    SELECT CAST((SELECT COUNT(*) FROM delivered) AS BIGINT) AS n_delivered,
           CAST(COUNT(*) AS BIGINT) AS n_after_merge,
           CAST((SELECT COUNT(*) FROM delivered) - COUNT(*) AS BIGINT)
             AS duplicates_dropped,
           CAST((SELECT COUNT(*) FROM events) AS BIGINT) AS n_source,
           CASE WHEN COUNT(*) = (SELECT COUNT(*) FROM events)
                THEN 1 ELSE 0 END AS exactly_once_holds,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 4)
             AS value_total_after_merge
    FROM merged
    """,
)
def q_exactly_once_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once-via-idempotent-merge audit: simulate at-least-once
    redelivery (every third event delivered twice — the checkpoint-replay
    window), collapse by UUID keeping the first attempt, and verify the
    merged ledger equals the source exactly — the queryable twin of the
    reference's exactly-once recipe (transactional dedup by message UUID,
    `_examples/real-world-examples/exactly-once-delivery-counter`) and of
    `dropDuplicates("uuid")` in the streaming path.

    All counts exact; the value total goes through DECIMAL so the audit
    also proves no double-counting in the money column.

    Scale: the merge is one hash-partition by event_id with rn=1 kept per
    key (WindowGroupLimit); at 100 TB this is exactly the MERGE INTO /
    dropDuplicatesWithinWatermark shape with state bounded by the
    redelivery window. §2.A delivery semantics.
    """
    ev = load(spark, sf_dir, "events")
    # r6: the union-of-two-branches build plus the three counting passes
    # re-scanned events 5 times. The same delivery multiset comes from ONE
    # scan — every event emits attempt 1, the id%3==0 redeliveries emit
    # attempt 2 via explode (NULL ids fall to the single-attempt branch,
    # exactly like the old filter) — and the stream materializes once;
    # n_source reads the attempt==1 slice instead of re-scanning the
    # fact: 5 fact scans → 1.
    delivered = ev.select(
        "event_id",
        "ts",
        "value",
        F.explode(
            F.when(
                F.col("event_id") % 3 == 0, F.array(F.lit(1), F.lit(2))
            ).otherwise(F.array(F.lit(1)))
        ).alias("attempt"),
    )
    delivered = delivered.localCheckpoint(eager=True)
    merged = (
        delivered.select(
            "event_id",
            "value",
            F.row_number()
            .over(Window.partitionBy("event_id").orderBy("attempt"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    nd = delivered.agg(bcount("n_delivered"))
    ns = delivered.filter(F.col("attempt") == 1).agg(bcount("n_source"))
    m = merged.agg(
        bcount("n_after_merge"),
        F.round(F.sum(dec("value")).cast("double"), 4).alias(
            "value_total_after_merge"
        ),
    )
    return m.crossJoin(F.broadcast(nd)).crossJoin(F.broadcast(ns)).select(
        "n_delivered",
        "n_after_merge",
        (F.col("n_delivered") - F.col("n_after_merge"))
        .cast("bigint")
        .alias("duplicates_dropped"),
        "n_source",
        F.when(F.col("n_after_merge") == F.col("n_source"), 1)
        .otherwise(0)
        .alias("exactly_once_holds"),
        "value_total_after_merge",
    )


@register(
    "q_out_of_order_lateness",
    oracle="""
    WITH arrival AS (
      SELECT ts,
             MAX(ts) OVER (ORDER BY event_id
                           ROWS UNBOUNDED PRECEDING) AS frontier
      FROM events
    ),
    lateness AS (
      SELECT CAST(date_diff('second', ts, frontier) AS BIGINT) AS late_s
      FROM arrival
    ),
    ranked AS (
      SELECT late_s,
             ROW_NUMBER() OVER (ORDER BY late_s) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM lateness
    )
    SELECT MAX(n) AS n_events,
           CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_late,
           round(CAST(SUM(CASE WHEN late_s > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / MAX(n), 6) AS late_share,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                    THEN late_s END) AS BIGINT) AS p50_lateness_s,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                    THEN late_s END) AS BIGINT) AS p95_lateness_s,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT)
                    THEN late_s END) AS BIGINT) AS p99_lateness_s,
           CAST(MAX(late_s) AS BIGINT) AS max_lateness_s
    FROM ranked
    """,
)
def q_out_of_order_lateness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order / lateness profile of the event stream: treating
    event_id as arrival order, each event's lateness is the gap between
    the event-time frontier (running max ts) and its own timestamp;
    reports the late share and exact p50/p95/p99/max lateness — exactly
    the measurement that sizes `withWatermark()` (a watermark at
    p99-lateness drops ≤1% of rows; q_events_late_arrivals then counts
    what a given bound would drop).

    Determinism: lateness is integer seconds off a running max of exact
    timestamps; percentiles are exact rank statistics (ceil(q·n)-th order
    values), never interpolated.

    Scale (r6 rewrite): both global windows are gone. The frontier
    (running max over arrival order) is two-level: range-repartition on
    event_id (parallel), per-partition running max, and each partition
    folds in the max of all preceding partitions (a ≤nparts-row prefix
    grid) — running max decomposes over any prefix split, so every
    frontier value is identical. The exact rank percentiles come from
    the (lateness, count) value grid: the rank-r order statistic is the
    unique value whose cumulative count first reaches r — the pass-11
    count-weighted-grid pattern; grid size is bounded by the lateness
    value domain, not the stream. §2.A delivery semantics / streaming
    surface, guide §2.5.
    """
    ev = load(spark, sf_dir, "events")
    nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    base = (
        ev.select("event_id", "ts")
        .repartitionByRange(nparts, "event_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    poff = (
        base.groupBy("pid")
        .agg(F.max("ts").alias("pm"))
        .select(
            "pid",
            F.max("pm")
            .over(
                Window.orderBy("pid").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            )
            .alias("prev_max"),
        )
    )
    wrun = Window.partitionBy("pid").orderBy("event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    lateness = base.join(F.broadcast(poff), "pid").select(
        (
            F.unix_timestamp(
                F.greatest(F.max("ts").over(wrun), F.col("prev_max"))
            )
            - F.unix_timestamp("ts")
        )
        .cast("bigint")
        .alias("late_s")
    )
    grid = (
        lateness.groupBy("late_s")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wv = Window.orderBy("late_s").rowsBetween(Window.unboundedPreceding, 0)
    ranked = grid.select(
        "late_s",
        "c",
        F.sum("c").over(wv).alias("cum"),
        (F.sum("c").over(wv) - F.col("c")).alias("prev"),
        F.sum("c").over(Window.partitionBy()).cast("bigint").alias("n"),
    )

    def pct(q: float, alias: str):
        r = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return (
            F.max(
                F.when(
                    (F.col("prev") < r) & (r <= F.col("cum")), F.col("late_s")
                )
            )
            .cast("bigint")
            .alias(alias)
        )

    return ranked.agg(
        F.max("n").alias("n_events"),
        F.sum(F.when(F.col("late_s") > 0, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_late"),
        F.round(
            F.sum(F.when(F.col("late_s") > 0, F.col("c")).otherwise(0)).cast(
                "double"
            )
            / F.max("n"),
            6,
        ).alias("late_share"),
        pct(0.5, "p50_lateness_s"),
        pct(0.95, "p95_lateness_s"),
        pct(0.99, "p99_lateness_s"),
        F.max("late_s").cast("bigint").alias("max_lateness_s"),
    )


@register(
    "q_schema_evolution_union",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderpriority,
             'v1' AS schema_version
      FROM orders WHERE year(o_orderdate) < 1995
    ),
    v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority,
             'v2' AS schema_version
      FROM orders WHERE year(o_orderdate) >= 1995
    ),
    unioned AS (
      SELECT * FROM v1 UNION ALL SELECT * FROM v2
    )
    SELECT schema_version,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_orderpriority) AS BIGINT) AS n_with_priority,
           round(CAST(COUNT(o_orderpriority) AS DOUBLE) / COUNT(*), 6)
             AS priority_coverage,
           round(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
             AS revenue
    FROM unioned GROUP BY schema_version
    """,
)
def q_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: a v1 extract (before the `priority` column
    existed) merged with the v2 extract via unionByName with missing
    columns nulled — the ingest-time reality of any long-lived pipeline
    (old parquet partitions lack new columns), with the per-version
    null-coverage audit the consumer needs before trusting the merged
    column. Mirrors CQRS payload versioning (§2.A marshalers: old events
    simply lack new fields).

    All counts exact; revenue through DECIMAL.

    Scale: both branches are partition-pruned scans of the same table;
    the union is free (no shuffle); the audit is one map-side-combined
    rollup. §2.B sources/evolution surface.
    """
    o = load(spark, sf_dir, "orders")
    v1 = o.filter(F.year("o_orderdate") < 1995).select(
        "o_orderkey", "o_totalprice", F.lit("v1").alias("schema_version")
    )
    v2 = o.filter(F.year("o_orderdate") >= 1995).select(
        "o_orderkey",
        "o_totalprice",
        "o_orderpriority",
        F.lit("v2").alias("schema_version"),
    )
    unioned = v1.unionByName(v2, allowMissingColumns=True)
    return unioned.groupBy("schema_version").agg(
        bcount("n_rows"),
        F.count("o_orderpriority").cast("bigint").alias("n_with_priority"),
        F.round(
            F.count("o_orderpriority").cast("double") / F.count(F.lit(1)), 6
        ).alias("priority_coverage"),
        F.round(F.sum(dec("o_totalprice")).cast("double"), 2).alias("revenue"),
    )
