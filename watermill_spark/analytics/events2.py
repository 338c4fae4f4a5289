"""Event analytics, batch 2: funnel, pivot, first/last window values,
gap-to-next analysis."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dsum
from .registry import load, register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q_events_funnel",
    oracle="""
    WITH su AS (
      SELECT user_id, MIN(ts) AS s FROM events
      WHERE event_type = 'signup' GROUP BY user_id
    ), cl AS (
      SELECT e.user_id, MIN(e.ts) AS c
      FROM events e JOIN su ON su.user_id = e.user_id AND e.ts > su.s
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), pu AS (
      SELECT e.user_id, MIN(e.ts) AS p
      FROM events e JOIN cl ON cl.user_id = e.user_id AND e.ts > cl.c
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT CAST((SELECT COUNT(*) FROM su) AS BIGINT) AS n_signup,
           CAST((SELECT COUNT(*) FROM cl) AS BIGINT) AS n_click_after,
           CAST((SELECT COUNT(*) FROM pu) AS BIGINT) AS n_purchase_after
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: signup → first later click → first later purchase.

    Each stage is aggregate-then-join (min timestamp per user shrinks
    before joining the next stage) — at scale every stage is one shuffle on
    user_id, and stages share that partitioning."""
    ev = load(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s"))
    )
    # checkpointed once (r6): each downstream stage and the final counts
    # re-derived the earlier stages (6 events scans in the plan); the
    # per-user stage tables materialize once, leaving one pushdown-pruned
    # events scan per funnel stage — the minimal shape
    su = su.localCheckpoint(eager=True)
    cl = (
        ev.filter(F.col("event_type") == "click")
        .join(su, "user_id")
        .filter(F.col("ts") > F.col("s"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("c"))
    )
    cl = cl.localCheckpoint(eager=True)
    pu = (
        ev.filter(F.col("event_type") == "purchase")
        .join(cl, "user_id")
        .filter(F.col("ts") > F.col("c"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("p"))
    )
    return (
        su.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup"))
        .crossJoin(cl.agg(F.count(F.lit(1)).cast("bigint").alias("n_click_after")))
        .crossJoin(pu.agg(F.count(F.lit(1)).cast("bigint").alias("n_purchase_after")))
    )


@register(
    "q_events_pivot",
    oracle="""
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
           CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
    FROM events GROUP BY user_id
    """,
)
def q_events_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type counts as columns. Spark's pivot with an
    explicit value list is a single-pass conditional aggregation (same plan
    as the CASE form — no second scan to discover values)."""
    ev = load(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).agg(F.count(F.lit(1)))
    )
    cols = [F.col("user_id")] + [
        F.coalesce(F.col(t), F.lit(0)).cast("bigint").alias(f"n_{t}") for t in EVENT_TYPES
    ]
    return pivoted.select(*cols)


@register(
    "q_events_first_last",
    oracle="""
    SELECT user_id,
           MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           arg_min(event_type, ts) AS first_type,
           arg_max(event_type, ts) AS last_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_events_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last value per group (argmin/argmax by timestamp) via
    min_by/max_by — single-pass, no window needed.

    Events have unique timestamps per user in this data; a production
    deployment adds event_id to the ordering struct for total order."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.expr("min_by(event_type, ts)").alias("first_type"),
        F.expr("max_by(event_type, ts)").alias("last_type"),
        bcount("n_events"),
    )


@register(
    "q_events_gap_to_next",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(date_diff('second', ts,
                LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
             AS BIGINT) AS sec_to_next,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_type
    FROM events WHERE event_type = 'view'
      OR event_type = 'click'
    """,
)
def q_events_gap_to_next(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lead(): time-to-next-event and next-event-type per user."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = F.lead("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.unix_timestamp(nxt) - F.unix_timestamp("ts")).cast("bigint").alias("sec_to_next"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "q_events_value_by_type_rollup",
    oracle="""
    SELECT event_type,
           CAST(date_diff('second', TIMESTAMP '1970-01-01',
                          date_trunc('day', ts)) AS BIGINT) AS day_epoch,
           CAST(GROUPING(event_type) * 2
                + GROUPING(date_diff('second', TIMESTAMP '1970-01-01',
                                     date_trunc('day', ts))) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY ROLLUP(event_type, date_diff('second', TIMESTAMP '1970-01-01',
                                          date_trunc('day', ts)))
    """,
)
def q_events_value_by_type_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup over (event_type, day): per-day subtotals, per-type totals,
    grand total in one pass."""
    ev = load(spark, sf_dir, "events")
    day_epoch = F.unix_timestamp(F.date_trunc("day", "ts")).alias("day_epoch")
    return (
        ev.rollup("event_type", day_epoch)
        .agg(
            F.grouping_id().cast("bigint").alias("gid"),
            bcount("n"),
            dsum("value", "total_value"),
        )
        .select("event_type", F.col("day_epoch").cast("bigint").alias("day_epoch"), "gid", "n", "total_value")
    )
