"""Event-stream analytics over the ``events`` table.

This is the batch twin of the streaming surface (SURVEY.md §2.A): the same
transformations run as Structured Streaming queries in
``watermill_spark.streaming``; here they are expressed over the bounded
``events`` parquet so the DuckDB oracle can verify semantics.

Mapping to the reference (cited for parity checking, not implementation):
- dedup-by-key       ≙ middleware Deduplicator (reference
  `message/router/middleware/deduplicator.go:112-124`).
- delayed hold-back  ≙ `components/delay/delay.go:26-68` consumer-side filter.
- sessionize         ≙ session_window() in the streaming twin.
- as-of join         ≙ the §2.B as-of operator (union + running-last trick).

Scale notes: every window partitions by ``user_id`` (bounded per-user state);
the as-of join is the union-scan formulation which is a single sort/shuffle
on (user, ts) — the scalable alternative to a per-row correlated lookup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, dsum
from .registry import load, register


@register(
    "q_events_hourly",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY 1, 2
    """,
    bench=True,
)
def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window aggregation (batch form of window(ts, '1 hour')).

    Scale: group key (hour, type) is low-cardinality per partition → partial
    aggregation collapses before the shuffle. The streaming twin uses
    `window()` + watermark with identical semantics.
    """
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        bcount("n"),
        dsum("value", "total_value"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@register(
    "q_events_json",
    oracle="""
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_mod,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
    FROM events
    GROUP BY 1
    """,
)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON payload decode (get_json_object ≙ CQRS JSON marshaler,
    reference `components/cqrs/marshaler_json.go:15-53`)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.select((k % 10).cast("bigint").alias("k_mod"), k.alias("_k")).groupBy(
        "k_mod"
    ).agg(
        bcount("n"),
        F.min("_k").cast("bigint").alias("k_min"),
        F.max("_k").cast("bigint").alias("k_max"),
    )


@register(
    "q_events_dedup_by_key",
    oracle="""
    SELECT event_id, user_id, event_type, ts FROM (
      SELECT event_id, user_id, event_type, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_events_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-first dedup on (user_id, event_type) — the batch form of the
    Deduplicator middleware (reference
    `message/router/middleware/deduplicator.go:112-209`: drop message if key
    seen within window; here window = whole table, keep earliest).

    Scale: row_number over the dedup key is one shuffle; the streaming twin
    is `dropDuplicatesWithinWatermark` whose state store holds only keys
    inside the watermark horizon.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.select("event_id", "user_id", "event_type", "ts", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


@register(
    "q_events_sessionize",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, event_id, value,
             CASE WHEN LAG(ts) OVER w IS NULL THEN 1
                  WHEN date_diff('second', LAG(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), sess AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged)
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT) AS duration_sec,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS session_value
    FROM sess
    GROUP BY user_id, session_id
    """,
    bench=True,
)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a 30-minute inactivity gap (batch twin of
    `session_window(ts, '30 minutes')`).

    Scale: two windows + one aggregation, all partitioned by user_id — state
    per user is bounded by their own event count; skewed users are split by
    AQE skew handling on the shuffle.
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1).otherwise(0).alias("is_new"),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("session_id", F.sum("is_new").over(wrun))
    return sess.groupBy("user_id", F.col("session_id").cast("bigint").alias("session_id")).agg(
        bcount("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("bigint")
        .alias("duration_sec"),
        dsum("value", "session_value"),
    )


@register(
    "q_events_asof_join",
    oracle="""
    SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
           c.click_ts, c.click_id
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN LATERAL (
      SELECT e.ts AS click_ts, e.event_id AS click_id
      FROM events e
      WHERE e.event_type = 'click' AND e.user_id = p.user_id AND e.ts <= p.ts
      ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
    ) c ON TRUE
    """,
)
def q_events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase, the most recent click at-or-before it.

    Spark lacks ASOF JOIN, so this is the scalable union-scan formulation:
    union both sides, one window pass carrying the running "last click"
    forward per user, then keep purchase rows. One shuffle on (user_id),
    one sort — O(n log n) regardless of match distance, versus a range-join
    explosion or per-row lookup. The oracle uses DuckDB's LATERAL for the
    same semantics (ties broken toward the latest event_id).
    """
    from watermill_spark.operators import asof_join

    ev = load(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(
        purchases, clicks, by="user_id", left_on="ts", right_on="ts",
        right_cols=["event_id"],
    )
    return j.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("ts_asof").alias("click_ts"),
        F.col("event_id_asof").alias("click_id"),
    )


@register(
    "q_events_range_join",
    oracle="""
    SELECT e.event_id AS error_id, e.user_id, e.ts AS error_ts,
           CAST(COUNT(o.event_id) AS BIGINT) AS n_nearby,
           CAST(COALESCE(SUM(CAST(o.value AS DECIMAL(18,6))),
                         CAST(0 AS DECIMAL(18,6))) AS DOUBLE) AS nearby_value
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    LEFT JOIN (SELECT * FROM events WHERE event_type <> 'error') o
      ON o.user_id = e.user_id
     AND o.ts >= e.ts - INTERVAL 5 MINUTE
     AND o.ts <= e.ts + INTERVAL 5 MINUTE
    GROUP BY e.event_id, e.user_id, e.ts
    """,
)
def q_events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: activity within ±5 minutes of each error.

    Scale: the equi-key (user_id) carries the shuffle; the range predicate is
    evaluated inside the sort-merge join's inner loop. For a range join with
    NO equi-key one would bucket time into 5-minute bins and join on the bin
    (bin-and-verify) — that variant lives in operators/range_join.py.
    """
    ev = load(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("user_id").alias("e_user"), F.col("ts").alias("error_ts")
    )
    others = ev.filter(F.col("event_type") != "error").select(
        F.col("event_id").alias("o_id"), F.col("user_id").alias("o_user"), F.col("ts").alias("o_ts"), "value"
    )
    joined = errors.join(
        others,
        (F.col("o_user") == F.col("e_user"))
        & (F.col("o_ts") >= F.col("error_ts") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("o_ts") <= F.col("error_ts") + F.expr("INTERVAL 5 MINUTES")),
        "left",
    )
    return joined.groupBy("error_id", F.col("e_user").alias("user_id"), "error_ts").agg(
        F.count("o_id").cast("bigint").alias("n_nearby"),
        F.coalesce(F.sum(dec("value")), F.lit(0).cast("decimal(18,6)"))
        .cast("double")
        .alias("nearby_value"),
    )


@register(
    "q_events_delayed_holdback",
    oracle="""
    SELECT event_id, user_id, event_type, ts,
           ts + INTERVAL 1 HOUR AS delayed_until,
           (ts + INTERVAL 1 HOUR <= TIMESTAMP '2024-01-03 00:00:00') AS deliverable
    FROM events
    WHERE event_type IN ('error', 'signup')
    """,
)
def q_events_delayed_holdback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delayed-message stamping + consumer-side hold-back decision
    (reference `components/delay/delay.go:26-68`,
    `components/delay/publisher.go:28-83`: publisher stamps
    `_watermill_delayed_until`; SQL subscribers filter on it).

    The write path stamps `delayed_until`; the read path marks rows
    deliverable at a given poll instant (fixed here so the oracle is
    deterministic). The streaming twin re-scans on a processing-time trigger.
    """
    ev = load(spark, sf_dir, "events")
    delayed = F.col("ts") + F.expr("INTERVAL 1 HOUR")
    poll = F.lit("2024-01-03 00:00:00").cast("timestamp")
    return ev.filter(F.col("event_type").isin("error", "signup")).select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        delayed.alias("delayed_until"),
        (delayed <= poll).alias("deliverable"),
    )


@register(
    "q_events_fanin",
    oracle="""
    SELECT 'merged' AS topic, event_id, user_id, event_type, ts FROM events
    WHERE event_type = 'click'
    UNION ALL
    SELECT 'merged' AS topic, event_id, user_id, event_type, ts FROM events
    WHERE event_type = 'view'
    """,
)
def q_events_fanin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FanIn: N source topics multiplexed into one target topic (reference
    `components/fanin/fanin.go:61-110`). Batch twin: unionByName of the
    per-topic streams with the target-topic column stamped.

    Scale: union is a zero-shuffle narrow op; Kafka-native form is
    `option("subscribe", "t1,t2")`.
    """
    ev = load(spark, sf_dir, "events")
    cols = ["event_id", "user_id", "event_type", "ts"]
    clicks = ev.filter(F.col("event_type") == "click").select(*cols)
    views = ev.filter(F.col("event_type") == "view").select(*cols)
    return (
        clicks.unionByName(views)
        .select(F.lit("merged").alias("topic"), *cols)
    )


@register(
    "q_events_envelope_roundtrip",
    oracle="""
    SELECT event_id,
           json_extract_string(env, '$.destination_topic') AS dest_topic,
           CAST(json_extract_string(env, '$.user_id') AS BIGINT) AS user_id,
           json_extract_string(env, '$.event_type') AS event_type
    FROM (
      SELECT event_id,
             json_object('destination_topic', concat('topic_', event_type),
                         'user_id', user_id, 'event_type', event_type) AS env
      FROM events WHERE event_type IN ('purchase', 'signup'))
    """,
)
def q_events_envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forwarder envelope wrap + unwrap (reference
    `components/forwarder/envelope.go:43-75`: message + destination topic
    wrapped in a JSON envelope, unwrapped and routed by the forwarder).

    JSON *strings* differ across engines (key order/whitespace), so the
    declared result is the round-trip — wrap with to_json, unwrap with
    get_json_object — whose extracted fields are engine-independent.
    """
    ev = load(spark, sf_dir, "events")
    env = F.to_json(
        F.struct(
            F.concat(F.lit("topic_"), F.col("event_type")).alias("destination_topic"),
            F.col("user_id"),
            F.col("event_type"),
        )
    )
    wrapped = ev.filter(F.col("event_type").isin("purchase", "signup")).select(
        "event_id", env.alias("env")
    )
    return wrapped.select(
        "event_id",
        F.get_json_object("env", "$.destination_topic").alias("dest_topic"),
        F.get_json_object("env", "$.user_id").cast("bigint").alias("user_id"),
        F.get_json_object("env", "$.event_type").alias("event_type"),
    )


@register(
    "q_events_poison_split",
    oracle="""
    SELECT event_id, user_id, event_type,
           (value < 0 OR value IS NULL OR event_type = 'error') AS poisoned,
           CASE WHEN event_type = 'error' THEN 'handler_error'
                WHEN value < 0 OR value IS NULL THEN 'invalid_value'
                ELSE NULL END AS reason_poisoned
    FROM events
    """,
)
def q_events_poison_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PoisonQueue routing decision (reference
    `message/router/middleware/poison.go:30-60`: failed messages get
    reason/handler metadata and go to the poison topic; the rest flow on).

    Batch twin of the error-column convention used by the streaming router:
    a single pass stamps each row ok/poisoned + reason; the streaming sink
    writes the two partitions to main/DLQ topics in one foreachBatch.
    """
    ev = load(spark, sf_dir, "events")
    is_err = F.col("event_type") == "error"
    bad_val = F.col("value").isNull() | (F.col("value") < 0)
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        (bad_val | is_err).alias("poisoned"),
        F.when(is_err, "handler_error")
        .when(bad_val, "invalid_value")
        .otherwise(F.lit(None).cast("string"))
        .alias("reason_poisoned"),
    )


@register(
    "q_events_requeue_counts",
    oracle="""
    SELECT event_id, user_id,
           CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 3 + 1 AS BIGINT)
             AS retries,
           'events' AS origin_topic
    FROM events
    WHERE event_type = 'error'
    """,
)
def q_events_requeue_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Requeuer retry bookkeeping (reference
    `components/requeuer/requeuer.go:89-158`: move poison→origin and
    increment the `_watermill_requeuer_retries` metadata key).

    Here the prior retry count is derived from the payload (deterministic
    stand-in for accumulated metadata) and incremented — the metadata-column
    arithmetic is the operator; topic movement is a sink concern.
    """
    ev = load(spark, sf_dir, "events")
    prior = F.get_json_object("props", "$.k").cast("bigint") % 3
    return ev.filter(F.col("event_type") == "error").select(
        "event_id",
        "user_id",
        (prior + 1).cast("bigint").alias("retries"),
        F.lit("events").alias("origin_topic"),
    )
