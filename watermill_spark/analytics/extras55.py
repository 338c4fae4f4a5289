"""Analytics batch 63: operational analytics — Little's law validation
(L = λW) over user activity intervals, session bounce-rate / dwell-time
profile, and the Atkinson inequality index of customer spend.

Little's law is *the* streaming-capacity identity: measured concurrency
must equal arrival rate times residence time. The measured side integrates
the active-user step function with a boundary sweep (+1 at first event,
−1 after last), all in exact integer epoch-microsecond arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_littles_law",
    oracle="""
    WITH spans AS (
      SELECT user_id,
             epoch_us(MIN(ts)) AS t0,
             epoch_us(MAX(ts)) AS t1
      FROM events GROUP BY 1
    ),
    bounds AS (
      SELECT t0 AS t, 1 AS delta FROM spans
      UNION ALL
      SELECT t1, -1 FROM spans
    ),
    sweep AS (
      SELECT t, CAST(SUM(SUM(delta)) OVER (ORDER BY t
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS active,
             CAST(LEAD(t) OVER (ORDER BY t) - t AS BIGINT) AS dt
      FROM bounds GROUP BY t
    ),
    meas AS (
      SELECT CAST(SUM(active * dt) AS BIGINT) AS active_us,
             CAST(MAX(t + COALESCE(dt, 0)) - MIN(t) AS BIGINT) AS span_us
      FROM sweep WHERE dt IS NOT NULL
    ),
    pred AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(t1 - t0) AS BIGINT) AS total_residence_us
      FROM spans
    )
    SELECT n_users, CAST(span_us // 1000000 AS BIGINT) AS span_seconds,
           round(CAST(active_us AS DOUBLE) / span_us, 6)
             AS l_measured,
           round(CAST(n_users AS DOUBLE) / span_us
                 * (CAST(total_residence_us AS DOUBLE) / n_users), 6)
             AS l_lambda_w,
           round(CAST(total_residence_us AS DOUBLE) / n_users / 3600e6, 4)
             AS w_hours
    FROM meas, pred
    """,
)
def q_littles_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Little's law (L = λ·W) audited on the event stream: treat each
    user's [first event, last event] interval as residence in the system;
    L_measured integrates the concurrent-active step function via a ±1
    boundary sweep, λ = users/span, W = mean residence — the two sides are
    algebraically equal (both reduce to Σresidence/span), so this query
    *proves* the sweep machinery correct while exhibiting the
    interval-concurrency operator (the same sweep powers
    q_events_concurrency_sweep and any connection/queue-depth monitor).

    Determinism: the sweep is integer epoch-microseconds and integer prefix
    sums; only the final three ratios are doubles.

    Scale: boundary generation doubles the per-user rollup (2 rows each);
    the ordered prefix sum is the classic single-pass stateful stage — at
    scale, a range-partitioned prefix-sum over partition subtotals; the
    integrand never materializes per-second rows. §2.B streaming surface
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    spans = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).cast("bigint").alias("t0"),
        F.unix_micros(F.max("ts")).cast("bigint").alias("t1"),
    )
    # checkpointed once (r6): both union branches and the prediction
    # aggregate each re-derived the per-user rollup (3 events scans in
    # the plan); the grid materializes once (state linear in the user
    # domain — the q_slope_one posting-list class)
    spans = spans.localCheckpoint(eager=True)
    bounds = spans.select(F.col("t0").alias("t"), F.lit(1).alias("delta")).unionAll(
        spans.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    per_t = bounds.groupBy("t").agg(F.sum("delta").alias("d"))
    wseq = Window.orderBy("t")
    sweep = per_t.select(
        "t",
        F.sum("d")
        .over(wseq.rowsBetween(Window.unboundedPreceding, 0))
        .cast("bigint")
        .alias("active"),
        (F.lead("t").over(wseq) - F.col("t")).cast("bigint").alias("dt"),
    ).filter(F.col("dt").isNotNull())
    meas = sweep.agg(
        F.sum(F.col("active") * F.col("dt")).cast("bigint").alias("active_us"),
        (F.max(F.col("t") + F.coalesce(F.col("dt"), F.lit(0))) - F.min("t"))
        .cast("bigint")
        .alias("span_us"),
    )
    pred = spans.agg(
        bcount("n_users"),
        F.sum(F.col("t1") - F.col("t0")).cast("bigint").alias("total_residence_us"),
    )
    s = meas.crossJoin(F.broadcast(pred))
    lam = F.col("n_users").cast("double") / F.col("span_us")
    w = F.col("total_residence_us").cast("double") / F.col("n_users")
    return s.select(
        "n_users",
        F.floor(F.col("span_us") / 1000000).cast("bigint").alias("span_seconds"),
        F.round(
            F.col("active_us").cast("double") / F.col("span_us"), 6
        ).alias("l_measured"),
        F.round(lam * w, 6).alias("l_lambda_w"),
        F.round(w / F.lit(3600e6), 4).alias("w_hours"),
    )


@register(
    "q_bounce_dwell",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN LAG(ts) OVER w IS NULL
                  OR date_diff('second', LAG(ts) OVER w, ts) > 1800 THEN 1
                  ELSE 0 END AS is_new
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    ),
    per_sess AS (
      SELECT user_id, sess_id,
             MIN(ts) AS t0,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(date_diff('second', MIN(ts), MAX(ts)) AS BIGINT)
               AS dwell_secs,
             MIN(CASE WHEN ts = t_first THEN event_type END) AS entry_type
      FROM (SELECT *, MIN(ts) OVER (PARTITION BY user_id, sess_id)
                        AS t_first
            FROM sess) x
      GROUP BY 1, 2
    )
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) FILTER (WHERE n_events = 1) AS BIGINT) AS bounces,
           round(CAST(COUNT(*) FILTER (WHERE n_events = 1) AS DOUBLE)
                 / COUNT(*), 6) AS bounce_rate,
           round(CAST(SUM(dwell_secs) AS DOUBLE) / COUNT(*), 4)
             AS avg_dwell_secs,
           round(CAST(SUM(n_events) AS DOUBLE) / COUNT(*), 4)
             AS avg_events_per_session
    FROM per_sess GROUP BY entry_type
    """,
)
def q_bounce_dwell(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounce-rate and dwell-time profile by session entry type: sessions
    from the engine's standard 30-minute-gap sessionization
    (q_events_sessionize's exact rule), a bounce being a single-event
    session — the engagement report layered on the sessionizer, sliced by
    what the user did *first* (pairs with q_uplift_by_segment's
    first-event segments).

    Determinism: session boundaries compare integer second gaps; dwell
    seconds and event counts are exact integers; entry type is the
    min-timestamp event with a deterministic MIN tiebreak on the
    event_type string at equal timestamps.

    Scale: two windows and the rollup all partition by user_id (one
    shuffle, reused); entry-type grid is 5 rows. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.lag("ts").over(w).isNull() | (gap > 1800), 1)
        .otherwise(0)
        .alias("is_new"),
    )
    sess = marked.select(
        "user_id",
        "ts",
        "event_type",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)).alias(
            "sess_id"
        ),
    )
    ws = Window.partitionBy("user_id", "sess_id")
    with_first = sess.withColumn("t_first", F.min("ts").over(ws))
    per_sess = with_first.groupBy("user_id", "sess_id").agg(
        bcount("n_events"),
        (F.unix_timestamp(F.max("ts")) - F.unix_timestamp(F.min("ts")))
        .cast("bigint")
        .alias("dwell_secs"),
        F.min(
            F.when(F.col("ts") == F.col("t_first"), F.col("event_type"))
        ).alias("entry_type"),
    )
    return per_sess.groupBy("entry_type").agg(
        bcount("n_sessions"),
        F.count_if(F.col("n_events") == 1).cast("bigint").alias("bounces"),
        F.round(
            F.count_if(F.col("n_events") == 1).cast("double") / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
        F.round(F.sum("dwell_secs").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_dwell_secs"
        ),
        F.round(F.sum("n_events").cast("double") / F.count(F.lit(1)), 4).alias(
            "avg_events_per_session"
        ),
    )


@register(
    "q_atkinson_index",
    oracle="""
    WITH spend AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS v
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS tot,
             CAST(SUM(CAST(sqrt(v) AS DECIMAL(18,9))) AS DOUBLE) AS sum_sqrt
      FROM spend
    )
    SELECT n AS n_customers,
           round(tot / n, 2) AS mean_spend,
           round((sum_sqrt / n) * (sum_sqrt / n), 2) AS ede_spend,
           round(1.0 - (sum_sqrt / n) * (sum_sqrt / n) / (tot / n), 6)
             AS atkinson_eps_half
    FROM s
    """,
)
def q_atkinson_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atkinson inequality index (ε = 0.5) of per-customer spend:
    A = 1 − EDE/mean where EDE = (Σ√v/n)² is the equally-distributed-
    equivalent spend — the welfare-theoretic inequality measure with an
    explicit aversion parameter, complementing q_gini_customer_spend
    (rank-based) and q_hhi_concentration (share-of-squares).

    Determinism: per-customer spend is an exact decimal sum; √v is IEEE
    correctly-rounded (bit-identical cross-engine) and decimal-cast per
    row before the exact sum; the index is fixed-shape double algebra.

    Scale: one map-side-combined customer rollup then a 1-row moment agg.
    §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(dec("o_totalprice")).cast("double").alias("v")
    )
    s = spend.agg(
        bcount("n"),
        F.sum(dec("v")).cast("double").alias("tot"),
        F.sum(F.sqrt(F.col("v")).cast("decimal(18,9)")).cast("double").alias(
            "sum_sqrt"
        ),
    )
    mean = F.col("tot") / F.col("n")
    ede = (F.col("sum_sqrt") / F.col("n")) * (F.col("sum_sqrt") / F.col("n"))
    return s.select(
        F.col("n").alias("n_customers"),
        F.round(mean, 2).alias("mean_spend"),
        F.round(ede, 2).alias("ede_spend"),
        F.round(1.0 - ede / mean, 6).alias("atkinson_eps_half"),
    )
