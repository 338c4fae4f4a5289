"""Analytics batch 40: distribution-drift monitoring (PSI, Jensen–Shannon),
seasonal decomposition (STL-lite), Q–Q decile comparison, and linear
multi-touch attribution.

Drift metrics use the all-integer bit-length magnitude bucket from
q_value_log2_histogram (``length(bin(floor(value)))`` — no libm in bucket
assignment) plus Laplace smoothing so empty buckets can't produce
infinities; the log-sums range over a bounded bucket grid (≤ ~20 terms), so
last-ulp libm wobble is absorbed by round(…, 6) (q_user_entropy argument).
Q–Q deciles avoid percentile interpolation entirely: the d-th decile is the
row at rank (d·n+9) DIV 10 — pure integer arithmetic on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register
from .relations import STL_SEASONAL_SQL, stl_seasonal

# all-integer magnitude bucket: 0 for value<1, else bit-length of floor(value)
_SQL_BUCKET = """CASE WHEN value < 1.0 THEN 0
                 ELSE CAST(length(bin(CAST(FLOOR(value) AS BIGINT))) AS BIGINT)
                 END"""


def _bucket_col() -> F.Column:
    return (
        F.when(F.col("value") < 1.0, F.lit(0))
        .otherwise(F.length(F.bin(F.floor("value").cast("bigint"))))
        .cast("bigint")
    )


@register(
    "q_psi_value_drift",
    oracle=f"""
    WITH base AS (
      SELECT CASE WHEN isodow(ts) >= 6 THEN 'weekend' ELSE 'weekday' END AS grp,
             {_SQL_BUCKET} AS bucket
      FROM events WHERE value IS NOT NULL
    ),
    cell AS (
      SELECT bucket,
             CAST(COUNT(*) FILTER (WHERE grp = 'weekday') AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE grp = 'weekend') AS BIGINT) AS n2
      FROM base GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cell
    ),
    p AS (
      SELECT (CAST(n1 AS DOUBLE) + 0.5)
               / (CAST(t1 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS p1,
             (CAST(n2 AS DOUBLE) + 0.5)
               / (CAST(t2 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS p2,
             t1, t2, k
      FROM cell, tot
    )
    SELECT CAST(MAX(t1) AS BIGINT) AS n_weekday,
           CAST(MAX(t2) AS BIGINT) AS n_weekend,
           CAST(MAX(k) AS BIGINT) AS n_buckets,
           round(SUM((p1 - p2) * ln(p1 / p2)), 6) AS psi
    FROM p
    """,
)
def q_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of the event-value distribution, weekday
    vs weekend — the standard "has the input distribution shifted" monitor
    placed in front of models and pricing rules (PSI > 0.2 ⇒ investigate).

    Buckets are the all-integer power-of-two magnitude bins; proportions are
    Laplace-smoothed (+0.5 per cell) so a bucket present on only one side
    contributes a finite term instead of ±∞. The PSI sum ranges over the
    bounded bucket grid, so ln's libm wobble is absorbed by round(…, 6).

    Scale: one map-side-combined groupBy to the bucket grid; everything
    after is constant-size. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grp = F.when(F.weekday("ts") + 1 >= 6, F.lit("weekend")).otherwise(
        F.lit("weekday")
    )
    cell = ev.select(grp.alias("grp"), _bucket_col().alias("bucket")).groupBy(
        "bucket"
    ).agg(
        F.count_if(F.col("grp") == "weekday").cast("bigint").alias("n1"),
        F.count_if(F.col("grp") == "weekend").cast("bigint").alias("n2"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the totals and the smoothed-share pass
    # both re-derived the counts (2 events scans in the plan); the
    # ≤|buckets| grid materializes once
    tot = cell.agg(
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum("n2").cast("bigint").alias("t2"),
        bcount("k"),
    )
    p = cell.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("n1").cast("double") + 0.5)
            / (F.col("t1").cast("double") + 0.5 * F.col("k").cast("double"))
        ).alias("p1"),
        (
            (F.col("n2").cast("double") + 0.5)
            / (F.col("t2").cast("double") + 0.5 * F.col("k").cast("double"))
        ).alias("p2"),
        "t1",
        "t2",
        "k",
    )
    return p.agg(
        F.max("t1").cast("bigint").alias("n_weekday"),
        F.max("t2").cast("bigint").alias("n_weekend"),
        F.max("k").cast("bigint").alias("n_buckets"),
        F.round(
            F.sum((F.col("p1") - F.col("p2")) * F.log(F.col("p1") / F.col("p2"))), 6
        ).alias("psi"),
    )


@register(
    "q_js_divergence",
    oracle=f"""
    WITH base AS (
      SELECT event_type, {_SQL_BUCKET} AS bucket
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    cell AS (
      SELECT bucket,
             CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS n1,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n2
      FROM base GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS t1, CAST(SUM(n2) AS BIGINT) AS t2,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM cell
    ),
    p AS (
      SELECT (CAST(n1 AS DOUBLE) + 0.5)
               / (CAST(t1 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS p1,
             (CAST(n2 AS DOUBLE) + 0.5)
               / (CAST(t2 AS DOUBLE) + 0.5 * CAST(k AS DOUBLE)) AS p2,
             t1, t2, k
      FROM cell, tot
    )
    SELECT CAST(MAX(t1) AS BIGINT) AS n_click,
           CAST(MAX(t2) AS BIGINT) AS n_purchase,
           CAST(MAX(k) AS BIGINT) AS n_buckets,
           round(SUM(0.5 * p1 * log2(p1 / ((p1 + p2) / 2))
                     + 0.5 * p2 * log2(p2 / ((p1 + p2) / 2))), 6) AS js_bits,
           round(sqrt(SUM(0.5 * p1 * log2(p1 / ((p1 + p2) / 2))
                          + 0.5 * p2 * log2(p2 / ((p1 + p2) / 2)))), 6)
             AS js_distance
    FROM p
    """,
)
def q_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence (bits) between the click and purchase
    value distributions — the symmetric, bounded cousin of KL used to
    compare segment behavior, plus its metric square root (JS distance).

    Same machinery as q_psi_value_drift: integer magnitude buckets,
    Laplace-smoothed proportions, bounded-grid log2 sum rounded past ulp
    wobble. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "purchase")
    )
    cell = ev.select("event_type", _bucket_col().alias("bucket")).groupBy(
        "bucket"
    ).agg(
        F.count_if(F.col("event_type") == "click").cast("bigint").alias("n1"),
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("n2"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the totals and the smoothed-share pass
    # both re-derived the counts (2 events scans in the plan); the
    # ≤|buckets| grid materializes once
    tot = cell.agg(
        F.sum("n1").cast("bigint").alias("t1"),
        F.sum("n2").cast("bigint").alias("t2"),
        bcount("k"),
    )
    p = cell.crossJoin(F.broadcast(tot)).select(
        (
            (F.col("n1").cast("double") + 0.5)
            / (F.col("t1").cast("double") + 0.5 * F.col("k").cast("double"))
        ).alias("p1"),
        (
            (F.col("n2").cast("double") + 0.5)
            / (F.col("t2").cast("double") + 0.5 * F.col("k").cast("double"))
        ).alias("p2"),
        "t1",
        "t2",
        "k",
    )
    m = (F.col("p1") + F.col("p2")) / 2
    term = F.lit(0.5) * F.col("p1") * F.log2(F.col("p1") / m) + F.lit(0.5) * F.col(
        "p2"
    ) * F.log2(F.col("p2") / m)
    return p.agg(
        F.max("t1").cast("bigint").alias("n_click"),
        F.max("t2").cast("bigint").alias("n_purchase"),
        F.max("k").cast("bigint").alias("n_buckets"),
        F.round(F.sum(term), 6).alias("js_bits"),
        F.round(F.sqrt(F.sum(term)), 6).alias("js_distance"),
    )


@register(
    "q_stl_lite",
    oracle=f"""
    WITH seas AS ({STL_SEASONAL_SQL})
    SELECT dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           round(MAX(seasonal), 6) AS seasonal_component,
           round(CAST(SUM(CAST(ABS(detr - seasonal) AS DECIMAL(18,9)))
                      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
             AS mean_abs_remainder
    FROM seas GROUP BY dow
    """,
)
def q_stl_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition of daily revenue: trend = centered 7-day
    moving average (full windows only), seasonal = per-ISO-weekday mean of
    the detrended series, remainder = what's left — reported as the weekly
    seasonal profile with its mean absolute remainder (how much the
    decomposition fails to explain).

    Determinism: daily revenue and the 7-day trend window go through exact
    DECIMAL sums; detrended doubles are cast per-term to DECIMAL(18,9)
    before the per-dow seasonal mean and remainder sums.

    Scale: the sequential structure lives entirely on the ~2.5k-row daily
    grid (post-aggregate); the one ordered window is over that grid, never
    raw rows. §2.B [NS].
    """
    seas = stl_seasonal(spark, sf_dir)
    return seas.groupBy("dow").agg(
        bcount("n_days"),
        F.round(F.max("seasonal"), 6).alias("seasonal_component"),
        F.round(
            F.sum(F.abs(F.col("detr") - F.col("seasonal")).cast("decimal(18,9)"))
            .cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_abs_remainder"),
    )


@register(
    "q_qq_deciles",
    oracle="""
    WITH base AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
      WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
    ),
    dd AS (SELECT unnest(generate_series(1, 9)) AS d),
    pick AS (
      SELECT dd.d, base.event_type, base.value
      FROM dd JOIN base ON base.rn = (dd.d * base.n + 9) // 10
    )
    SELECT CAST(d AS BIGINT) AS decile,
           round(MAX(CASE WHEN event_type = 'click' THEN value END), 6)
             AS q_click,
           round(MAX(CASE WHEN event_type = 'purchase' THEN value END), 6)
             AS q_purchase,
           round(MAX(CASE WHEN event_type = 'purchase' THEN value END)
                 / MAX(CASE WHEN event_type = 'click' THEN value END), 6)
             AS qq_ratio
    FROM pick GROUP BY d
    """,
)
def q_qq_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q–Q decile table comparing the click and purchase value
    distributions: for d = 1..9, the d-th discrete decile of each side and
    their ratio — the tabular form of a Q–Q plot (ratios far from constant
    ⇒ distributions differ in shape, not just scale).

    No percentile interpolation anywhere: the d-th decile is the row ranked
    ⌈d·n/10⌉ = (d·n+9) DIV 10 in (value, event_id) order — pure integer
    rank arithmetic, so both engines pick the identical data element even
    with duplicate values.

    Scale: one per-group sort (rank window partitioned by type) — the same
    cost class as percentile_disc; at 100 TB swap in approx_percentile with
    the same output shape. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("event_type").isin("click", "purchase")
    )
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    base = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("event_type")).alias("n"),
    )
    dd = spark.range(1, 10).select(F.col("id").alias("d"))
    pick = F.broadcast(dd).join(
        base,
        base.rn == F.floor((F.col("d") * base.n + 9) / F.lit(10)).cast("bigint"),
        "inner",
    )
    click = F.max(F.when(F.col("event_type") == "click", F.col("value")))
    purch = F.max(F.when(F.col("event_type") == "purchase", F.col("value")))
    return (
        pick.groupBy(F.col("d").cast("bigint").alias("decile"))
        .agg(
            F.round(click, 6).alias("q_click"),
            F.round(purch, 6).alias("q_purchase"),
            F.round(purch / click, 6).alias("qq_ratio"),
        )
    )


@register(
    "q_linear_attribution",
    oracle="""
    WITH fp AS (
      SELECT user_id, MIN(ts) AS first_purchase_ts
      FROM events WHERE event_type = 'purchase' GROUP BY 1
    ),
    touch AS (
      SELECT e.user_id, e.event_type
      FROM events e JOIN fp ON fp.user_id = e.user_id
      WHERE e.ts < fp.first_purchase_ts AND e.event_type <> 'purchase'
    ),
    cr AS (
      SELECT user_id, event_type,
             1.0 / CAST(COUNT(*) OVER (PARTITION BY user_id) AS DOUBLE)
               AS credit
      FROM touch
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           round(CAST(SUM(CAST(credit AS DECIMAL(18,12))) AS DOUBLE), 6)
             AS total_credit
    FROM cr GROUP BY event_type
    """,
)
def q_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear (equal-weight) multi-touch attribution: every pre-conversion
    touch of a converting user shares one unit of credit equally; credit is
    summed per channel (event type) — the fairness-baseline companion to
    q_last_touch_attribution.

    Per-touch credit 1/n is a single double division (deterministic), and
    the channel sums route each credit through DECIMAL(18,12) so
    aggregation order can't move the total.

    Scale: one groupBy for first purchases, one co-partitioned join on
    user_id, one count window on the same key (no extra shuffle — the join
    output is already hash-distributed by user_id), final small groupBy.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    fp = ev.filter(F.col("event_type") == "purchase").groupBy("user_id").agg(
        F.min("ts").alias("first_purchase_ts")
    )
    touch = (
        ev.join(fp, "user_id")
        .filter(
            (F.col("ts") < F.col("first_purchase_ts"))
            & (F.col("event_type") != "purchase")
        )
        .select("user_id", "event_type")
    )
    cr = touch.select(
        "user_id",
        "event_type",
        (
            F.lit(1.0)
            / F.count(F.lit(1))
            .over(Window.partitionBy("user_id"))
            .cast("double")
        ).alias("credit"),
    )
    return cr.groupBy("event_type").agg(
        bcount("n_touches"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(
            F.sum(F.col("credit").cast("decimal(18,12)")).cast("double"), 6
        ).alias("total_credit"),
    )
