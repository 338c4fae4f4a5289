"""Analytics batch 174: null-rate trend, duplicate-rate trend, and the
Benford second-digit test.

Two pipeline-health monitors and a forensic refinement: a CREEPING null
rate is how upstream schema changes announce themselves (the static
q_table_profile can't see the trend); a duplicate-rate spike is how
at-least-once producers announce a retry storm (feeding the
q_events_dedup_by_key operator that cleans it); the second-digit
Benford test catches rounded/psychological pricing that the
first-digit test (q_benford_law) is blind to — auditors run both.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/quality families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register


@register(
    "q_null_rate_trend",
    oracle="""
    WITH monthly AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS ym,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_null
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT ym, n, n_null,
             CAST(n_null AS DOUBLE) / n AS rate,
             CAST(ROW_NUMBER() OVER (ORDER BY ym) AS DOUBLE) AS x
      FROM monthly
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(x AS DECIMAL(38,15))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(rate AS DECIMAL(38,15))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * x AS DECIMAL(38,10))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(x * rate AS DECIMAL(38,15))) AS DOUBLE)
               AS sxy
      FROM idx
    )
    SELECT i.ym AS month, i.n AS n_events,
           round(i.rate * 100.0, 4) AS null_pct,
           round(CASE WHEN m.m * m.sxx - m.sx * m.sx = 0.0 THEN 0.0
                      ELSE (m.m * m.sxy - m.sx * m.sy)
                           / (m.m * m.sxx - m.sx * m.sx) * 100.0 END, 6)
             AS trend_pct_per_month
    FROM idx i, mom m
    ORDER BY i.ym
    """,
)
def q_null_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rate trend of events.value: monthly null percentage plus
    the OLS slope of the rate over month index (percentage points per
    month) — a positive creeping slope is the classic signature of an
    upstream producer silently dropping a field for a growing share of
    traffic; the TREND view the static q_table_profile snapshot cannot
    give.

    Determinism: rates are integer counts divided in double; the OLS
    slope comes from decimal-exact moments.

    Scale: one fact rollup to the month grid + a 1-row slope broadcast
    onto it (whitelisted). §2.B aggregation/quality family [NS].
    """
    ev = load(spark, sf_dir, "events")
    monthly = ev.groupBy(
        F.date_trunc("month", "ts").cast("date").alias("ym")
    ).agg(
        bcount("n"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_null"),
    )
    from pyspark.sql import Window

    idx = monthly.select(
        "ym",
        "n",
        (F.col("n_null").cast("double") / F.col("n")).alias("rate"),
        F.row_number().over(Window.orderBy("ym")).cast("double").alias("x"),
    )
    mom = idx.agg(
        bcount("m"),
        F.sum(F.col("x").cast(D15)).cast("double").alias("sx"),
        F.sum(F.col("rate").cast(D15)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("x") * F.col("rate")).cast(D15))
        .cast("double")
        .alias("sxy"),
    )
    denom = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    # single-month history (small SFs) => degenerate regression; slope 0
    slope = F.when(denom == 0.0, F.lit(0.0)).otherwise(
        (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / denom
    )
    return (
        idx.crossJoin(F.broadcast(mom))
        .select(
            F.col("ym").alias("month"),
            F.col("n").alias("n_events"),
            F.round(F.col("rate") * 100.0, 4).alias("null_pct"),
            F.round(slope * 100.0, 6).alias("trend_pct_per_month"),
        )
        .orderBy("month")
    )


@register(
    "q_duplicate_rate_trend",
    oracle="""
    WITH keyed AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
             user_id, event_type, value,
             date_trunc('second', ts) AS sec,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3, 4, 5
    ),
    weekly AS (
      SELECT wk,
             CAST(SUM(c) AS BIGINT) AS n_events,
             CAST(SUM(c - 1) AS BIGINT) AS n_dup_extras
      FROM keyed GROUP BY 1
    )
    SELECT wk AS week_start, n_events, n_dup_extras,
           round(CAST(n_dup_extras AS DOUBLE) / n_events * 100.0, 4)
             AS dup_pct,
           CAST(CAST(n_dup_extras AS DOUBLE) / n_events
                > 2.0 * CAST(SUM(n_dup_extras) OVER () AS DOUBLE)
                      / SUM(n_events) OVER () AS BOOLEAN)
             AS spike_alarm
    FROM weekly ORDER BY wk
    """,
)
def q_duplicate_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-rate trend: events sharing (user, type, value, same
    second) beyond the first are counted as duplicate extras per week,
    with an alarm when a week's rate exceeds 2× the overall rate — the
    monitor that catches an at-least-once producer's retry storm, and
    the sizing input for the q_events_dedup_by_key cleaning operator.

    Determinism: the duplicate key is exact equality on integer/
    decimal/truncated-timestamp fields; all counts are integers.

    Scale: one groupBy to the duplicate-key grain (map-side combined)
    + a weekly rollup; the overall-rate window runs on the bounded
    week grid. §2.B aggregation/quality family [NS].
    """
    ev = load(spark, sf_dir, "events")
    keyed = ev.groupBy(
        F.date_trunc("week", "ts").cast("date").alias("wk"),
        "user_id",
        "event_type",
        "value",
        F.date_trunc("second", "ts").alias("sec"),
    ).agg(bcount("c"))
    weekly = keyed.groupBy("wk").agg(
        F.sum("c").cast("bigint").alias("n_events"),
        F.sum(F.col("c") - 1).cast("bigint").alias("n_dup_extras"),
    )
    from pyspark.sql import Window

    wall = Window.partitionBy()
    rate = F.col("n_dup_extras").cast("double") / F.col("n_events")
    overall = (
        F.sum("n_dup_extras").over(wall).cast("double")
        / F.sum("n_events").over(wall)
    )
    return weekly.select(
        F.col("wk").alias("week_start"),
        "n_events",
        "n_dup_extras",
        F.round(rate * 100.0, 4).alias("dup_pct"),
        (rate > 2.0 * overall).alias("spike_alarm"),
    ).orderBy("week_start")


@register(
    "q_benford_second_digit",
    oracle="""
    WITH scaled AS (
      SELECT o_totalprice /
             CASE WHEN o_totalprice >= 1000000 THEN 1000000.0
                  WHEN o_totalprice >= 100000 THEN 100000.0
                  WHEN o_totalprice >= 10000 THEN 10000.0
                  WHEN o_totalprice >= 1000 THEN 1000.0
                  WHEN o_totalprice >= 100 THEN 100.0
                  WHEN o_totalprice >= 10 THEN 10.0
                  ELSE 1.0 END AS m
      FROM orders WHERE o_totalprice >= 10
    ),
    digits AS (
      SELECT CAST(FLOOR(m * 10.0) AS BIGINT) % 10 AS d2 FROM scaled
    ),
    cnts AS (
      SELECT d2, CAST(COUNT(*) AS BIGINT) AS cnt FROM digits GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM cnts),
    expect AS (
      SELECT CAST(d AS BIGINT) AS d2,
             CAST(SUM(CAST(ln(1.0 + 1.0 / (10 * f + d)) / ln(10.0)
                           AS DECIMAL(38,15))) AS DOUBLE) AS p
      FROM generate_series(0, 9) AS t(d),
           generate_series(1, 9) AS u(f)
      GROUP BY 1
    )
    SELECT c.d2 AS second_digit, c.cnt,
           round(CAST(c.cnt AS DOUBLE) / t.n, 6) AS obs_share,
           round(e.p, 6) AS benford_share,
           round(pow(c.cnt - t.n * e.p, 2) / (t.n * e.p), 6)
             AS chi2_term
    FROM cnts c
    JOIN expect e ON e.d2 = c.d2, tot t
    ORDER BY c.d2
    """,
)
def q_benford_second_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford second-digit test on order totals: observed second-
    significant-digit shares against the exact second-digit law
    p(d) = Σ_f log₁₀(1 + 1/(10f + d)), with per-digit chi-square
    contributions — the refinement auditors run when first digits
    (q_benford_law) look clean but prices cluster on .99/.95-style
    psychological points, which distort SECOND digits first.

    Determinism: the digit comes from the fixed power-of-ten CASE
    ladder + floor arithmetic (no libm on data); the 10 expected
    shares are sums of the same ln constants on both engines.

    Scale: one narrow map + a 10-group aggregate; the 10-row expected
    table joins broadcast. §2.B aggregation family [NS].
    """
    o = load(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 10)
    p = (
        F.when(F.col("o_totalprice") >= 1000000, 1000000.0)
        .when(F.col("o_totalprice") >= 100000, 100000.0)
        .when(F.col("o_totalprice") >= 10000, 10000.0)
        .when(F.col("o_totalprice") >= 1000, 1000.0)
        .when(F.col("o_totalprice") >= 100, 100.0)
        .when(F.col("o_totalprice") >= 10, 10.0)
        .otherwise(1.0)
    )
    digits = o.select(
        (F.floor(F.col("o_totalprice") / p * 10.0).cast("bigint") % 10).alias(
            "d2"
        )
    )
    # checkpointed once (r6): the total and the final join both
    # re-derived the 10-row grid (2 orders scans in the plan)
    cnts = digits.groupBy("d2").agg(bcount("cnt")).localCheckpoint(eager=True)
    tot = cnts.agg(F.sum("cnt").cast("bigint").alias("n"))
    ds = spark.range(0, 10).select(F.col("id").cast("bigint").alias("d2"))
    fs = spark.range(1, 10).select(F.col("id").cast("bigint").alias("f"))
    expect = (
        ds.crossJoin(fs)
        .select(
            "d2",
            (
                F.log(1.0 + 1.0 / (10 * F.col("f") + F.col("d2")))
                / F.log(F.lit(10.0))
            ).alias("term"),
        )
        .groupBy("d2")
        .agg(F.sum(F.col("term").cast(D15)).cast("double").alias("p"))
    )
    return (
        cnts.join(F.broadcast(expect), "d2")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("d2").alias("second_digit"),
            "cnt",
            F.round(F.col("cnt").cast("double") / F.col("n"), 6).alias(
                "obs_share"
            ),
            F.round("p", 6).alias("benford_share"),
            F.round(
                F.pow(F.col("cnt") - F.col("n") * F.col("p"), 2)
                / (F.col("n") * F.col("p")),
                6,
            ).alias("chi2_term"),
        )
        .orderBy("second_digit")
    )
