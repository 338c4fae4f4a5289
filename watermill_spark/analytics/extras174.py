"""Analytics batch 182: net revenue retention, discount uplift curve,
and DAU/MAU stickiness.

NRR is the number SaaS boards are run on — this month's revenue from
LAST month's customers over last month's revenue (expansion net of
churn, acquisition excluded), the revenue-weighted upgrade of
q_cohort_retention_triangle's headcount view. The discount uplift
curve answers "do deeper discounts actually move volume?" with exact
per-bucket quantities (the observational prequel to
q_price_elasticity_ols's fitted slope). DAU/MAU is the engagement
stickiness ratio every consumer product tracks.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_net_revenue_retention",
    oracle="""
    WITH cm AS (
      SELECT o_custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS ym,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
               AS rev
      FROM orders GROUP BY 1, 2
    ),
    paired AS (
      SELECT cur.ym,
             CAST(SUM(CAST(prev.rev AS DECIMAL(38,10))) AS DOUBLE)
               AS base_rev,
             CAST(SUM(CAST(COALESCE(cur2.rev, 0)
                           AS DECIMAL(38,10))) AS DOUBLE) AS retained_rev
      FROM (SELECT DISTINCT ym FROM cm) cur
      JOIN cm prev
        ON prev.ym = cur.ym - INTERVAL 1 MONTH
      LEFT JOIN cm cur2
        ON cur2.o_custkey = prev.o_custkey AND cur2.ym = cur.ym
      GROUP BY 1
    )
    SELECT ym AS month,
           round(base_rev, 2) AS base_revenue,
           round(retained_rev, 2) AS retained_revenue,
           round(retained_rev / base_rev * 100.0, 4) AS nrr_pct
    FROM paired ORDER BY ym
    """,
)
def q_net_revenue_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Net revenue retention by month: revenue this month from the
    customers who had revenue LAST month, over last month's revenue —
    expansion net of contraction and churn, with new-customer revenue
    excluded by construction; NRR > 100% means the existing base grows
    on its own (the revenue-weighted upgrade of
    q_cohort_retention_triangle's headcount retention, and the metric
    q_customer_lifetime_value's churn term summarizes).

    Determinism: the month pairing is exact calendar arithmetic; all
    revenue sums route through DECIMAL.

    Scale: orders collapse to the (customer, month) grain once; the
    month-over-month pairing is a customer-keyed self-join between
    adjacent months (co-partitioned on the customer key at 100 TB).
    §2.B aggregation family [NS].
    """
    o = load(spark, sf_dir, "orders")
    cm = o.groupBy(
        "o_custkey",
        F.date_trunc("month", "o_orderdate").cast("date").alias("ym"),
    ).agg(F.sum(dec("o_totalprice")).cast("double").alias("rev"))
    # checkpointed once (r6): the month spine and both join sides each
    # re-derived the rollup (3 orders scans in the plan); the
    # ≤|customers|×|months| grid materializes once (state linear in the
    # customer domain — the q_slope_one posting-list class)
    cm = cm.localCheckpoint(eager=True)
    months = cm.select("ym").distinct().select(F.col("ym").alias("cur_ym"))
    prev = cm.select(
        F.col("o_custkey").alias("pk"),
        F.col("ym").alias("pym"),
        F.col("rev").alias("prev_rev"),
    )
    cur = cm.select(
        F.col("o_custkey").alias("ck"),
        F.col("ym").alias("cym"),
        F.col("rev").alias("cur_rev"),
    )
    paired = (
        months.join(
            prev, F.col("pym") == F.add_months(F.col("cur_ym"), -1)
        )
        .join(
            cur,
            (F.col("ck") == F.col("pk")) & (F.col("cym") == F.col("cur_ym")),
            "left",
        )
        .groupBy("cur_ym")
        .agg(
            F.sum(F.col("prev_rev").cast("decimal(38,10)"))
            .cast("double")
            .alias("base_rev"),
            F.sum(
                F.coalesce(F.col("cur_rev"), F.lit(0.0)).cast("decimal(38,10)")
            )
            .cast("double")
            .alias("retained_rev"),
        )
    )
    return paired.select(
        F.col("cur_ym").alias("month"),
        F.round("base_rev", 2).alias("base_revenue"),
        F.round("retained_rev", 2).alias("retained_revenue"),
        F.round(
            F.col("retained_rev") / F.col("base_rev") * 100.0, 4
        ).alias("nrr_pct"),
    ).orderBy("month")


@register(
    "q_discount_uplift_curve",
    oracle="""
    WITH bucketed AS (
      SELECT CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
             CAST(l_quantity AS DECIMAL(18,6)) AS q
      FROM lineitem
    ),
    per_bucket AS (
      SELECT disc_pct,
             CAST(COUNT(*) AS BIGINT) AS n_lines,
             CAST(SUM(q) AS DOUBLE) / COUNT(*) AS avg_qty
      FROM bucketed GROUP BY 1
    ),
    base AS (
      SELECT avg_qty AS base_qty FROM per_bucket WHERE disc_pct = 0
    )
    SELECT p.disc_pct, p.n_lines,
           round(p.avg_qty, 4) AS avg_qty,
           round((p.avg_qty / b.base_qty - 1.0) * 100.0, 4)
             AS uplift_vs_no_discount_pct
    FROM per_bucket p, base b
    ORDER BY p.disc_pct
    """,
)
def q_discount_uplift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount uplift curve: average line quantity per discount depth
    (integer percent buckets), expressed as uplift against the
    zero-discount baseline — the exact observational dose-response that
    q_price_elasticity_ols summarizes into one slope; a flat curve
    means discounts move margin, not volume.

    Determinism: bucket ids are fixed rounding arithmetic on the
    discount rate; quantities are exact decimal sums over exact
    counts.

    Scale: one narrow map + a ~12-bucket rollup + a 1-row baseline
    broadcast (whitelisted). §2.B aggregation family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    bucketed = li.select(
        F.floor(F.col("l_discount") * 100.0 + 0.5).cast("bigint").alias(
            "disc_pct"
        ),
        dec("l_quantity").alias("q"),
    )
    per_bucket = bucketed.groupBy("disc_pct").agg(
        bcount("n_lines"),
        (F.sum("q").cast("double") / F.count(F.lit(1))).alias("avg_qty"),
    )
    base = per_bucket.filter(F.col("disc_pct") == 0).select(
        F.col("avg_qty").alias("base_qty")
    )
    return (
        per_bucket.crossJoin(F.broadcast(base))
        .select(
            "disc_pct",
            "n_lines",
            F.round("avg_qty", 4).alias("avg_qty"),
            F.round(
                (F.col("avg_qty") / F.col("base_qty") - 1.0) * 100.0, 4
            ).alias("uplift_vs_no_discount_pct"),
        )
        .orderBy("disc_pct")
    )


@register(
    "q_dau_mau_stickiness",
    oracle="""
    WITH dau AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(date_trunc('month', ts) AS DATE) AS ym,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ),
    mau AS (
      SELECT CAST(date_trunc('month', ts) AS DATE) AS ym,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY 1
    ),
    monthly AS (
      SELECT d.ym,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(d.dau AS DECIMAL(38,6))) AS DOUBLE)
             / COUNT(*) AS avg_dau,
             MAX(m.mau) AS mau
      FROM dau d JOIN mau m ON m.ym = d.ym
      GROUP BY 1
    )
    SELECT ym AS month, n_days,
           round(avg_dau, 4) AS avg_dau,
           mau,
           round(avg_dau / mau * 100.0, 4) AS stickiness_pct
    FROM monthly ORDER BY ym
    """,
)
def q_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month: mean daily active users over
    monthly active users — the share of a month's users who show up on
    an average day (100% = daily habit, ~3% = monthly chore); the
    engagement-intensity ratio that q_rolling_active_users' window
    counts and q_new_vs_returning's mix decompose.

    Determinism: active counts are exact distincts; the ratio is an
    exact-sum average over an integer.

    Scale: two distinct-count rollups (day and month grain) + a
    month-keyed join on the bounded calendar. §2.B aggregation family
    [NS].
    """
    ev = load(spark, sf_dir, "events")
    # single scan (r6): DAU and MAU each re-scanned events for their
    # distinct grain; both derive exactly from ONE deduped
    # (month, day, user) grid, checkpointed once (state linear in the
    # user×day domain — the growth_accounting posting-list class)
    um = ev.select(
        F.col("ts").cast("date").alias("d"),
        F.date_trunc("month", "ts").cast("date").alias("ym"),
        "user_id",
    ).distinct().localCheckpoint(eager=True)
    dau = um.groupBy("d", "ym").agg(
        bcount("dau", "user_id")
    )
    mau = um.select(F.col("ym").alias("mym"), "user_id").distinct().groupBy(
        "mym"
    ).agg(bcount("mau", "user_id"))
    monthly = (
        dau.join(F.broadcast(mau), F.col("mym") == F.col("ym"))
        .groupBy("ym")
        .agg(
            bcount("n_days"),
            (
                F.sum(F.col("dau").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_dau"),
            F.max("mau").alias("mau"),
        )
    )
    return monthly.select(
        F.col("ym").alias("month"),
        "n_days",
        F.round("avg_dau", 4).alias("avg_dau"),
        "mau",
        F.round(F.col("avg_dau") / F.col("mau") * 100.0, 4).alias(
            "stickiness_pct"
        ),
    ).orderBy("month")
