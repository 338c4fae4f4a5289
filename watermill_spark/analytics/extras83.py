"""Analytics batch 91: tolerance-bounded as-of join (the finance
variant: stale matches rejected), the two-part / hurdle decomposition of
the arm effect into extensive and intensive margins, and shift-share
analysis of nation trade growth.

The tolerance as-of is semantically different from plain as-of
(q_events_asof_join): a most-recent match older than the tolerance is
NULL, not used — the difference between "last known price" and "last
known price, if fresh enough to trade on".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec, hexval, sql_hexval
from .registry import load, register

_TOL_S = 3600


@register(
    "q_asof_tolerance_join",
    oracle=f"""
    WITH purchases AS (
      SELECT user_id, ts, event_id FROM events
      WHERE event_type = 'purchase'
    ),
    matched AS (
      SELECT p.user_id, p.event_id,
             c.click_ts,
             CASE WHEN c.click_ts IS NOT NULL
                   AND date_diff('second', c.click_ts, p.ts) <= {_TOL_S}
                  THEN 1 ELSE 0 END AS fresh
      FROM purchases p
      LEFT JOIN LATERAL (
        SELECT e.ts AS click_ts FROM events e
        WHERE e.event_type = 'click' AND e.user_id = p.user_id
          AND e.ts <= p.ts
        ORDER BY e.ts DESC, e.event_id DESC LIMIT 1
      ) c ON TRUE
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(COUNT(click_ts) AS BIGINT) AS n_with_prior_click,
           CAST(SUM(fresh) AS BIGINT) AS n_fresh_within_1h,
           CAST(COUNT(click_ts) - SUM(fresh) AS BIGINT) AS n_stale_rejected,
           round(CAST(SUM(fresh) AS DOUBLE) / COUNT(*), 6)
             AS fresh_attach_rate
    FROM matched
    """,
)
def q_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tolerance-bounded as-of join: each purchase matched to the user's
    most recent prior click, but the match only *counts* if it is within
    1 hour — the finance-style as-of variant (a quote older than the
    tolerance is unusable) that plain q_events_asof_join cannot express;
    reports attach rates and how many most-recent matches were rejected
    as stale.

    Determinism: the as-of pick is the standard union+window scan with
    (ts, event_id) tiebreaks; freshness compares integer second gaps.

    Scale: the Spark side implements as-of as union + last_value window
    over user_id (one shuffle, no per-row subquery); the tolerance is a
    post-filter on the matched column — same plan as plain as-of. §2.B
    joins surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("ets"),
        F.col("event_id").alias("eid"),
        F.lit(1).alias("is_click"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("ets"),
        F.col("event_id").alias("eid"),
        F.lit(0).alias("is_click"),
    )
    unioned = clicks.unionByName(purchases)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ets", F.col("is_click").desc(), "eid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    scanned = unioned.select(
        "user_id",
        "ets",
        "is_click",
        F.last(F.when(F.col("is_click") == 1, F.col("ets")), ignorenulls=True)
        .over(w)
        .alias("click_ts"),
    )
    matched = scanned.filter(F.col("is_click") == 0).select(
        "click_ts",
        F.when(
            F.col("click_ts").isNotNull()
            & (
                F.unix_timestamp("ets") - F.unix_timestamp("click_ts")
                <= _TOL_S
            ),
            1,
        )
        .otherwise(0)
        .alias("fresh"),
    )
    return matched.agg(
        bcount("n_purchases"),
        F.count("click_ts").cast("bigint").alias("n_with_prior_click"),
        F.sum("fresh").cast("bigint").alias("n_fresh_within_1h"),
        (F.count("click_ts") - F.sum("fresh"))
        .cast("bigint")
        .alias("n_stale_rejected"),
        F.round(F.sum("fresh").cast("double") / F.count(F.lit(1)), 6).alias(
            "fresh_attach_rate"
        ),
    )


@register(
    "q_two_part_model",
    oracle=f"""
    WITH users AS (
      SELECT user_id,
             CASE WHEN {sql_hexval("substr(md5('tp1:' || CAST(user_id AS VARCHAR)), 1, 1)")}
               % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
             CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
               AS k,
             CAST(SUM(CAST(CASE WHEN event_type = 'purchase'
                           THEN value END AS DECIMAL(18,6))) AS DOUBLE)
               AS spend
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE k > 0) AS BIGINT) AS n_buyers,
             CAST(SUM(CAST(CASE WHEN k > 0 THEN spend END
                      AS DECIMAL(18,6))) AS DOUBLE) AS buyer_spend
      FROM users GROUP BY arm
    ),
    wide AS (
      SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
             MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
             MAX(CASE WHEN arm = 'A' THEN n_buyers END) AS b_a,
             MAX(CASE WHEN arm = 'B' THEN n_buyers END) AS b_b,
             MAX(CASE WHEN arm = 'A' THEN buyer_spend END) AS s_a,
             MAX(CASE WHEN arm = 'B' THEN buyer_spend END) AS s_b
      FROM s
    )
    SELECT n_a, n_b,
           round(CAST(b_b AS DOUBLE) / n_b - CAST(b_a AS DOUBLE) / n_a, 6)
             AS extensive_margin_diff,
           round(s_b / b_b - s_a / b_a, 6) AS intensive_margin_diff,
           round((s_b / n_b) - (s_a / n_a), 6) AS total_effect,
           round((CAST(b_b AS DOUBLE) / n_b - CAST(b_a AS DOUBLE) / n_a)
                 * (s_a / b_a), 6) AS effect_from_participation,
           round((s_b / b_b - s_a / b_a) * (CAST(b_b AS DOUBLE) / n_b), 6)
             AS effect_from_intensity
    FROM wide
    """,
)
def q_two_part_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-part (hurdle) decomposition of the arm effect on spend:
    extensive margin (buyer-rate difference) vs intensive margin
    (spend-per-buyer difference), with the total per-user effect split
    into participation × baseline-intensity and intensity ×
    new-participation components — the econometric answer to "did B make
    MORE people buy, or the same people buy MORE?", which the single
    averages in q_ab_conversion_lift / q_bonferroni_metrics conflate.

    Determinism: all pieces are exact integer counts and decimal sums;
    the decomposition is fixed-shape double algebra on the 2-arm grid.

    Scale: one user rollup → 2 arm rows → 1-row decomposition. §2.B
    experimentation surface [NS].
    """
    ev = load(spark, sf_dir, "events")
    arm = F.when(
        hexval(
            F.substring(F.md5(F.concat(F.lit("tp1:"), F.col("user_id").cast("string"))), 1, 1)
        )
        % 2
        == 0,
        "A",
    ).otherwise("B")
    users = ev.groupBy("user_id", arm.alias("arm")).agg(
        F.count_if(F.col("event_type") == "purchase").cast("bigint").alias("k"),
        F.sum(
            F.when(F.col("event_type") == "purchase", dec("value"))
        )
        .cast("double")
        .alias("spend"),
    )
    s = users.groupBy("arm").agg(
        bcount("n"),
        F.count_if(F.col("k") > 0).cast("bigint").alias("n_buyers"),
        F.sum(F.when(F.col("k") > 0, dec("spend")))
        .cast("double")
        .alias("buyer_spend"),
    )
    wide = s.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("arm") == "A", F.col("n_buyers"))).alias("b_a"),
        F.max(F.when(F.col("arm") == "B", F.col("n_buyers"))).alias("b_b"),
        F.max(F.when(F.col("arm") == "A", F.col("buyer_spend"))).alias("s_a"),
        F.max(F.when(F.col("arm") == "B", F.col("buyer_spend"))).alias("s_b"),
    )
    pr_a = F.col("b_a").cast("double") / F.col("n_a")
    pr_b = F.col("b_b").cast("double") / F.col("n_b")
    int_a = F.col("s_a") / F.col("b_a")
    int_b = F.col("s_b") / F.col("b_b")
    return wide.select(
        "n_a",
        "n_b",
        F.round(pr_b - pr_a, 6).alias("extensive_margin_diff"),
        F.round(int_b - int_a, 6).alias("intensive_margin_diff"),
        F.round(
            F.col("s_b") / F.col("n_b") - F.col("s_a") / F.col("n_a"), 6
        ).alias("total_effect"),
        F.round((pr_b - pr_a) * int_a, 6).alias("effect_from_participation"),
        F.round((int_b - int_a) * pr_b, 6).alias("effect_from_intensity"),
    )


@register(
    "q_shift_share",
    oracle="""
    WITH flows AS (
      SELECT s.s_nationkey AS nation, p.p_brand AS industry,
             CAST(year(o.o_orderdate) AS BIGINT) AS yr,
             CAST(l.l_extendedprice AS DECIMAL(18,6)) AS rev
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE year(o.o_orderdate) IN (1995, 1996)
    ),
    cell AS (
      SELECT nation, industry,
             CAST(SUM(CASE WHEN yr = 1995 THEN rev END) AS DOUBLE) AS v0,
             CAST(SUM(CASE WHEN yr = 1996 THEN rev END) AS DOUBLE) AS v1
      FROM flows GROUP BY 1, 2
      HAVING SUM(CASE WHEN yr = 1995 THEN rev END) IS NOT NULL
    ),
    nat AS (
      SELECT CAST(SUM(CAST(v0 AS DECIMAL(18,6))) AS DOUBLE) AS t0,
             CAST(SUM(CAST(COALESCE(v1, 0) AS DECIMAL(18,6))) AS DOUBLE)
               AS t1
      FROM cell
    ),
    ind AS (
      SELECT industry,
             CAST(SUM(CAST(v0 AS DECIMAL(18,6))) AS DOUBLE) AS i0,
             CAST(SUM(CAST(COALESCE(v1, 0) AS DECIMAL(18,6))) AS DOUBLE)
               AS i1
      FROM cell GROUP BY industry
    ),
    dec_t AS (
      SELECT c.nation,
             CAST(SUM(CAST(c.v0 * (n.t1 / n.t0 - 1.0)
                      AS DECIMAL(28,10))) AS DOUBLE) AS national_share,
             CAST(SUM(CAST(c.v0 * (i.i1 / i.i0 - n.t1 / n.t0)
                      AS DECIMAL(28,10))) AS DOUBLE) AS industry_mix,
             CAST(SUM(CAST(COALESCE(c.v1, 0) - c.v0
                           - c.v0 * (i.i1 / i.i0 - 1.0)
                      AS DECIMAL(28,10))) AS DOUBLE) AS competitiveness,
             CAST(SUM(CAST(COALESCE(c.v1, 0) - c.v0 AS DECIMAL(28,10)))
                  AS DOUBLE) AS actual_growth
      FROM cell c JOIN ind i USING (industry) CROSS JOIN nat n
      GROUP BY c.nation
    )
    SELECT CAST(nation AS BIGINT) AS nation,
           round(actual_growth, 2) AS actual_growth,
           round(national_share, 2) AS national_component,
           round(industry_mix, 2) AS mix_component,
           round(competitiveness, 2) AS competitiveness_component
    FROM dec_t
    ORDER BY nation
    """,
)
def q_shift_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-share decomposition of each supplier nation's 1995→1996
    revenue growth into national trend (what growing with the world
    implies), industry mix (growing/shrinking brand portfolio), and
    local competitiveness (the residual that is genuinely the nation's
    own) — regional economics' standard growth accounting, the
    cross-sectional sibling of q_revenue_bridge / q_mix_shift_
    decomposition.

    Determinism: cell revenues are exact decimal sums; every
    decomposition term is DECIMAL-cast per (nation, industry) cell
    before the nation rollup.

    Scale: one 4-table star rollup to |nations|×|brands| cells with
    broadcast margins; the decomposition is cell-local algebra. §2.B
    [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .filter(F.year("o_orderdate").isin(1995, 1996))
        .select(
            F.col("s_nationkey").alias("nation"),
            F.col("p_brand").alias("industry"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
            dec("l_extendedprice").alias("rev"),
        )
    )
    cell = (
        flows.groupBy("nation", "industry")
        .agg(
            F.sum(F.when(F.col("yr") == 1995, F.col("rev")))
            .cast("double")
            .alias("v0"),
            F.sum(F.when(F.col("yr") == 1996, F.col("rev")))
            .cast("double")
            .alias("v1"),
        )
        .filter(F.col("v0").isNotNull())
    )
    # checkpointed once (r6): nat/ind/j each re-derived the 4-table star
    # rollup (3 fact scans in the plan); the ≤|nations|×|brands| cell
    # grid materializes once
    cell = cell.localCheckpoint(eager=True)
    nat = cell.agg(
        F.sum(dec("v0")).cast("double").alias("t0"),
        F.sum(dec(F.coalesce(F.col("v1"), F.lit(0.0)))).cast("double").alias("t1"),
    )
    ind = cell.groupBy("industry").agg(
        F.sum(dec("v0")).cast("double").alias("i0"),
        F.sum(dec(F.coalesce(F.col("v1"), F.lit(0.0)))).cast("double").alias("i1"),
    )
    j = cell.join(F.broadcast(ind), "industry").crossJoin(F.broadcast(nat))
    g_nat = F.col("t1") / F.col("t0") - 1.0
    g_ind = F.col("i1") / F.col("i0")
    v1c = F.coalesce(F.col("v1"), F.lit(0.0))
    dec_t = j.groupBy("nation").agg(
        F.sum((F.col("v0") * g_nat).cast("decimal(28,10)"))
        .cast("double")
        .alias("national_share"),
        F.sum(
            (F.col("v0") * (g_ind - F.col("t1") / F.col("t0"))).cast(
                "decimal(28,10)"
            )
        )
        .cast("double")
        .alias("industry_mix"),
        F.sum(
            (v1c - F.col("v0") - F.col("v0") * (g_ind - 1.0)).cast(
                "decimal(28,10)"
            )
        )
        .cast("double")
        .alias("competitiveness"),
        F.sum((v1c - F.col("v0")).cast("decimal(28,10)"))
        .cast("double")
        .alias("actual_growth"),
    )
    return dec_t.select(
        F.col("nation").cast("bigint").alias("nation"),
        F.round("actual_growth", 2).alias("actual_growth"),
        F.round("national_share", 2).alias("national_component"),
        F.round("industry_mix", 2).alias("mix_component"),
        F.round("competitiveness", 2).alias("competitiveness_component"),
    ).orderBy("nation")
