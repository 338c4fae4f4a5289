"""Analytics batch 45: game-theoretic attribution (3-channel Shapley
values), weekly user growth accounting (new/retained/resurrected/churned),
two-way fixed-effects (within) regression, and revealed comparative
advantage (RCA) trade specialization.

Shapley runs on the 2³-coalition grid after one per-user flag aggregation
(exact conversion rates, literal 1/3–1/6 permutation weights in identical
double shape on both engines). Growth accounting is all-integer set
algebra between consecutive weekly cohorts. The within-regression demeans
through exact DECIMAL group means and routes the final cross-product sums
per-term through DECIMAL, so a 1000-way partial aggregation can't move the
slope.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_shapley_attribution",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY 1
    ),
    coal AS (
      SELECT c, v, s,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(conv) AS BIGINT) AS n_conv
      FROM per_user GROUP BY 1, 2, 3
    ),
    g AS (
      SELECT
        COALESCE(MAX(CASE WHEN c=0 AND v=0 AND s=0 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v000,
        COALESCE(MAX(CASE WHEN c=1 AND v=0 AND s=0 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v100,
        COALESCE(MAX(CASE WHEN c=0 AND v=1 AND s=0 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v010,
        COALESCE(MAX(CASE WHEN c=0 AND v=0 AND s=1 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v001,
        COALESCE(MAX(CASE WHEN c=1 AND v=1 AND s=0 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v110,
        COALESCE(MAX(CASE WHEN c=1 AND v=0 AND s=1 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v101,
        COALESCE(MAX(CASE WHEN c=0 AND v=1 AND s=1 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v011,
        COALESCE(MAX(CASE WHEN c=1 AND v=1 AND s=1 THEN CAST(n_conv AS DOUBLE)/n END), 0.0) AS v111,
        CAST(SUM(n) AS BIGINT) AS n_users
      FROM coal
    )
    SELECT n_users,
           round(v111 - v000, 6) AS total_lift,
           round((v100 - v000) / 3 + ((v110 - v010) + (v101 - v001)) / 6
                 + (v111 - v011) / 3, 6) AS shapley_click,
           round((v010 - v000) / 3 + ((v110 - v100) + (v011 - v001)) / 6
                 + (v111 - v101) / 3, 6) AS shapley_view,
           round((v001 - v000) / 3 + ((v101 - v100) + (v011 - v010)) / 6
                 + (v111 - v110) / 3, 6) AS shapley_signup
    FROM g
    """,
)
def q_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shapley-value channel attribution over the three touch channels
    (click, view, signup): coalition value v(S) = conversion rate of users
    exposed to exactly S; each channel's Shapley value averages its
    marginal contribution over all entry orders (weights 1/3, 1/6, 1/3) —
    the game-theoretically fair split that last/linear-touch heuristics
    approximate (companions: q_last_touch_attribution,
    q_linear_attribution).

    One per-user flag aggregation → the 8-row coalition grid → fixed-shape
    double algebra; missing coalitions contribute v = 0 explicitly.

    Scale: everything after the map-side-combined user groupBy is constant
    work; 2^k coalitions caps k at a handful of channels, which is the
    known Shapley limit (sampling approximations beyond). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("c"),
        F.max(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("v"),
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("s"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        ),
    )
    coal = per_user.groupBy("c", "v", "s").agg(
        bcount("n"), F.sum("conv").cast("bigint").alias("n_conv")
    )
    rate = F.col("n_conv").cast("double") / F.col("n")

    def vv(c, v, s, name):
        return F.coalesce(
            F.max(
                F.when(
                    (F.col("c") == c) & (F.col("v") == v) & (F.col("s") == s),
                    rate,
                )
            ),
            F.lit(0.0),
        ).alias(name)

    g = coal.agg(
        vv(0, 0, 0, "v000"),
        vv(1, 0, 0, "v100"),
        vv(0, 1, 0, "v010"),
        vv(0, 0, 1, "v001"),
        vv(1, 1, 0, "v110"),
        vv(1, 0, 1, "v101"),
        vv(0, 1, 1, "v011"),
        vv(1, 1, 1, "v111"),
        F.sum("n").cast("bigint").alias("n_users"),
    )
    c = {k: F.col(k) for k in
         ("v000", "v100", "v010", "v001", "v110", "v101", "v011", "v111")}
    return g.select(
        "n_users",
        F.round(c["v111"] - c["v000"], 6).alias("total_lift"),
        F.round(
            (c["v100"] - c["v000"]) / 3
            + ((c["v110"] - c["v010"]) + (c["v101"] - c["v001"])) / 6
            + (c["v111"] - c["v011"]) / 3,
            6,
        ).alias("shapley_click"),
        F.round(
            (c["v010"] - c["v000"]) / 3
            + ((c["v110"] - c["v100"]) + (c["v011"] - c["v001"])) / 6
            + (c["v111"] - c["v101"]) / 3,
            6,
        ).alias("shapley_view"),
        F.round(
            (c["v001"] - c["v000"]) / 3
            + ((c["v101"] - c["v100"]) + (c["v011"] - c["v010"])) / 6
            + (c["v111"] - c["v110"]) / 3,
            6,
        ).alias("shapley_signup"),
    )


@register(
    "q_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    firstw AS (
      SELECT user_id, MIN(wk) AS first_wk FROM uw GROUP BY 1
    ),
    lab AS (
      SELECT uw.user_id, uw.wk,
             CASE WHEN uw.wk = f.first_wk THEN 1 ELSE 0 END AS is_new,
             CASE WHEN prev.user_id IS NOT NULL THEN 1 ELSE 0 END AS was_last_wk
      FROM uw
      JOIN firstw f ON f.user_id = uw.user_id
      LEFT JOIN uw prev ON prev.user_id = uw.user_id
                       AND prev.wk = uw.wk - INTERVAL 7 DAY
    ),
    act AS (
      SELECT wk,
             CAST(COUNT(*) AS BIGINT) AS n_active,
             CAST(COUNT(*) FILTER (WHERE is_new = 1) AS BIGINT) AS n_new,
             CAST(COUNT(*) FILTER (WHERE is_new = 0 AND was_last_wk = 1)
                  AS BIGINT) AS n_retained,
             CAST(COUNT(*) FILTER (WHERE is_new = 0 AND was_last_wk = 0)
                  AS BIGINT) AS n_resurrected
      FROM lab GROUP BY 1
    ),
    churn AS (
      SELECT a.wk + INTERVAL 7 DAY AS wk,
             CAST(COUNT(*) AS BIGINT) AS n_churned
      FROM uw a
      LEFT JOIN uw nxt ON nxt.user_id = a.user_id
                      AND nxt.wk = a.wk + INTERVAL 7 DAY
      WHERE nxt.user_id IS NULL
      GROUP BY 1
    )
    SELECT CAST(act.wk AS TIMESTAMP) AS week,
           n_active, n_new, n_retained, n_resurrected,
           CAST(COALESCE(churn.n_churned, 0) AS BIGINT) AS n_churned_prev,
           CASE WHEN COALESCE(churn.n_churned, 0) = 0 THEN NULL
                ELSE round(CAST(n_new + n_resurrected AS DOUBLE)
                           / CAST(churn.n_churned AS DOUBLE), 4) END
             AS quick_ratio
    FROM act LEFT JOIN churn ON churn.wk = act.wk
    """,
)
def q_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly user growth accounting (the Social-Capital framework): each
    active week's users split into new (first week ever), retained (also
    active the prior week), resurrected (returning after a gap); churned =
    prior-week users who didn't return, attributed to the current week; the
    quick ratio (new+resurrected)/churned summarizes growth health.

    All-integer set algebra between consecutive weekly cohorts — the
    classification joins are user-co-partitioned lookups of the same
    distinct (user, week) table against itself shifted by one week.

    Scale: the (user, week) dedup is the only data-sized shuffle; every
    subsequent join clusters on user_id with no re-exchange. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct()
    # checkpointed once (r6): firstw, prev, lab, and both churn join
    # sides each re-derived the distinct user-week rollup from the fact
    # (5 events scans in the plan); the user×week grid materializes once
    uw = uw.localCheckpoint(eager=True)
    firstw = uw.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    prev = uw.select(
        "user_id", (F.col("wk") + F.expr("INTERVAL 7 DAY")).alias("wk"),
        F.lit(1).alias("was_last_wk"),
    )
    lab = (
        uw.join(firstw, "user_id")
        .join(prev, ["user_id", "wk"], "left")
        .select(
            "wk",
            F.when(F.col("wk") == F.col("first_wk"), 1).otherwise(0).alias(
                "is_new"
            ),
            F.coalesce(F.col("was_last_wk"), F.lit(0)).alias("was_last_wk"),
        )
    )
    act = lab.groupBy("wk").agg(
        bcount("n_active"),
        F.count_if(F.col("is_new") == 1).cast("bigint").alias("n_new"),
        F.count_if((F.col("is_new") == 0) & (F.col("was_last_wk") == 1))
        .cast("bigint")
        .alias("n_retained"),
        F.count_if((F.col("is_new") == 0) & (F.col("was_last_wk") == 0))
        .cast("bigint")
        .alias("n_resurrected"),
    )
    nxt = uw.select(
        "user_id", F.col("wk").alias("nwk"), F.lit(1).alias("present")
    )
    churn = (
        uw.join(
            nxt,
            (uw.user_id == nxt.user_id)
            & (nxt.nwk == uw.wk + F.expr("INTERVAL 7 DAY")),
            "left",
        )
        .filter(F.col("present").isNull())
        .groupBy((uw.wk + F.expr("INTERVAL 7 DAY")).alias("wk"))
        .agg(bcount("n_churned"))
    )
    return (
        act.join(churn, "wk", "left")
        .select(
            F.col("wk").cast("timestamp").alias("week"),
            "n_active",
            "n_new",
            "n_retained",
            "n_resurrected",
            F.coalesce(F.col("n_churned"), F.lit(0))
            .cast("bigint")
            .alias("n_churned_prev"),
            F.when(
                F.coalesce(F.col("n_churned"), F.lit(0)) == 0, F.lit(None)
            )
            .otherwise(
                F.round(
                    (F.col("n_new") + F.col("n_resurrected")).cast("double")
                    / F.col("n_churned").cast("double"),
                    4,
                )
            )
            .alias("quick_ratio"),
        )
    )


@register(
    "q_fixed_effects_ols",
    oracle="""
    WITH base AS (
      SELECT l.l_discount AS x, l.l_extendedprice / l.l_quantity AS y,
             p.p_brand AS brand, date_trunc('month', l.l_shipdate) AS mth
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    gb AS (
      SELECT brand,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS my
      FROM base GROUP BY 1
    ),
    gm AS (
      SELECT mth,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS my
      FROM base GROUP BY 1
    ),
    gg AS (
      SELECT CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS mx,
             CAST(SUM(CAST(y AS DECIMAL(18,9))) AS DOUBLE) / COUNT(*) AS my,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM base
    ),
    dm AS (
      SELECT b.x - gb.mx - gm.mx + gg.mx AS xt,
             b.y - gb.my - gm.my + gg.my AS yt,
             gg.n
      FROM base b
      JOIN gb ON gb.brand = b.brand
      JOIN gm ON gm.mth = b.mth
      CROSS JOIN gg
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gb) AS n_brands,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM gm) AS n_months,
           round(CAST(SUM(CAST(xt * yt AS DECIMAL(24,12))) AS DOUBLE)
                 / CAST(SUM(CAST(xt * xt AS DECIMAL(24,12))) AS DOUBLE), 6)
             AS within_slope
    FROM dm
    """,
)
def q_fixed_effects_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way fixed-effects (within) regression: unit price on discount,
    absorbing part-brand and ship-month effects by the classic two-way
    demeaning ỹ = y − ȳ_brand − ȳ_month + ȳ — does deeper discounting
    associate with lower realized unit prices *within* brand and month,
    stripping brand mix and seasonality (the panel-econometrics upgrade of
    q_ols_daily_trend).

    Group means come from exact DECIMAL sums; demeaned cross-products are
    fixed-shape doubles cast per-term to DECIMAL(24,12) before the final
    sums, so the slope is partial-agg-order-proof.

    Scale: one fact scan + broadcast of the two small mean tables (brands,
    months) + 1-row grand mean; two aggregation passes total. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    base = li.join(part, li.l_partkey == part.p_partkey).select(
        F.col("l_discount").alias("x"),
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("y"),
        F.col("p_brand").alias("brand"),
        F.date_trunc("month", "l_shipdate").alias("mth"),
    )

    # r6: the brand / month / grand means used to be three separate
    # aggregations, and nb/nm re-derived two of them — six fact scans for
    # one regression. One GROUPING SETS pass computes all three grids
    # with the identical per-group decimal sums (exact integer-scaled
    # addition is order- and grouping-independent), and the ≤(|brands| +
    # |months| + 1)-row result is checkpointed so every later reference
    # reads materialized rows: 6 fact scans → 2 (means pass + demeaned
    # pass — the minimum without changing the float shape the oracle
    # pins).
    g = (
        base.groupingSets([["brand"], ["mth"], []], "brand", "mth")
        .agg(
            (F.sum(dec("x", "decimal(18,9)")).cast("double") / F.count(F.lit(1))).alias("mx"),
            (F.sum(dec("y", "decimal(18,9)")).cast("double") / F.count(F.lit(1))).alias("my"),
            bcount("n"),
            F.grouping_id().alias("gid"),
        )
        .localCheckpoint(eager=True)
    )
    gb = g.filter(F.col("gid") == 1).select(
        "brand", F.col("mx").alias("bx"), F.col("my").alias("by")
    )
    gm = g.filter(F.col("gid") == 2).select(
        "mth", F.col("mx").alias("tx"), F.col("my").alias("ty")
    )
    gg = g.filter(F.col("gid") == 3).select(
        F.col("mx").alias("gx"), F.col("my").alias("gy"), "n"
    )
    dm = (
        base.join(F.broadcast(gb), "brand")
        .join(F.broadcast(gm), "mth")
        .crossJoin(F.broadcast(gg))
        .select(
            (F.col("x") - F.col("bx") - F.col("tx") + F.col("gx")).alias("xt"),
            (F.col("y") - F.col("by") - F.col("ty") + F.col("gy")).alias("yt"),
            "n",
        )
    )
    nb = gb.agg(bcount("n_brands"))
    nm = gm.agg(bcount("n_months"))
    return (
        dm.agg(
            F.max("n").cast("bigint").alias("n"),
            F.round(
                F.sum((F.col("xt") * F.col("yt")).cast("decimal(24,12)")).cast(
                    "double"
                )
                / F.sum((F.col("xt") * F.col("xt")).cast("decimal(24,12)")).cast(
                    "double"
                ),
                6,
            ).alias("within_slope"),
        )
        .crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nm))
        .select("n", "n_brands", "n_months", "within_slope")
    )


@register(
    "q_rca_trade_index",
    oracle="""
    WITH flows AS (
      SELECT s.s_nationkey AS nation, p.p_type AS ptype,
             SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS x
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN part p ON p.p_partkey = l.l_partkey
      GROUP BY 1, 2
    ),
    nat AS (SELECT nation, SUM(x) AS xn FROM flows GROUP BY 1),
    typ AS (SELECT ptype, SUM(x) AS xt FROM flows GROUP BY 1),
    w AS (SELECT SUM(x) AS xw FROM flows)
    SELECT CAST(f.nation AS BIGINT) AS nation, f.ptype,
           CAST(f.x AS DOUBLE) AS export_value,
           round((CAST(f.x AS DOUBLE) / CAST(nat.xn AS DOUBLE))
                 / (CAST(typ.xt AS DOUBLE) / CAST(w.xw AS DOUBLE)), 4)
             AS rca
    FROM flows f
    JOIN nat ON nat.nation = f.nation
    JOIN typ ON typ.ptype = f.ptype
    CROSS JOIN w
    """,
)
def q_rca_trade_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revealed comparative advantage (Balassa) index per (supplier nation,
    part type): a nation's share of its own exports in a product relative
    to the world share — RCA > 1 flags specialization, the
    international-trade analytics classic on the TPC-H star.

    Export flows are exact DECIMAL sums; the marginals reuse them; RCA is a
    fixed-shape double ratio-of-ratios.

    Scale: one fact aggregation to the |nations|×|types| grid; marginals
    and the world total derive from that grid, not a rescan. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    supp = load(spark, sf_dir, "supplier")
    part = load(spark, sf_dir, "part")
    flows = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("s_nationkey").alias("nation"), F.col("p_type").alias("ptype")
        )
        .agg(F.sum(dec("l_extendedprice")).alias("x"))
    ).localCheckpoint(eager=True)
    nat = flows.groupBy("nation").agg(F.sum("x").alias("xn"))
    typ = flows.groupBy("ptype").agg(F.sum("x").alias("xt"))
    w = flows.agg(F.sum("x").alias("xw"))
    return (
        flows.join(F.broadcast(nat), "nation")
        .join(F.broadcast(typ), "ptype")
        .crossJoin(F.broadcast(w))
        .select(
            F.col("nation").cast("bigint").alias("nation"),
            "ptype",
            F.col("x").cast("double").alias("export_value"),
            F.round(
                (F.col("x").cast("double") / F.col("xn").cast("double"))
                / (F.col("xt").cast("double") / F.col("xw").cast("double")),
                4,
            ).alias("rca"),
        )
    )
