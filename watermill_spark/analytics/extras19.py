"""Analytics batch 27: statistical inference & financial time-series —
Welch's t-test, one-way ANOVA, maximum drawdown, Bollinger bands,
cross-correlation function (CCF), decile lift/gains table, and ABC
inventory classification.

Determinism stance (det.py rules): every data-sized reduction is an exact
DECIMAL or BIGINT moment sum (count, Σx, Σx², Σxy); the statistics
themselves (t, F, r, shares) are fixed double expressions evaluated on the
already-reduced grid (|types|, |days|, |hours|, 10 deciles), written with
identical expression shape in Spark and the DuckDB oracle so IEEE double
arithmetic produces bit-identical results.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .distrib import ntile_of, two_level_order
from .registry import load, register

_DECV = "CAST(value AS DECIMAL(18,6))"
_DECV2 = "CAST(value * value AS DECIMAL(18,6))"


def _moments():
    """Exact per-group moments of events.value: n, Σx, Σx² (decimal)."""
    return (
        F.count(F.lit(1)).alias("n"),
        F.sum(dec("value")).alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(18,6)")).alias("sx2"),
    )


@register(
    "q_welch_ttest",
    oracle=f"""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n, SUM({_DECV}) AS sx, SUM({_DECV2}) AS sx2
      FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1
    ),
    w AS (
      SELECT SUM(CASE WHEN event_type = 'click' THEN n END) AS n1,
             SUM(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
             SUM(CASE WHEN event_type = 'click' THEN CAST(sx AS DOUBLE) END) AS sx1,
             SUM(CASE WHEN event_type = 'purchase' THEN CAST(sx AS DOUBLE) END) AS sx2_,
             SUM(CASE WHEN event_type = 'click' THEN CAST(sx2 AS DOUBLE) END) AS sq1,
             SUM(CASE WHEN event_type = 'purchase' THEN CAST(sx2 AS DOUBLE) END) AS sq2
      FROM g
    )
    SELECT CAST(n1 AS BIGINT) AS n_click,
           CAST(n2 AS BIGINT) AS n_purchase,
           round(sx1 / n1, 6) AS mean_click,
           round(sx2_ / n2, 6) AS mean_purchase,
           round((sx1 / n1 - sx2_ / n2)
                 / sqrt(((sq1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                        + ((sq2 - sx2_ * sx2_ / n2) / (n2 - 1)) / n2), 6) AS t_stat,
           round((((sq1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                  + ((sq2 - sx2_ * sx2_ / n2) / (n2 - 1)) / n2)
                 * (((sq1 - sx1 * sx1 / n1) / (n1 - 1)) / n1
                    + ((sq2 - sx2_ * sx2_ / n2) / (n2 - 1)) / n2)
                 / ((((sq1 - sx1 * sx1 / n1) / (n1 - 1)) / n1)
                    * (((sq1 - sx1 * sx1 / n1) / (n1 - 1)) / n1) / (n1 - 1)
                    + (((sq2 - sx2_ * sx2_ / n2) / (n2 - 1)) / n2)
                    * (((sq2 - sx2_ * sx2_ / n2) / (n2 - 1)) / n2) / (n2 - 1)), 4)
             AS welch_df
    FROM w
    """,
)
def q_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test: does mean `value` differ between
    click and purchase events? Returns t statistic and Welch–Satterthwaite
    degrees of freedom.

    One pass with partial aggregation collapses the fact table to two moment
    rows; t and df are pure double expressions on that 2-row grid, written
    with the same shape as the oracle so they match bit-for-bit.

    Scale: the only shuffle moves ≤|event_type| moment rows. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    g = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(*_moments())
    )
    t = F.col("event_type")
    w = g.agg(
        F.sum(F.when(t == "click", F.col("n"))).alias("n1"),
        F.sum(F.when(t == "purchase", F.col("n"))).alias("n2"),
        F.sum(F.when(t == "click", F.col("sx").cast("double"))).alias("sx1"),
        F.sum(F.when(t == "purchase", F.col("sx").cast("double"))).alias("sx2_"),
        F.sum(F.when(t == "click", F.col("sx2").cast("double"))).alias("sq1"),
        F.sum(F.when(t == "purchase", F.col("sx2").cast("double"))).alias("sq2"),
    )
    n1, n2 = F.col("n1"), F.col("n2")
    sx1, sx2_, sq1, sq2 = F.col("sx1"), F.col("sx2_"), F.col("sq1"), F.col("sq2")
    se1 = ((sq1 - sx1 * sx1 / n1) / (n1 - 1)) / n1  # var1/n1
    se2 = ((sq2 - sx2_ * sx2_ / n2) / (n2 - 1)) / n2
    return w.select(
        n1.cast("bigint").alias("n_click"),
        n2.cast("bigint").alias("n_purchase"),
        F.round(sx1 / n1, 6).alias("mean_click"),
        F.round(sx2_ / n2, 6).alias("mean_purchase"),
        F.round((sx1 / n1 - sx2_ / n2) / F.sqrt(se1 + se2), 6).alias("t_stat"),
        F.round(
            (se1 + se2) * (se1 + se2) / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)),
            4,
        ).alias("welch_df"),
    )


@register(
    "q_anova_value_by_type",
    oracle=f"""
    WITH g AS (
      SELECT event_type, COUNT(*) AS n, SUM({_DECV}) AS sx, SUM({_DECV2}) AS sx2
      FROM events GROUP BY 1
    ),
    w AS (
      SELECT COUNT(*) AS k,
             CAST(SUM(n) AS BIGINT) AS n_total,
             CAST(SUM(sx) AS DOUBLE) AS s_tot,
             CAST(SUM(sx2) AS DOUBLE) AS s2_tot,
             CAST(SUM(CAST(CAST(sx2 AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n
                           AS DECIMAL(18,6))) AS DOUBLE) AS ssw
      FROM g
    )
    SELECT CAST(k AS BIGINT) AS k_groups, n_total,
           round(ssw, 6) AS ss_within,
           round(s2_tot - s_tot * s_tot / n_total - ssw, 6) AS ss_between,
           round(((s2_tot - s_tot * s_tot / n_total - ssw) / (k - 1))
                 / (ssw / (n_total - k)), 6) AS f_stat
    FROM w
    """,
)
def q_anova_value_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA: F statistic for `value` across the five event types
    (SS_between / SS_within from exact per-group moments).

    Per-group SSW terms are doubles computed on the |types| grid, then
    re-cast to DECIMAL before the tiny cross-group sum so the 5-term
    addition order cannot perturb the result (det.py rule 1 applied at the
    grid level too).

    Scale: single moment-shuffle of ≤|event_type| rows. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(*_moments())
    sxd = F.col("sx").cast("double")
    ssw_term = (F.col("sx2").cast("double") - sxd * sxd / F.col("n")).cast(
        "decimal(18,6)"
    )
    w = g.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.sum("sx").cast("double").alias("s_tot"),
        F.sum("sx2").cast("double").alias("s2_tot"),
        F.sum(ssw_term).cast("double").alias("ssw"),
    )
    k, n, s, s2, ssw = (
        F.col("k"),
        F.col("n_total"),
        F.col("s_tot"),
        F.col("s2_tot"),
        F.col("ssw"),
    )
    ssb = s2 - s * s / n - ssw
    return w.select(
        k.cast("bigint").alias("k_groups"),
        n.alias("n_total"),
        F.round(ssw, 6).alias("ss_within"),
        F.round(ssb, 6).alias("ss_between"),
        F.round((ssb / (k - 1)) / (ssw / (n - k)), 6).alias("f_stat"),
    )


@register(
    "q_max_drawdown",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    ),
    s AS (
      SELECT day, SUM(rev) OVER (ORDER BY day) AS cum FROM d
    ),
    c AS (
      SELECT day, cum, MAX(cum) OVER (ORDER BY day) AS peak FROM s
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           round(CAST(cum AS DOUBLE), 4) AS cum_rev,
           round(CAST(peak AS DOUBLE), 4) AS peak_rev,
           round(CAST(peak - cum AS DOUBLE), 4) AS drawdown
    FROM c
    ORDER BY CAST(peak - cum AS DOUBLE) DESC, day
    LIMIT 10
    """,
)
def q_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown of the cumulative daily order-revenue curve: the ten
    days where cumulative revenue sits furthest below its running peak.

    Cumulative sum and running max stay in exact DECIMAL end-to-end; only
    the final reported values drop to DOUBLE, so the top-10 ordering (with
    `day` tiebreak) is engine-independent.

    Scale: one fact shuffle to the |days| grid; the two running windows are
    single-partition but over calendar days — bounded by time span, not
    data volume (a century ≈ 36k rows). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    )
    wd = Window.orderBy("day")
    c = d.select(
        "day", F.sum("rev").over(wd).alias("cum")
    ).withColumn("peak", F.max("cum").over(wd))
    dd = (F.col("peak") - F.col("cum")).cast("double")
    return (
        c.select(
            "day",
            F.round(F.col("cum").cast("double"), 4).alias("cum_rev"),
            F.round(F.col("peak").cast("double"), 4).alias("peak_rev"),
            F.round(dd, 4).alias("drawdown"),
            dd.alias("_ord"),
        )
        .orderBy(F.col("_ord").desc(), "day")
        .limit(10)
        .drop("_ord")
    )


@register(
    "q_bollinger_daily",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS rev
      FROM orders GROUP BY 1
    ),
    r AS (
      SELECT day, rev,
             COUNT(*) OVER w AS n7,
             CAST(SUM(CAST(rev AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s7,
             CAST(SUM(CAST(rev * rev AS DECIMAL(38,6))) OVER w AS DOUBLE) AS s27
      FROM d
      WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT CAST(day AS TIMESTAMP) AS day,
           round(rev, 4) AS rev,
           round(s7 / 7, 4) AS ma7,
           round(s7 / 7 + 2 * sqrt((s27 - s7 * s7 / 7) / 6), 4) AS upper_band,
           round(s7 / 7 - 2 * sqrt((s27 - s7 * s7 / 7) / 6), 4) AS lower_band,
           rev > s7 / 7 + 2 * sqrt((s27 - s7 * s7 / 7) / 6)
             OR rev < s7 / 7 - 2 * sqrt((s27 - s7 * s7 / 7) / 6) AS breakout
    FROM r WHERE n7 = 7
    """,
)
def q_bollinger_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands on daily order revenue: 7-day trailing mean ± 2
    sample standard deviations, with a breakout flag for days outside the
    band.

    Rolling moments use the exact-decimal trick *inside the frame* (sums of
    DECIMAL(38,6) — day totals can be ~1e7, their squares ~1e14, so the
    wide type; plain (18,6) would overflow). Mean/σ/bands are double math
    on each frame's two moments.

    Scale: fact shuffle to |days|, then one bounded single-partition
    windowed pass (calendar-bounded, as in q_max_drawdown). §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).cast("double").alias("rev")
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    r = d.select(
        "day",
        "rev",
        F.count(F.lit(1)).over(w).alias("n7"),
        F.sum(F.col("rev").cast("decimal(38,6)")).over(w).cast("double").alias("s7"),
        F.sum((F.col("rev") * F.col("rev")).cast("decimal(38,6)"))
        .over(w)
        .cast("double")
        .alias("s27"),
    )
    s7, s27 = F.col("s7"), F.col("s27")
    ma = s7 / 7
    sd = F.sqrt((s27 - s7 * s7 / 7) / 6)
    return r.filter(F.col("n7") == 7).select(
        "day",
        F.round("rev", 4).alias("rev"),
        F.round(ma, 4).alias("ma7"),
        F.round(ma + 2 * sd, 4).alias("upper_band"),
        F.round(ma - 2 * sd, 4).alias("lower_band"),
        ((F.col("rev") > ma + 2 * sd) | (F.col("rev") < ma - 2 * sd)).alias(
            "breakout"
        ),
    )


@register(
    "q_ccf_click_purchase",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS hour,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS x,
             CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    l AS (
      SELECT hour, x, y,
             lead(y, 1) OVER (ORDER BY hour) AS y1,
             lead(y, 2) OVER (ORDER BY hour) AS y2,
             lead(y, 3) OVER (ORDER BY hour) AS y3
      FROM h
    ),
    u AS (
      SELECT CAST(0 AS BIGINT) AS lag, x, y AS yv FROM l
      UNION ALL SELECT 1, x, y1 FROM l WHERE y1 IS NOT NULL
      UNION ALL SELECT 2, x, y2 FROM l WHERE y2 IS NOT NULL
      UNION ALL SELECT 3, x, y3 FROM l WHERE y3 IS NOT NULL
    ),
    m AS (
      SELECT lag, COUNT(*) AS n, SUM(x) AS sx, SUM(yv) AS sy,
             SUM(x * yv) AS sxy, SUM(x * x) AS sx2, SUM(yv * yv) AS sy2
      FROM u GROUP BY 1
    )
    SELECT lag, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n AS DOUBLE) * sx2 - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n AS DOUBLE) * sy2 - CAST(sy AS DOUBLE) * sy)), 6)
             AS ccf
    FROM m
    """,
)
def q_ccf_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function: Pearson correlation between the hourly
    click count and the purchase count 0–3 hours later (does click volume
    lead purchases?).

    Counts are integers, so every moment (Σx, Σy, Σxy, Σx², Σy²) is exact
    BIGINT arithmetic; only the final correlation ratio is double. The lag
    shift is one window pass producing lead-1/2/3 columns, unpivoted to a
    (lag, x, y) long form — no per-lag self-joins.

    Scale: fact → |hours| grid shuffle with partial agg; the lead window is
    single-partition over calendar hours (time-bounded). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(F.date_trunc("hour", "ts").alias("hour")).agg(
        F.count(F.when(F.col("event_type") == "click", 1))
        .cast("bigint")
        .alias("x"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("bigint")
        .alias("y"),
    )
    wh = Window.orderBy("hour")
    led = h.select(
        "x",
        "y",
        F.lead("y", 1).over(wh).alias("y1"),
        F.lead("y", 2).over(wh).alias("y2"),
        F.lead("y", 3).over(wh).alias("y3"),
    )
    u = led.selectExpr(
        "stack(4, CAST(0 AS BIGINT), y, CAST(1 AS BIGINT), y1,"
        " CAST(2 AS BIGINT), y2, CAST(3 AS BIGINT), y3) AS (lag, yv)",
        "x",
    ).filter(F.col("yv").isNotNull())
    m = u.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("yv").alias("sy"),
        F.sum(F.col("x") * F.col("yv")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum(F.col("yv") * F.col("yv")).alias("sy2"),
    )
    nd = F.col("n").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    return m.select(
        "lag",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            (nd * F.col("sxy") - sxd * F.col("sy"))
            / F.sqrt(
                (nd * F.col("sx2") - sxd * F.col("sx"))
                * (nd * F.col("sy2") - syd * F.col("sy"))
            ),
            6,
        ).alias("ccf"),
    )


@register(
    "q_decile_lift",
    oracle="""
    WITH c AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS spend
      FROM orders GROUP BY 1
    ),
    d AS (
      SELECT o_custkey, spend,
             ntile(10) OVER (ORDER BY spend DESC, o_custkey) AS decile
      FROM c
    ),
    g AS (
      SELECT decile, COUNT(*) AS n_customers, SUM(spend) AS rev
      FROM d GROUP BY 1
    ),
    t AS (
      SELECT decile, n_customers, rev,
             SUM(rev) OVER (ORDER BY decile) AS cum_rev,
             SUM(rev) OVER () AS tot_rev
      FROM g
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(n_customers AS BIGINT) AS n_customers,
           round(CAST(rev AS DOUBLE), 4) AS revenue,
           round(CAST(rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6) AS rev_share,
           round(CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE), 6)
             AS cum_rev_share
    FROM t
    """,
)
def q_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gains table: customers ranked into spend deciles (decile 1 = top
    spenders), with each decile's revenue share and the cumulative share —
    the lift curve behind "the top 10% drive X% of revenue".

    ntile over (exact-decimal spend DESC, custkey) is fully ordered, so
    bucket assignment is identical across engines; shares are double
    divisions of exact decimal sums.

    Scale: customer rollup shuffles the fact once; the ntile window is a
    single-partition sort over |customers| — the one genuinely global sort
    here. At 100 TB swap ntile for a two-pass approx-quantile bucketing
    (percentile boundaries from approxQuantile, then a map-side bucket
    join); pinned by the decile-boundary tests either way. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(F.sum(dec("o_totalprice")).alias("spend"))
    # r7 (guide §2.5): ntile is now a pure expression of the distributed
    # exact rank and n (distrib.two_level_order + ntile_of — identical
    # bucket boundaries), so the |customers| grid never sorts in one
    # task; the cumulative window below runs on the bounded 10-row grid.
    d = two_level_order(
        c,
        [F.col("spend").desc(), "o_custkey"],
        rank_col="_rk",
        total_count="_n",
        project=["spend"],
    ).select("spend", ntile_of(F.col("_rk"), F.col("_n"), 10).alias("decile"))
    g = d.groupBy("decile").agg(
        bcount("n_customers"), F.sum("spend").alias("rev")
    )
    t = g.select(
        "*",
        F.sum("rev").over(Window.orderBy("decile")).alias("cum_rev"),
        F.sum("rev").over(Window.partitionBy(F.lit(1))).alias("tot_rev"),
    )
    revd = F.col("rev").cast("double")
    totd = F.col("tot_rev").cast("double")
    return t.select(
        F.col("decile").cast("bigint").alias("decile"),
        "n_customers",
        F.round(revd, 4).alias("revenue"),
        F.round(revd / totd, 6).alias("rev_share"),
        F.round(F.col("cum_rev").cast("double") / totd, 6).alias("cum_rev_share"),
    )


@register(
    "q_abc_parts",
    oracle="""
    WITH p AS (
      SELECT l_partkey,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))
                 * (1 - CAST(l_discount AS DECIMAL(8,6)))) AS rev
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT l_partkey, rev,
             SUM(rev) OVER (ORDER BY rev DESC, l_partkey) AS cum_rev,
             SUM(rev) OVER () AS tot_rev
      FROM p
    ),
    k AS (
      SELECT CASE WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.80
                  THEN 'A'
                  WHEN CAST(cum_rev AS DOUBLE) / CAST(tot_rev AS DOUBLE) <= 0.95
                  THEN 'B' ELSE 'C' END AS abc_class,
             rev
      FROM r
    )
    SELECT abc_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(rev) AS DOUBLE), 4) AS revenue
    FROM k GROUP BY 1
    """,
)
def q_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC inventory classification: parts sorted by discounted revenue;
    class A = parts covering the first 80% of cumulative revenue, B = next
    15%, C = tail. Reports part count and revenue per class.

    The cumulative share uses exact decimal running sums over a total order
    (rev DESC, partkey), so the A/B boundary lands on the same part in both
    engines; the 0.80/0.95 comparisons are double divisions of identical
    decimals.

    Scale (r6 pass 13f): the part grid is data-scaled (|parts| grows
    with the corpus), so the old single-partition running-sum window —
    every part through ONE task — is now the two-level exact prefix sum
    (the q_monetary_unit_sampling pattern): range-repartition the grid
    by the Pareto order (parallel sorts), per-partition DECIMAL sums
    become cumulative offsets, each row adds its partition offset to its
    within-partition prefix. The (rev, partkey) order key is unique, so
    the old RANGE-frame cumsum ≡ ROWS cumsum, and decimal addition is
    associative, so every cum_rev is the identical exact decimal —
    operands are cast to DECIMAL(30,12) first so the addition stays
    inside precision 38 losslessly (corpus discounted revenue < 10¹⁸ at
    any conceivable scale; values are exact at scale 12 either way).
    §2.B [NS], guide §2.5.
    """
    li = load(spark, sf_dir, "lineitem")
    p = li.groupBy("l_partkey").agg(
        F.sum(
            dec("l_extendedprice") * (F.lit(1) - dec("l_discount", "decimal(8,6)"))
        ).alias("rev")
    )
    # r7: the pass-13f two-level prefix scaffold moved to the shared
    # distrib.two_level_order helper (same range grid, same (30,12)
    # narrow-cast offsets — decimal addition associative, so every
    # cum_rev/tot_rev is the identical exact decimal).
    r = two_level_order(
        p,
        [F.col("rev").desc(), "l_partkey"],
        sums=[
            {
                "col": "rev",
                "acc": "decimal(38,12)",
                "running": "cum_rev",
                "total": "tot_rev",
            }
        ],
        project=["rev"],
    )
    share = F.col("cum_rev").cast("double") / F.col("tot_rev").cast("double")
    k = r.select(
        F.when(share <= 0.80, "A").when(share <= 0.95, "B").otherwise("C").alias(
            "abc_class"
        ),
        "rev",
    )
    return k.groupBy("abc_class").agg(
        bcount("n_parts"),
        F.round(F.sum("rev").cast("double"), 4).alias("revenue"),
    )
