"""Analytics batch 65: two-way ANOVA with interaction (priority × year on
order value), Cohen's kappa agreement between two document-quality
heuristics, and the Page–Hinkley sequential drift detector on daily
revenue.

Two-way ANOVA works in exact integer cents with the sequential ordered-
fold for every cross-cell double sum (the q_levene_test discipline);
Page–Hinkley keeps its cumulative statistic in DECIMAL so the running max
and the detection day are exact.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .relations import DAILY_ORDER_REVENUE_SQL, daily_order_revenue


def _fold(term: Column, order_cols: list[str], alias: str) -> Column:
    """Sequential ordered fold of a per-row double term (cross-engine
    deterministic replacement for SUM over a small grid of doubles)."""
    arr = F.array_sort(
        F.collect_list(F.struct(*[F.col(c) for c in order_cols], term.alias("_t")))
    )
    return F.aggregate(
        F.transform(arr, lambda x: x["_t"]), F.lit(0.0), lambda a, x: a + x
    ).alias(alias)


@register(
    "q_two_way_anova",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS a,
             CAST(year(o_orderdate) AS BIGINT) AS b,
             CAST(round(o_totalprice * 100) AS BIGINT) AS vc
      FROM orders WHERE year(o_orderdate) BETWEEN 1995 AND 1997
    ),
    cell AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(vc AS DECIMAL(38,0))) AS DOUBLE) AS t,
             CAST(SUM(CAST(vc * vc AS DECIMAL(38,0))) AS DOUBLE) AS t2
      FROM base GROUP BY 1, 2
    ),
    am AS (SELECT a, CAST(SUM(CAST(CAST(t AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS DOUBLE) AS ta,
                  CAST(SUM(n) AS BIGINT) AS na FROM cell GROUP BY a),
    bm AS (SELECT b, CAST(SUM(CAST(CAST(t AS DECIMAL(38,0)) AS DECIMAL(38,0))) AS DOUBLE) AS tb,
                  CAST(SUM(n) AS BIGINT) AS nb FROM cell GROUP BY b),
    g AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(t AS DECIMAL(38,0))) AS DOUBLE) AS tg,
             list_reduce(list(t2 ORDER BY a, b), (x, y) -> x + y) AS sst2,
             list_reduce(list(t * t / n ORDER BY a, b), (x, y) -> x + y)
               AS ss_cell,
             CAST(COUNT(DISTINCT a) AS BIGINT) AS ka,
             CAST(COUNT(DISTINCT b) AS BIGINT) AS kb
      FROM cell
    ),
    ga AS (SELECT list_reduce(list(ta * ta / na ORDER BY a), (x, y) -> x + y)
                    AS ss_a FROM am),
    gb AS (SELECT list_reduce(list(tb * tb / nb ORDER BY b), (x, y) -> x + y)
                    AS ss_b FROM bm)
    SELECT g.n AS n_orders, g.ka AS k_priorities, g.kb AS k_years,
           round((ga.ss_a - g.tg * g.tg / g.n) / 1e4, 2) AS ss_priority,
           round((gb.ss_b - g.tg * g.tg / g.n) / 1e4, 2) AS ss_year,
           round((g.ss_cell - ga.ss_a - gb.ss_b + g.tg * g.tg / g.n) / 1e4, 2)
             AS ss_interaction,
           round((g.sst2 - g.ss_cell) / 1e4, 2) AS ss_error,
           round(((ga.ss_a - g.tg * g.tg / g.n) / (g.ka - 1))
                 / ((g.sst2 - g.ss_cell) / (g.n - g.ka * g.kb)), 6)
             AS f_priority,
           round(((gb.ss_b - g.tg * g.tg / g.n) / (g.kb - 1))
                 / ((g.sst2 - g.ss_cell) / (g.n - g.ka * g.kb)), 6) AS f_year
    FROM g, ga, gb
    """,
)
def q_two_way_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-way ANOVA with interaction on order value over priority × year
    (1995–97): SS_A, SS_B, SS_AB, SS_error from the classical
    sums-of-cell-totals identities, with F statistics for both main
    effects — the factorial extension of q_anova_value_by_type (one-way)
    and q_eta_squared_dow (effect size).

    Determinism: values are integer cents, so every cell total T and
    Σx² is an exact DECIMAL(38,0); the cross-cell combinations T²/n are
    the only doubles and they are combined with *sequential ordered
    folds* (list_reduce ORDER BY / array_sort+aggregate), never an n-ary
    float SUM. SS outputs are rescaled back to dollars².

    Scale: one groupBy(cell) pass with map-side combine; the fold runs on
    the ≤ |priorities|×|years| grid. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    base = o.filter(F.year("o_orderdate").between(1995, 1997)).select(
        F.col("o_orderpriority").alias("a"),
        F.year("o_orderdate").cast("bigint").alias("b"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("vc"),
    )
    cell = base.groupBy("a", "b").agg(
        bcount("n"),
        F.sum(F.col("vc").cast("decimal(38,0)")).cast("double").alias("t"),
        F.sum((F.col("vc") * F.col("vc")).cast("decimal(38,0)"))
        .cast("double")
        .alias("t2"),
    )
    # checkpointed once (r6): am/bm/g each re-derived the cell rollup
    # (3 orders scans in the plan); the ≤|priorities|×|years| grid
    # materializes once
    cell = cell.localCheckpoint(eager=True)
    am = cell.groupBy("a").agg(
        F.sum(F.col("t").cast("decimal(38,0)")).cast("double").alias("ta"),
        F.sum("n").cast("bigint").alias("na"),
    )
    bm = cell.groupBy("b").agg(
        F.sum(F.col("t").cast("decimal(38,0)")).cast("double").alias("tb"),
        F.sum("n").cast("bigint").alias("nb"),
    )
    g = cell.agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum(F.col("t").cast("decimal(38,0)")).cast("double").alias("tg"),
        _fold(F.col("t2"), ["a", "b"], "sst2"),
        _fold(F.col("t") * F.col("t") / F.col("n"), ["a", "b"], "ss_cell"),
        F.count_distinct("a").cast("bigint").alias("ka"),
        F.count_distinct("b").cast("bigint").alias("kb"),
    )
    ga = am.agg(_fold(F.col("ta") * F.col("ta") / F.col("na"), ["a"], "ss_a"))
    gb = bm.agg(_fold(F.col("tb") * F.col("tb") / F.col("nb"), ["b"], "ss_b"))
    s = g.crossJoin(ga).crossJoin(gb)
    cf = F.col("tg") * F.col("tg") / F.col("n")
    ssa = F.col("ss_a") - cf
    ssb = F.col("ss_b") - cf
    ssab = F.col("ss_cell") - F.col("ss_a") - F.col("ss_b") + cf
    sse = F.col("sst2") - F.col("ss_cell")
    dfe = F.col("n") - F.col("ka") * F.col("kb")
    return s.select(
        F.col("n").alias("n_orders"),
        F.col("ka").alias("k_priorities"),
        F.col("kb").alias("k_years"),
        F.round(ssa / 1e4, 2).alias("ss_priority"),
        F.round(ssb / 1e4, 2).alias("ss_year"),
        F.round(ssab / 1e4, 2).alias("ss_interaction"),
        F.round(sse / 1e4, 2).alias("ss_error"),
        F.round((ssa / (F.col("ka") - 1)) / (sse / dfe), 6).alias("f_priority"),
        F.round((ssb / (F.col("kb") - 1)) / (sse / dfe), 6).alias("f_year"),
    )


@register(
    "q_cohen_kappa_heuristics",
    oracle="""
    WITH pred AS (
      SELECT (length(text) >= 400) AS long_doc,
             (len(string_split(text, ' '))
              - len(list_distinct(string_split(text, ' ')))
              < len(string_split(text, ' ')) / 2) AS fresh_doc
      FROM documents
    ),
    cm AS (
      SELECT CAST(COUNT(*) FILTER (WHERE long_doc AND fresh_doc) AS BIGINT)
               AS a,
             CAST(COUNT(*) FILTER (WHERE long_doc AND NOT fresh_doc)
                  AS BIGINT) AS b,
             CAST(COUNT(*) FILTER (WHERE NOT long_doc AND fresh_doc)
                  AS BIGINT) AS c,
             CAST(COUNT(*) FILTER (WHERE NOT long_doc AND NOT fresh_doc)
                  AS BIGINT) AS d
      FROM pred
    )
    SELECT a, b, c, d,
           round(CAST(a + d AS DOUBLE) / (a + b + c + d), 6) AS p_observed,
           round((CAST(a + b AS DOUBLE) * (a + c)
                  + CAST(c + d AS DOUBLE) * (b + d))
                 / (CAST(a + b + c + d AS DOUBLE)
                    * (a + b + c + d)), 6) AS p_chance,
           round((CAST(a + d AS DOUBLE) / (a + b + c + d)
                  - (CAST(a + b AS DOUBLE) * (a + c)
                     + CAST(c + d AS DOUBLE) * (b + d))
                    / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)))
                 / (1.0 - (CAST(a + b AS DOUBLE) * (a + c)
                           + CAST(c + d AS DOUBLE) * (b + d))
                          / (CAST(a + b + c + d AS DOUBLE)
                             * (a + b + c + d))), 6) AS cohen_kappa
    FROM cm
    """,
)
def q_cohen_kappa_heuristics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent document-quality heuristics —
    "long document" (≥400 chars) and "fresh document" (repeated tokens are
    less than half of all tokens): κ = (p_o − p_e)/(1 − p_e) from the 2×2
    agreement matrix — the chance-corrected rater-agreement statistic that
    tells a curation pipeline whether two cheap filters are redundant
    (κ→1), independent (κ→0), or contradictory (κ<0); pairs with
    q_mcnemar (which asks if their *marginal* rates differ).

    Determinism: both predicates are exact integer comparisons (lengths,
    distinct-token counts); κ is fixed-shape double algebra on 4 integers.

    Scale: one narrow map over documents into a 4-cell map-side-combined
    aggregate. §2.B text surface [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pred = docs.select(
        (F.length("text") >= 400).alias("long_doc"),
        (
            F.size(toks) - F.size(F.array_distinct(toks)) < F.size(toks) / 2
        ).alias("fresh_doc"),
    )
    cm = pred.agg(
        F.count_if(F.col("long_doc") & F.col("fresh_doc")).cast("bigint").alias("a"),
        F.count_if(F.col("long_doc") & ~F.col("fresh_doc")).cast("bigint").alias("b"),
        F.count_if(~F.col("long_doc") & F.col("fresh_doc")).cast("bigint").alias("c"),
        F.count_if(~F.col("long_doc") & ~F.col("fresh_doc")).cast("bigint").alias("d"),
    )
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    po = (F.col("a") + F.col("d")).cast("double") / n
    pe = (
        (F.col("a") + F.col("b")).cast("double") * (F.col("a") + F.col("c"))
        + (F.col("c") + F.col("d")).cast("double") * (F.col("b") + F.col("d"))
    ) / (n * (F.col("a") + F.col("b") + F.col("c") + F.col("d")))
    return cm.select(
        "a",
        "b",
        "c",
        "d",
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_chance"),
        F.round((po - pe) / (1.0 - pe), 6).alias("cohen_kappa"),
    )


@register(
    "q_page_hinkley",
    oracle=f"""
    WITH daily AS ({DAILY_ORDER_REVENUE_SQL}),
    idx AS (
      SELECT d, rev,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS t,
             CAST(SUM(CAST(rev AS DECIMAL(18,6))) OVER
                  (ORDER BY d ROWS UNBOUNDED PRECEDING) AS DECIMAL(28,6))
               AS cum
      FROM daily
    ),
    terms AS (
      SELECT d, t,
             CAST(rev - CAST(cum AS DOUBLE) / t AS DECIMAL(18,6)) AS term
      FROM idx
    ),
    mt AS (
      SELECT d, t,
             SUM(term) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS m_t
      FROM terms
    ),
    ph AS (
      SELECT d, t, m_t,
             MAX(m_t) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS m_max
      FROM mt
    ),
    sigma AS (
      SELECT sqrt(CAST(SUM(CAST(CAST(rev AS DOUBLE) * CAST(rev AS DOUBLE)
                        AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(SUM(CAST(rev AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*))) AS sd
      FROM daily
    ),
    alarm AS (
      SELECT p.d, p.t,
             CAST(p.m_max AS DOUBLE) - CAST(p.m_t AS DOUBLE) AS ph_stat,
             ROW_NUMBER() OVER (ORDER BY p.t) AS pick
      FROM ph p, sigma s
      WHERE CAST(p.m_max AS DOUBLE) - CAST(p.m_t AS DOUBLE) > 3.0 * s.sd
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST((SELECT COUNT(*) FROM alarm) AS BIGINT) AS n_alarm_days
      FROM daily
    )
    SELECT tot.n_days, tot.n_alarm_days,
           a.d AS first_alarm_day,
           CAST(a.t AS BIGINT) AS first_alarm_t,
           round(a.ph_stat, 2) AS ph_stat_at_alarm,
           round((SELECT sd FROM sigma), 2) AS sigma_daily
    FROM tot LEFT JOIN alarm a ON a.pick = 1
    """,
)
def q_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley sequential drift detector on daily revenue (decrease
    direction): mₜ = Σ_{s≤t}(x_s − x̄_s), alarm when max_{s≤t} m_s − mₜ
    exceeds 3σ of the daily series — the classic streaming change
    detector (the online sibling of q_cusum_changepoint / q_pettitt_test,
    which are offline retrospectives), reporting the first alarm day.

    Determinism: the running mean is exact-decimal cumsum / t; each PH
    term is decimal-cast before the cumulative sum, so mₜ and its running
    max are *exact decimals* and the >3σ crossing day is unambiguous (σ
    itself comes from exact moment sums).

    Scale: daily rollup map-side combines; the sequential scan is one
    calendar-bounded ordered window (a stateful streaming fold in
    production — state is (count, sum, running max)). §2.B streaming
    surface [NS].
    """
    daily = daily_order_revenue(spark, sf_dir)
    # checkpointed once (r6): the PH fold, sigma, and the alarm/total
    # legs each re-derived the fact rollup (6 orders scans in the plan);
    # the calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    wseq = Window.orderBy("d")
    wrun = wseq.rowsBetween(Window.unboundedPreceding, 0)
    idx = daily.select(
        "d",
        "rev",
        F.row_number().over(wseq).cast("bigint").alias("t"),
        # cumulative sum is 28,6, not the per-day 18,6: the series total
        # crossed 1e12 at sf5 and overflowed 18,6 (engine-sweep finding)
        F.sum(dec("rev")).over(wrun).cast("decimal(28,6)").alias("cum"),
    )
    terms = idx.select(
        "d",
        "t",
        (F.col("rev") - F.col("cum").cast("double") / F.col("t"))
        .cast("decimal(18,6)")
        .alias("term"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    ph = terms.select(
        "d",
        "t",
        F.sum("term").over(wt).alias("m_t"),
    ).select("d", "t", "m_t", F.max("m_t").over(wt).alias("m_max"))
    sigma = daily.agg(
        F.sqrt(
            F.sum(
                (F.col("rev").cast("double") * F.col("rev").cast("double")).cast(
                    "decimal(28,6)"
                )
            ).cast("double")
            / F.count(F.lit(1))
            - (F.sum(dec("rev")).cast("double") / F.count(F.lit(1)))
            * (F.sum(dec("rev")).cast("double") / F.count(F.lit(1)))
        ).alias("sd")
    )
    stat = F.col("m_max").cast("double") - F.col("m_t").cast("double")
    alarm = (
        ph.crossJoin(F.broadcast(sigma))
        .filter(stat > 3.0 * F.col("sd"))
        .select(
            "d",
            "t",
            stat.alias("ph_stat"),
            F.row_number().over(Window.orderBy("t")).alias("pick"),
        )
        .filter(F.col("pick") == 1)
    )
    tot = (
        daily.agg(bcount("n_days"))
        .crossJoin(
            F.broadcast(
                ph.crossJoin(F.broadcast(sigma))
                .filter(stat > 3.0 * F.col("sd"))
                .agg(bcount("n_alarm_days"))
            )
        )
        .crossJoin(F.broadcast(sigma))
    )
    return (
        tot.withColumn("jk", F.lit(1))
        .join(F.broadcast(alarm.withColumn("jk", F.lit(1))), "jk", "left")
        .select(
            "n_days",
            "n_alarm_days",
            F.col("d").alias("first_alarm_day"),
            F.col("t").cast("bigint").alias("first_alarm_t"),
            F.round("ph_stat", 2).alias("ph_stat_at_alarm"),
            F.round("sd", 2).alias("sigma_daily"),
        )
    )
