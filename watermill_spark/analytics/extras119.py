"""Analytics batch 127: SLO error-budget burn rate, Bartlett's variance
test, and Mood's median test.

Multi-window burn-rate alerting is the SRE-workbook way to page on SLO
violations: compare the error rate over a short and a long window
against the budget implied by the SLO — page only when BOTH burn fast
(fast + confirmed). Bartlett's test completes the variance-homogeneity
pair with q_levene_test (Bartlett is the more powerful parametric form;
Levene is the robust one — real QA runs both). Mood's median test is
the k-sample test that only asks "above or below the grand median?" —
maximally robust to outliers and ties, the coarse sibling of
q_kruskal_wallis.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount
from .registry import load, register

_SLO = 0.75  # target non-error share (the corpus is ~20% 'error' events)
_BURN_FAST_H = 1
_BURN_SLOW_H = 6
_BURN_THRESH = 1.0  # page when burn > 1 in BOTH windows


@register(
    "q_slo_burn_rate",
    oracle=f"""
    WITH hourly AS MATERIALIZED (
      SELECT date_trunc('hour', ts) AS h,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS errs,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    windows AS (
      SELECT h,
             CAST(SUM(errs) OVER wf AS DOUBLE)
               / CAST(SUM(n) OVER wf AS DOUBLE) AS rate_fast,
             CAST(SUM(errs) OVER ws AS DOUBLE)
               / CAST(SUM(n) OVER ws AS DOUBLE) AS rate_slow
      FROM hourly
      WINDOW wf AS (ORDER BY h ROWS BETWEEN {_BURN_FAST_H - 1} PRECEDING
                    AND CURRENT ROW),
             ws AS (ORDER BY h ROWS BETWEEN {_BURN_SLOW_H - 1} PRECEDING
                    AND CURRENT ROW)
    ),
    burns AS (
      SELECT h,
             rate_fast / (1.0 - {_SLO}) AS burn_fast,
             rate_slow / (1.0 - {_SLO}) AS burn_slow
      FROM windows
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           round(MAX(burn_fast), 6) AS max_burn_fast,
           round(MAX(burn_slow), 6) AS max_burn_slow,
           CAST(SUM(CASE WHEN burn_fast > {_BURN_THRESH}
                          AND burn_slow > {_BURN_THRESH}
                         THEN 1 ELSE 0 END) AS BIGINT) AS alert_hours,
           round(CAST(SUM(CASE WHEN burn_fast > {_BURN_THRESH}
                                AND burn_slow > {_BURN_THRESH}
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS alert_share
    FROM burns
    """,
)
def q_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate audit: with a 75% non-error SLO (error
    budget 25%), burn = error_rate / budget over a 1-hour (fast) and
    6-hour (slow) trailing window; an hour ALERTS when both burns exceed
    1 — the SRE-workbook "fast burn confirmed by slow window" page rule
    that suppresses blips (fast-only) and stale pages (slow-only).
    Operational twin of q_ewma_control_chart / q_xmr_control_chart with
    budget semantics instead of σ-limits.

    Determinism: hourly counts are exact; trailing windows use explicit
    ROWS frames; rates divide in double.

    Scale: one hour rollup, two frames over ONE sorted pass of the
    bounded hour grid. In streaming this is the q_events_sliding_window
    shape with two widths. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("errs"),
        bcount("n"),
    )
    wf = Window.orderBy("h").rowsBetween(-(_BURN_FAST_H - 1), 0)
    ws = Window.orderBy("h").rowsBetween(-(_BURN_SLOW_H - 1), 0)
    budget = 1.0 - _SLO
    burns = hourly.select(
        "h",
        (
            F.sum("errs").over(wf).cast("double")
            / F.sum("n").over(wf).cast("double")
            / budget
        ).alias("burn_fast"),
        (
            F.sum("errs").over(ws).cast("double")
            / F.sum("n").over(ws).cast("double")
            / budget
        ).alias("burn_slow"),
    )
    alert = (F.col("burn_fast") > _BURN_THRESH) & (
        F.col("burn_slow") > _BURN_THRESH
    )
    return burns.agg(
        bcount("n_hours"),
        F.round(F.max("burn_fast"), 6).alias("max_burn_fast"),
        F.round(F.max("burn_slow"), 6).alias("max_burn_slow"),
        F.sum(F.when(alert, 1).otherwise(0)).cast("bigint").alias("alert_hours"),
        F.round(
            F.sum(F.when(alert, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("alert_share"),
    )


@register(
    "q_bartlett_test",
    oracle="""
    WITH obs AS (
      SELECT event_type AS grp, value AS v FROM events WHERE value IS NOT NULL
    ),
    mom AS MATERIALIZED (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM obs GROUP BY 1
    ),
    vars_g AS (
      SELECT o.grp, m.n,
             CAST(SUM(CAST((o.v - m.mu) * (o.v - m.mu) AS DECIMAL(38,15)))
                  AS DOUBLE) / (m.n - 1) AS s2
      FROM obs o JOIN mom m ON m.grp = o.grp
      GROUP BY o.grp, m.n
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(SUM(CAST((n - 1) * s2 AS DECIMAL(38,15))) AS DOUBLE)
               / (SUM(n) - COUNT(*)) AS sp2,
             CAST(SUM(CAST((n - 1) * ln(s2) AS DECIMAL(38,15))) AS DOUBLE)
               AS sum_ln,
             CAST(SUM(CAST(1.0 / (n - 1) AS DECIMAL(38,15))) AS DOUBLE)
               AS sum_inv
      FROM vars_g
    )
    SELECT k AS n_groups, n_tot AS n_obs,
           round(sp2, 6) AS pooled_var,
           round(((CAST(n_tot AS DOUBLE) - k) * ln(sp2) - sum_ln)
                 / (1.0 + (sum_inv - 1.0 / (n_tot - k)) / (3.0 * (k - 1))), 6)
             AS bartlett_chi2,
           CAST(k - 1 AS BIGINT) AS df
    FROM agg
    """,
)
def q_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of equal variances across event types:
    χ² = [(N−k)·ln s²_p − Σ(nᵢ−1)·ln s²ᵢ] / C with the standard
    correction C = 1 + (Σ1/(nᵢ−1) − 1/(N−k)) / (3(k−1)). The powerful
    parametric half of the variance-homogeneity pair — q_levene_test is
    its robust sibling; ANOVA pipelines (q_anova_value_by_type,
    q_two_way_anova) gate on one of the two before trusting the F test.

    Determinism: group means/variances are two-pass exact-decimal; the
    ln-variance and inverse-df sums ride DECIMAL(38,15).

    Scale: one group rollup, one deviation pass with the k-row means
    broadcast, then a k-row aggregate. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    # single scan (r6): the group means and the deviation pass each
    # re-scanned events; both derive exactly from ONE (group, value)
    # count grid (checkpointed once — posting-list class), with the
    # decimal sums count-weighted and every product sized within
    # precision 38 (no rescale ⇒ c × value ≡ the value added c times)
    vg = ev.select(
        F.col("event_type").alias("grp"), F.col("value").alias("v")
    ).groupBy("grp", "v").agg(bcount("c")).localCheckpoint(eager=True)
    cw = F.col("c").cast("decimal(12,0)")
    mom = vg.groupBy("grp").agg(
        F.sum("c").cast("bigint").alias("n"),
        (
            F.sum(F.col("v").cast("decimal(25,15)") * cw).cast("double")
            / F.sum("c")
        ).alias("mu"),
    )
    vars_g = (
        vg.join(F.broadcast(mom), "grp")
        .groupBy("grp", "n")
        .agg(
            (
                F.sum(
                    ((F.col("v") - F.col("mu")) * (F.col("v") - F.col("mu"))).cast(
                        "decimal(25,15)"
                    )
                    * cw
                ).cast("double")
                / (F.col("n") - 1)
            ).alias("s2")
        )
    )
    agg = vars_g.agg(
        bcount("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        (
            F.sum(((F.col("n") - 1) * F.col("s2")).cast(D15)).cast("double")
            / (F.sum("n") - F.count(F.lit(1)))
        ).alias("sp2"),
        F.sum(((F.col("n") - 1) * F.log("s2")).cast(D15))
        .cast("double")
        .alias("sum_ln"),
        F.sum((F.lit(1.0) / (F.col("n") - 1)).cast(D15))
        .cast("double")
        .alias("sum_inv"),
    )
    nk = F.col("n_tot").cast("double") - F.col("k")
    c = 1.0 + (F.col("sum_inv") - 1.0 / (F.col("n_tot") - F.col("k"))) / (
        3.0 * (F.col("k") - 1)
    )
    return agg.select(
        F.col("k").alias("n_groups"),
        F.col("n_tot").alias("n_obs"),
        F.round("sp2", 6).alias("pooled_var"),
        F.round((nk * F.log("sp2") - F.col("sum_ln")) / c, 6).alias(
            "bartlett_chi2"
        ),
        (F.col("k") - 1).cast("bigint").alias("df"),
    )


@register(
    "q_moods_median_test",
    oracle="""
    WITH obs AS MATERIALIZED (
      SELECT event_type AS grp, value AS v FROM events WHERE value IS NOT NULL
    ),
    gm AS (SELECT median(v) AS gmed FROM obs),
    cells AS MATERIALIZED (
      SELECT o.grp,
             CAST(SUM(CASE WHEN o.v > g.gmed THEN 1 ELSE 0 END) AS BIGINT)
               AS above,
             CAST(SUM(CASE WHEN o.v <= g.gmed THEN 1 ELSE 0 END) AS BIGINT)
               AS below
      FROM obs o, gm g GROUP BY o.grp
    ),
    tot AS (
      SELECT CAST(SUM(above) AS BIGINT) AS ta,
             CAST(SUM(below) AS BIGINT) AS tb,
             CAST(SUM(above + below) AS BIGINT) AS n
      FROM cells
    ),
    chi AS (
      SELECT c.grp, c.above, c.below,
             CAST(c.above + c.below AS DOUBLE) * t.ta / t.n AS ea,
             CAST(c.above + c.below AS DOUBLE) * t.tb / t.n AS eb
      FROM cells c, tot t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           round(CAST(SUM(CAST(
             (above - ea) * (above - ea) / ea
             + (below - eb) * (below - eb) / eb
             AS DECIMAL(38,15))) AS DOUBLE), 6) AS chi2,
           CAST(COUNT(*) - 1 AS BIGINT) AS df
    FROM chi
    """,
)
def q_moods_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test across event types: count above/below the
    GRAND median per group, then the k×2 contingency χ² against
    proportional expectations. Only the sign relative to the grand
    median matters, so arbitrary outliers and heavy tails cannot move
    the statistic — the maximally-robust (if least powerful) k-sample
    location test, bracketing q_kruskal_wallis (ranks) and
    q_anova_value_by_type (means).

    Determinism: the grand median is an exact order statistic; cells
    are exact integers; χ² terms ride DECIMAL(38,15).

    Scale: one global median (single sort), one conditional rollup per
    group with the 1-row median broadcast. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    obs = ev.select(F.col("event_type").alias("grp"), F.col("value").alias("v"))
    gm = obs.agg(F.median("v").alias("gmed"))
    cells = (
        obs.crossJoin(F.broadcast(gm))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("v") > F.col("gmed"), 1).otherwise(0))
            .cast("bigint")
            .alias("above"),
            F.sum(F.when(F.col("v") <= F.col("gmed"), 1).otherwise(0))
            .cast("bigint")
            .alias("below"),
        )
    )
    # checkpointed once (r6): the totals and the chi² pass each re-derived
    # the contingency cells from the fact (4 events scans in the plan);
    # the ≤|types| grid materializes once, leaving the inherent two-pass
    # read (global median, then cells)
    cells = cells.localCheckpoint(eager=True)
    tot = cells.agg(
        F.sum("above").cast("bigint").alias("ta"),
        F.sum("below").cast("bigint").alias("tb"),
        F.sum(F.col("above") + F.col("below")).cast("bigint").alias("n"),
    )
    chi = cells.crossJoin(F.broadcast(tot)).select(
        "grp",
        "above",
        "below",
        ((F.col("above") + F.col("below")).cast("double") * F.col("ta") / F.col("n")).alias("ea"),
        ((F.col("above") + F.col("below")).cast("double") * F.col("tb") / F.col("n")).alias("eb"),
    )
    term = (F.col("above") - F.col("ea")) * (F.col("above") - F.col("ea")) / F.col(
        "ea"
    ) + (F.col("below") - F.col("eb")) * (F.col("below") - F.col("eb")) / F.col("eb")
    return chi.agg(
        bcount("n_groups"),
        F.round(F.sum(term.cast(D15)).cast("double"), 6).alias("chi2"),
        (F.count(F.lit(1)) - 1).cast("bigint").alias("df"),
    )
