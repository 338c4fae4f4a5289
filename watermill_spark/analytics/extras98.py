"""Analytics batch 106: Benjamini-Hochberg FDR control, G-test of
independence with Williams correction, and Matthews correlation of a
threshold classifier.

BH is how every modern experimentation platform reports "significant"
across a family of segment-level tests without Bonferroni's brutality —
the step-up procedure controls the *false discovery rate* instead of
the family-wise error. The G-test is the likelihood-ratio alternative
to Pearson's chi-square (additive across partitions, better behaved for
small cells once Williams-corrected). MCC is the single-number
confusion-matrix summary that stays honest under class imbalance, where
accuracy and even F1 mislead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register

_ALPHA = 0.10


@register(
    "q_fdr_bh",
    oracle=f"""
    WITH g AS (
      SELECT event_type,
             CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS wk,
             value AS v
      FROM events
    ),
    m AS (
      SELECT event_type, wk, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(v * v AS DECIMAL(38,12))) AS DOUBLE) AS ss
      FROM g GROUP BY 1, 2
    ),
    wide AS (
      SELECT event_type,
             MAX(CASE WHEN wk = 1 THEN n END) AS nw,
             MAX(CASE WHEN wk = 1 THEN s END) AS sw,
             MAX(CASE WHEN wk = 1 THEN ss END) AS ssw,
             MAX(CASE WHEN wk = 0 THEN n END) AS nd,
             MAX(CASE WHEN wk = 0 THEN s END) AS sd,
             MAX(CASE WHEN wk = 0 THEN ss END) AS ssd
      FROM m GROUP BY 1
      HAVING MAX(CASE WHEN wk = 1 THEN n END) >= 2
         AND MAX(CASE WHEN wk = 0 THEN n END) >= 2
    ),
    z AS (
      SELECT event_type,
             (sw / nw - sd / nd)
             / sqrt((nw * ssw - sw * sw) / (CAST(nw AS DOUBLE) * (nw - 1)) / nw
                    + (nd * ssd - sd * sd)
                      / (CAST(nd AS DOUBLE) * (nd - 1)) / nd) AS zs
      FROM wide
    ),
    p AS (
      SELECT event_type, zs,
             2.0 / (1.0 + exp(1.702 * abs(zs))) AS praw,
             ROW_NUMBER() OVER (
               ORDER BY 2.0 / (1.0 + exp(1.702 * abs(zs))), event_type)
               AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS mm
      FROM z
    ),
    adj AS (
      SELECT event_type, zs, praw, rk, mm,
             {_ALPHA} * rk / mm AS thresh,
             LEAST(1.0, MIN(mm * praw / rk) OVER (
               ORDER BY rk DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS padj,
             MAX(CASE WHEN praw <= {_ALPHA} * rk / mm THEN rk ELSE 0 END)
               OVER () AS kstar
      FROM p
    )
    SELECT event_type, CAST(rk AS BIGINT) AS rank,
           round(zs, 4) AS z_stat,
           round(praw, 8) AS p_raw,
           round(thresh, 8) AS bh_threshold,
           round(padj, 8) AS p_adj,
           CASE WHEN rk <= kstar THEN 1 ELSE 0 END AS rejected
    FROM adj
    ORDER BY rank
    """,
)
def q_fdr_bh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control (α=0.10) over the family of
    per-event-type weekend-vs-weekday mean-value z-tests: raw two-sided
    p-values from the logistic normal-CDF approximation
    Φ(z) ≈ 1/(1+e^{−1.702z}), ranked ascending; the step-up rule rejects
    ranks ≤ k* = max{k : p_(k) ≤ αk/m} and the adjusted p is the
    monotone envelope min_{j≥k}(m·p_(j)/j) ∧ 1. The same |z| ordering is
    p-monotone, so the approximation never reorders the procedure.

    Determinism: moments are exact DECIMAL sums per (type, weekend)
    cell; z/p are pure double expressions of those sums; ties in p
    break on event_type.

    Scale: one map-side-combined pass over the fact → a ≤|types| grid;
    ranking and the reverse-cummin run in single-partition windows over
    that grid. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    g = ev.select(
        "event_type",
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("wk"),
        F.col("value").alias("v"),
    )
    m = g.groupBy("event_type", "wk").agg(
        bcount("n"),
        F.sum(dec("v")).cast("double").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss"),
    )
    wk = lambda c: F.max(F.when(F.col("wk") == 1, F.col(c)))  # noqa: E731
    wd = lambda c: F.max(F.when(F.col("wk") == 0, F.col(c)))  # noqa: E731
    wide = (
        m.groupBy("event_type")
        .agg(
            wk("n").alias("nw"),
            wk("s").alias("sw"),
            wk("ss").alias("ssw"),
            wd("n").alias("nd"),
            wd("s").alias("sd"),
            wd("ss").alias("ssd"),
        )
        .filter((F.col("nw") >= 2) & (F.col("nd") >= 2))
    )
    nw, nd = F.col("nw"), F.col("nd")
    vw = (nw * F.col("ssw") - F.col("sw") * F.col("sw")) / (
        nw.cast("double") * (nw - 1)
    )
    vd = (nd * F.col("ssd") - F.col("sd") * F.col("sd")) / (
        nd.cast("double") * (nd - 1)
    )
    z = wide.select(
        "event_type",
        (
            (F.col("sw") / nw - F.col("sd") / nd)
            / F.sqrt(vw / nw + vd / nd)
        ).alias("zs"),
    )
    praw = F.lit(2.0) / (F.lit(1.0) + F.exp(F.lit(1.702) * F.abs(F.col("zs"))))
    p = z.select(
        "event_type",
        "zs",
        praw.alias("praw"),
        F.row_number().over(Window.orderBy(praw, "event_type")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("mm"),
    )
    thresh = F.lit(_ALPHA) * F.col("rk") / F.col("mm")
    padj = F.least(
        F.lit(1.0),
        F.min(F.col("mm") * F.col("praw") / F.col("rk")).over(
            Window.orderBy(F.col("rk").desc()).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    kstar = F.max(
        F.when(F.col("praw") <= thresh, F.col("rk")).otherwise(0)
    ).over(Window.partitionBy())
    adj = p.select(
        "event_type",
        F.col("rk").cast("bigint").alias("rank"),
        F.round("zs", 4).alias("z_stat"),
        F.round("praw", 8).alias("p_raw"),
        F.round(thresh, 8).alias("bh_threshold"),
        F.round(padj, 8).alias("p_adj"),
        F.when(F.col("rk") <= kstar, 1).otherwise(0).alias("rejected"),
    )
    return adj.orderBy("rank")


@register(
    "q_gtest_independence",
    oracle="""
    WITH obs AS (
      SELECT event_type AS r,
             CASE WHEN isodow(ts) IN (6, 7) THEN 1 ELSE 0 END AS c,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT r, CAST(SUM(o) AS BIGINT) AS ro FROM obs GROUP BY 1),
    ct AS (SELECT c, CAST(SUM(o) AS BIGINT) AS co FROM obs GROUP BY 1),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS nn FROM obs),
    gsum AS (
      SELECT CAST(SUM(CAST(
               2.0 * o * ln(CAST(o AS DOUBLE) * n.nn
                            / (CAST(rt.ro AS DOUBLE) * ct.co))
               AS DECIMAL(38,15))) AS DOUBLE) AS g,
             MAX(n.nn) AS nn
      FROM obs JOIN rt USING (r) JOIN ct USING (c), n
      WHERE o > 0
    ),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rt) AS nr,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM ct) AS nc,
             (SELECT CAST(SUM(CAST(CAST(n.nn AS DOUBLE) / ro
                            AS DECIMAL(38,15))) AS DOUBLE) FROM rt, n) AS sr,
             (SELECT CAST(SUM(CAST(CAST(n.nn AS DOUBLE) / co
                            AS DECIMAL(38,15))) AS DOUBLE) FROM ct, n) AS sc
    )
    SELECT g.nn AS n_events,
           d.nr AS n_rows, d.nc AS n_cols,
           (d.nr - 1) * (d.nc - 1) AS df,
           round(g.g, 6) AS g_stat,
           round(1.0 + (d.sr - 1.0) * (d.sc - 1.0)
                       / (6.0 * g.nn * (d.nr - 1) * (d.nc - 1)), 8)
             AS williams_q,
           round(g.g / (1.0 + (d.sr - 1.0) * (d.sc - 1.0)
                              / (6.0 * g.nn * (d.nr - 1) * (d.nc - 1))), 6)
             AS g_adjusted
    FROM gsum g, dims d
    """,
)
def q_gtest_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G-test of independence between event type and
    weekend/weekday: G = 2·Σ O·ln(O·N/(R·C)) over the contingency cells,
    with the Williams small-sample correction
    q = 1 + (N·Σ1/R − 1)(N·Σ1/C − 1)/(6N·df) and G_adj = G/q — the
    additive (information-theoretic) sibling of q_chi2_type_dow; G is
    exactly 2N·I(type; weekend) in nats.

    Determinism: cell/marginal counts are integers; each O·ln(·) term is
    a pure double expression cast DECIMAL(38,15) before summing; the
    1/R marginal sums ride the same exact accumulator.

    Scale: one map-side-combined cell rollup (≤|types|×2 rows); all
    marginals derive from the cell grid, never a fact re-scan; the final
    math is a constant-size broadcast star (whitelisted BNLJ). §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("r"),
        F.when(F.dayofweek("ts").isin(1, 7), 1).otherwise(0).alias("c"),
    ).agg(bcount("o"))
    # checkpointed once (r6): rt/ct/n and the G-sum each re-derived the
    # fact rollup (8 events scans in the plan) — now the docstring's
    # "marginals derive from the cell grid, never a fact re-scan" holds;
    # the ≤|types|×2 cell grid materializes once
    obs = obs.localCheckpoint(eager=True)
    rt = obs.groupBy("r").agg(F.sum("o").cast("bigint").alias("ro"))
    ct = obs.groupBy("c").agg(F.sum("o").cast("bigint").alias("co"))
    n = obs.agg(F.sum("o").cast("bigint").alias("nn"))
    gsum = (
        obs.join(F.broadcast(rt), "r")
        .join(F.broadcast(ct), "c")
        .crossJoin(F.broadcast(n))
        .filter(F.col("o") > 0)
        .agg(
            F.sum(
                (
                    F.lit(2.0)
                    * F.col("o")
                    * F.log(
                        F.col("o").cast("double")
                        * F.col("nn")
                        / (F.col("ro").cast("double") * F.col("co"))
                    )
                ).cast(D15)
            )
            .cast("double")
            .alias("g"),
            F.max("nn").alias("nn"),
        )
    )
    # each N/R term computed in DOUBLE (full precision, identical across
    # engines) then cast DECIMAL(38,15) so the SUM is order-independent —
    # decimal *division* would round differently per engine (det.py rule 2)
    sr = (
        rt.crossJoin(F.broadcast(n))
        .agg(
            F.sum((F.col("nn").cast("double") / F.col("ro")).cast(D15))
            .cast("double")
            .alias("sr"),
            bcount("nr"),
        )
    )
    sc = (
        ct.crossJoin(F.broadcast(n))
        .agg(
            F.sum((F.col("nn").cast("double") / F.col("co")).cast(D15))
            .cast("double")
            .alias("sc"),
            bcount("nc"),
        )
    )
    d = sr.crossJoin(F.broadcast(sc))
    out = gsum.crossJoin(F.broadcast(d))
    df_ = (F.col("nr") - 1) * (F.col("nc") - 1)
    q = F.lit(1.0) + (F.col("sr") - 1.0) * (F.col("sc") - 1.0) / (
        F.lit(6.0) * F.col("nn") * df_
    )
    return out.select(
        F.col("nn").alias("n_events"),
        F.col("nr").alias("n_rows"),
        F.col("nc").alias("n_cols"),
        df_.alias("df"),
        F.round("g", 6).alias("g_stat"),
        F.round(q, 8).alias("williams_q"),
        F.round(F.col("g") / q, 6).alias("g_adjusted"),
    )


@register(
    "q_mcc_stump",
    oracle="""
    WITH mu AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS m
      FROM events
    ),
    cm AS (
      SELECT
        CAST(COUNT(*) FILTER (value > mu.m AND event_type = 'purchase')
             AS BIGINT) AS tp,
        CAST(COUNT(*) FILTER (value > mu.m AND event_type <> 'purchase')
             AS BIGINT) AS fp,
        CAST(COUNT(*) FILTER (value <= mu.m AND event_type = 'purchase')
             AS BIGINT) AS fn,
        CAST(COUNT(*) FILTER (value <= mu.m AND event_type <> 'purchase')
             AS BIGINT) AS tn
      FROM events, mu
    )
    SELECT tp, fp, fn, tn,
           round((CAST(tp AS DOUBLE) + tn) / (tp + fp + fn + tn), 6)
             AS accuracy,
           round(CAST(tp AS DOUBLE) / NULLIF(tp + fp, 0), 6) AS precision_,
           round(CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0), 6) AS recall_,
           round((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
                 / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)
                        * (CAST(tn AS DOUBLE) + fp)
                        * (CAST(tn AS DOUBLE) + fn)), 6) AS mcc
    FROM cm
    """,
)
def q_mcc_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matthews correlation coefficient of the one-rule classifier
    "value above the global mean ⇒ purchase": the full confusion matrix
    plus accuracy/precision/recall and
    MCC = (TP·TN − FP·FN)/√((TP+FP)(TP+FN)(TN+FP)(TN+FN)) — the
    imbalance-robust scalar that complements q_decision_stump's
    accuracy-driven split search and q_pr_curve's threshold sweep (a
    useless always-majority classifier scores MCC ≈ 0, not 0.9).

    Determinism: the threshold is an exact-sum mean; the four cells are
    integer counts; MCC is one double expression of four integers.

    Scale: one moment pass, then one conditional-count pass with the
    1-row mean broadcast (whitelisted BNLJ) — both map-side combine.
    §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    mu = ev.agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    pos = F.col("value") > F.col("m")
    ispur = F.col("event_type") == "purchase"
    cm = ev.crossJoin(F.broadcast(mu)).agg(
        F.count(F.when(pos & ispur, 1)).cast("bigint").alias("tp"),
        F.count(F.when(pos & ~ispur, 1)).cast("bigint").alias("fp"),
        F.count(F.when(~pos & ispur, 1)).cast("bigint").alias("fn"),
        F.count(F.when(~pos & ~ispur, 1)).cast("bigint").alias("tn"),
    )
    tp, fp, fn, tn = (F.col(c).cast("double") for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round((tp + tn) / (tp + fp + fn + tn), 6).alias("accuracy"),
        F.round(tp / F.nullif(F.col("tp") + F.col("fp"), F.lit(0)), 6).alias(
            "precision_"
        ),
        F.round(tp / F.nullif(F.col("tp") + F.col("fn"), F.lit(0)), 6).alias(
            "recall_"
        ),
        F.round(
            (tp * tn - fp * fn)
            / F.sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
            6,
        ).alias("mcc"),
    )
