"""Analytics batch 50: language-ID self-evaluation (confusion matrix over
the production heuristic), bilateral price indices (Laspeyres / Paasche /
Fisher), Neyman optimal sampling allocation (largest-remainder integers),
and a capture–recapture population estimate.

The langid confusion composes the registered q_doc_langid code path, so
the precision/recall numbers grade production code (the q_ann_recall_eval
idiom). Neyman reuses the integer largest-remainder machinery of
q_proration_largest_remainder on σ-weighted strata.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .text import _SQL_STOPLIST, q_doc_langid


@register(
    "q_langid_confusion",
    oracle=f"""
    WITH pred AS (
      SELECT lang = 'en' AS is_en,
             (CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ({_SQL_STOPLIST}))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.08) AS pred_en
      FROM documents
    ),
    cm AS (
      SELECT CAST(COUNT(*) FILTER (WHERE is_en AND pred_en) AS BIGINT) AS tp,
             CAST(COUNT(*) FILTER (WHERE NOT is_en AND pred_en) AS BIGINT) AS fp,
             CAST(COUNT(*) FILTER (WHERE is_en AND NOT pred_en) AS BIGINT) AS fn,
             CAST(COUNT(*) FILTER (WHERE NOT is_en AND NOT pred_en) AS BIGINT) AS tn
      FROM pred
    )
    SELECT tp, fp, fn, tn,
           round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_en,
           round(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall_en,
           round(2.0 * (CAST(tp AS DOUBLE) / (tp + fp))
                     * (CAST(tp AS DOUBLE) / (tp + fn))
                 / (CAST(tp AS DOUBLE) / (tp + fp)
                    + CAST(tp AS DOUBLE) / (tp + fn)), 6) AS f1_en,
           round(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn), 6) AS accuracy
    FROM cm
    """,
)
def q_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID self-evaluation: the stopword-ratio English detector
    (the REGISTERED q_doc_langid code path — this query composes it, not a
    re-implementation) against the corpus's labeled language: confusion
    counts, precision/recall/F1, accuracy — the eval gate before trusting
    a language filter to curate a 100 TB corpus.

    All-integer confusion cells; metrics are fixed-shape double ratios.

    Scale: inherits q_doc_langid's single tokenize pass; the collapse to a
    2×2 grid is map-side combined. §2.B [NS].
    """
    pred = q_doc_langid(spark, sf_dir).select(
        (F.col("lang_meta") == "en").alias("is_en"), "pred_en"
    )
    tp = F.count_if(F.col("is_en") & F.col("pred_en")).cast("bigint")
    fp = F.count_if(~F.col("is_en") & F.col("pred_en")).cast("bigint")
    fn = F.count_if(F.col("is_en") & ~F.col("pred_en")).cast("bigint")
    tn = F.count_if(~F.col("is_en") & ~F.col("pred_en")).cast("bigint")
    cm = pred.agg(
        tp.alias("tp"), fp.alias("fp"), fn.alias("fn"), tn.alias("tn")
    )
    prec = F.col("tp").cast("double") / (F.col("tp") + F.col("fp"))
    rec = F.col("tp").cast("double") / (F.col("tp") + F.col("fn"))
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(prec, 6).alias("precision_en"),
        F.round(rec, 6).alias("recall_en"),
        F.round(F.lit(2.0) * prec * rec / (prec + rec), 6).alias("f1_en"),
        F.round(
            (F.col("tp") + F.col("tn")).cast("double")
            / (F.col("tp") + F.col("fp") + F.col("fn") + F.col("tn")),
            6,
        ).alias("accuracy"),
    )


@register(
    "q_price_indices",
    oracle="""
    WITH yr AS (
      SELECT l_partkey AS pk, CAST(year(l_shipdate) AS BIGINT) AS y,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS p,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS q
      FROM lineitem WHERE year(l_shipdate) IN (1995, 1996)
      GROUP BY 1, 2
    ),
    b AS (
      SELECT a.pk, a.p AS p0, a.q AS q0, c.p AS p1, c.q AS q1
      FROM yr a JOIN yr c ON c.pk = a.pk AND a.y = 1995 AND c.y = 1996
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
             CAST(SUM(CAST(p1 * q0 AS DECIMAL(28,10))) AS DOUBLE) AS p1q0,
             CAST(SUM(CAST(p0 * q0 AS DECIMAL(28,10))) AS DOUBLE) AS p0q0,
             CAST(SUM(CAST(p1 * q1 AS DECIMAL(28,10))) AS DOUBLE) AS p1q1,
             CAST(SUM(CAST(p0 * q1 AS DECIMAL(28,10))) AS DOUBLE) AS p0q1
      FROM b
    )
    SELECT n_parts,
           round(p1q0 / p0q0, 6) AS laspeyres,
           round(p1q1 / p0q1, 6) AS paasche,
           round(sqrt((p1q0 / p0q0) * (p1q1 / p0q1)), 6) AS fisher
    FROM s
    """,
)
def q_price_indices(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bilateral price indices 1995→1996 over parts traded in both years:
    Laspeyres (base-year basket), Paasche (current basket), and the Fisher
    ideal (their geometric mean) — the inflation-measurement classic, from
    unit prices = Σrevenue/Σquantity per part-year.

    Unit prices are ratios of exact DECIMAL sums; the four basket sums
    route per-term through DECIMAL(28,10); Fisher adds one sqrt.

    Scale: one fact aggregation to the |parts|×2 grid; the year self-join
    clusters on partkey. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    yr = (
        li.filter(F.year("l_shipdate").isin(1995, 1996))
        .groupBy(
            F.col("l_partkey").alias("pk"),
            F.year("l_shipdate").cast("bigint").alias("y"),
        )
        .agg(
            (
                F.sum(dec("l_extendedprice")).cast("double")
                / F.sum(dec("l_quantity")).cast("double")
            ).alias("p"),
            F.sum(dec("l_quantity")).cast("double").alias("q"),
        )
        # checkpointed once (r6): both year slices re-derived the rollup
        # (2 lineitem scans in the plan); the part×2-year grid
        # materializes once
        .localCheckpoint(eager=True)
    )
    a = yr.filter(F.col("y") == 1995).select(
        "pk", F.col("p").alias("p0"), F.col("q").alias("q0")
    )
    c = yr.filter(F.col("y") == 1996).select(
        "pk", F.col("p").alias("p1"), F.col("q").alias("q1")
    )
    b = a.join(c, "pk")
    s = b.agg(
        bcount("n_parts"),
        F.sum((F.col("p1") * F.col("q0")).cast("decimal(28,10)"))
        .cast("double")
        .alias("p1q0"),
        F.sum((F.col("p0") * F.col("q0")).cast("decimal(28,10)"))
        .cast("double")
        .alias("p0q0"),
        F.sum((F.col("p1") * F.col("q1")).cast("decimal(28,10)"))
        .cast("double")
        .alias("p1q1"),
        F.sum((F.col("p0") * F.col("q1")).cast("decimal(28,10)"))
        .cast("double")
        .alias("p0q1"),
    )
    lasp = F.col("p1q0") / F.col("p0q0")
    paas = F.col("p1q1") / F.col("p0q1")
    return s.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


@register(
    "q_neyman_allocation",
    oracle="""
    WITH g AS (
      SELECT o_orderpriority AS stratum,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(30,6)))
                  AS DOUBLE) AS s2
      FROM orders GROUP BY 1
    ),
    wgt AS (
      SELECT stratum, n_h,
             CAST(n_h AS DOUBLE)
               * sqrt((s2 - s1 * s1 / n_h) / (n_h - 1)) AS w
      FROM g
    ),
    tot AS (SELECT CAST(SUM(CAST(w AS DECIMAL(28,8))) AS DOUBLE) AS tw FROM wgt),
    base AS (
      SELECT stratum, n_h, w,
             CAST(FLOOR(1000 * w / tw) AS BIGINT) AS n_base,
             1000 * w / tw - FLOOR(1000 * w / tw) AS frac
      FROM wgt, tot
    ),
    leftover AS (
      SELECT CAST(1000 - SUM(n_base) AS BIGINT) AS k FROM base
    )
    SELECT stratum, n_h,
           round(w, 4) AS neyman_weight,
           CAST(n_base + CASE WHEN ROW_NUMBER() OVER (
                ORDER BY frac DESC, stratum) <= k THEN 1 ELSE 0 END
             AS BIGINT) AS n_alloc
    FROM base, leftover
    """,
)
def q_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a 1000-row sample across order-priority
    strata: each stratum gets sample ∝ N_h·σ_h (big AND variable strata
    deserve more), with the fractional seats distributed by largest
    remainder so the allocation sums to exactly 1000 — the stratified-
    sampling design step before q_stratified_sample executes the draw.

    σ_h comes from exact DECIMAL moments; the seat assignment is integer
    floor + a (fraction, stratum)-ordered rank — fully deterministic.

    Scale: one map-side-combined pass to |strata| rows. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    y = F.col("o_totalprice")
    g = o.groupBy(F.col("o_orderpriority").alias("stratum")).agg(
        bcount("n_h"),
        F.sum(dec("o_totalprice")).cast("double").alias("s1"),
        F.sum((y * y).cast("decimal(30,6)")).cast("double").alias("s2"),
    )
    wgt = g.select(
        "stratum",
        "n_h",
        (
            F.col("n_h").cast("double")
            * F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n_h"))
                / (F.col("n_h") - 1)
            )
        ).alias("w"),
    )
    tot = wgt.agg(
        F.sum(F.col("w").cast("decimal(28,8)")).cast("double").alias("tw")
    )
    share = F.lit(1000) * F.col("w") / F.col("tw")
    base = wgt.crossJoin(F.broadcast(tot)).select(
        "stratum",
        "n_h",
        "w",
        F.floor(share).cast("bigint").alias("n_base"),
        (share - F.floor(share)).alias("frac"),
    )
    leftover = base.agg(
        (F.lit(1000) - F.sum("n_base")).cast("bigint").alias("k")
    )
    rnk = F.row_number().over(Window.orderBy(F.desc("frac"), "stratum"))
    return base.crossJoin(F.broadcast(leftover)).select(
        "stratum",
        "n_h",
        F.round("w", 4).alias("neyman_weight"),
        (F.col("n_base") + F.when(rnk <= F.col("k"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_alloc"),
    )


@register(
    "q_capture_recapture",
    oracle="""
    WITH b AS (SELECT MIN(date_trunc('week', ts)) AS w0 FROM events),
    s1 AS (
      SELECT DISTINCT user_id FROM events, b
      WHERE date_trunc('week', ts) = w0
    ),
    s2 AS (
      SELECT DISTINCT user_id FROM events, b
      WHERE date_trunc('week', ts) = w0 + INTERVAL 7 DAY
    ),
    c AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
             (SELECT CAST(COUNT(*) AS BIGINT)
              FROM s1 JOIN s2 USING (user_id)) AS m
    )
    SELECT n1, n2, m,
           round(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / m, 2)
             AS lincoln_petersen,
           round((CAST(n1 AS DOUBLE) + 1) * (CAST(n2 AS DOUBLE) + 1)
                 / (CAST(m AS DOUBLE) + 1) - 1, 2) AS chapman
    FROM c
    """,
)
def q_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture–recapture (Lincoln–Petersen + Chapman) estimate of the true
    active-user population from two weekly observation windows: users seen
    in week 1 "marked", recapture rate in week 2 scales up to N̂ = n₁n₂/m —
    the ecology estimator product teams use to size the audience their
    instrumentation only partially observes.

    All-integer set sizes; two fixed-shape double estimates.

    Scale: two distinct-sets over single weeks + one co-partitioned
    intersection join. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    b = ev.agg(F.min(F.date_trunc("week", "ts")).alias("w0"))
    evw = ev.crossJoin(F.broadcast(b)).select(
        "user_id", F.date_trunc("week", "ts").alias("wk"), "w0"
    )
    # checkpointed once each (r6): the size aggregates and the
    # intersection join re-derived both distinct sets from the events
    # scan (8 scans in the plan)
    s1 = (
        evw.filter(F.col("wk") == F.col("w0"))
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    s2 = (
        evw.filter(F.col("wk") == F.col("w0") + F.expr("INTERVAL 7 DAY"))
        .select("user_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    n1 = s1.agg(bcount("n1"))
    n2 = s2.agg(bcount("n2"))
    m = s1.join(s2, "user_id").agg(bcount("m"))
    c = n1.crossJoin(F.broadcast(n2)).crossJoin(F.broadcast(m))
    return c.select(
        "n1",
        "n2",
        "m",
        F.round(
            F.col("n1").cast("double") * F.col("n2").cast("double") / F.col("m"),
            2,
        ).alias("lincoln_petersen"),
        F.round(
            (F.col("n1").cast("double") + 1)
            * (F.col("n2").cast("double") + 1)
            / (F.col("m").cast("double") + 1)
            - 1,
            2,
        ).alias("chapman"),
    )
