"""Analytics batch 49: ABC–XYZ inventory classification matrix, top
session paths (event-type trigrams), and the Ljung–Box portmanteau test on
daily revenue returns.

ABC–XYZ combines a cumulative-revenue-share cut (ABC) with a
demand-variability cut (XYZ, coefficient of variation of weekly demand) —
both thresholds compare fixed-shape doubles derived from exact DECIMAL
sums, so class assignment is unambiguous. Ljung–Box reuses the
post-aggregate daily-return grid with lagged self-joins per lag.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register


@register(
    "q_abc_xyz_matrix",
    oracle="""
    WITH rev AS (
      SELECT l_partkey AS pk,
             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS r
      FROM lineitem GROUP BY 1
    ),
    abc AS (
      SELECT pk, r,
             CAST(SUM(r) OVER (ORDER BY r DESC, pk
                 ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               / CAST(SUM(r) OVER () AS DOUBLE) AS cum_share
      FROM rev
    ),
    abc_cls AS (
      SELECT pk, r,
             CASE WHEN cum_share <= 0.80 THEN 'A'
                  WHEN cum_share <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc_class
      FROM abc
    ),
    wkd AS (
      SELECT l_partkey AS pk, date_trunc('week', l_shipdate) AS w,
             SUM(CAST(l_quantity AS DECIMAL(18,6))) AS q
      FROM lineitem GROUP BY 1, 2
    ),
    xyz AS (
      SELECT pk,
             CAST(COUNT(*) AS BIGINT) AS n_w,
             CAST(SUM(CAST(q AS DECIMAL(18,6))) AS DOUBLE) AS sq,
             CAST(SUM(CAST(CAST(q AS DOUBLE) * CAST(q AS DOUBLE)
                           AS DECIMAL(28,8))) AS DOUBLE) AS sq2
      FROM wkd GROUP BY 1
    ),
    xyz_cls AS (
      SELECT pk,
             CASE WHEN n_w < 2 THEN 'Z'
                  WHEN sqrt((sq2 - sq * sq / n_w) / (n_w - 1))
                       / (sq / n_w) < 0.5 THEN 'X'
                  WHEN sqrt((sq2 - sq * sq / n_w) / (n_w - 1))
                       / (sq / n_w) < 1.0 THEN 'Y'
                  ELSE 'Z' END AS xyz_class
      FROM xyz
    )
    SELECT abc_class, xyz_class,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           round(CAST(SUM(a.r) AS DOUBLE)
                 / (SELECT CAST(SUM(r) AS DOUBLE) FROM rev), 6)
             AS revenue_share
    FROM abc_cls a JOIN xyz_cls x ON x.pk = a.pk
    GROUP BY 1, 2
    """,
)
def q_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC–XYZ inventory classification: parts cut by cumulative revenue
    share (A ≤ 80%, B ≤ 95%, C rest) and by weekly-demand variability
    (X: CV < 0.5, Y: < 1.0, Z: else or < 2 observed weeks), reported as
    the 3×3 matrix with part counts and revenue share — the planogram
    behind differentiated safety-stock policies.

    Both cuts compare doubles derived from exact DECIMAL sums (cumulative
    share over a (revenue, partkey) total order; CV from weekly moment
    sums), so class membership is bit-deterministic.

    Scale: two fact aggregations (per-part revenue, per-part-week demand);
    the ranking window runs over |parts|; at 100 TB the cumulative share
    uses the same pre-aggregated grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    # single scan (r6): the ABC revenue rollup, the weekly XYZ grid and
    # the grand total each re-scanned lineitem; ONE scan now builds the
    # part×week grid carrying BOTH quantity and revenue (checkpointed
    # once, state linear in the part×week domain), and the per-part
    # revenue is the exact decimal sum of its weekly sums
    wkd = li.groupBy(
        F.col("l_partkey").alias("pk"),
        F.date_trunc("week", "l_shipdate").alias("w"),
    ).agg(
        F.sum(dec("l_quantity")).alias("q"),
        F.sum(dec("l_extendedprice")).alias("wr"),
    ).localCheckpoint(eager=True)
    rev = wkd.groupBy("pk").agg(F.sum("wr").alias("r"))
    w_rank = Window.orderBy(F.desc("r"), "pk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    abc = rev.select(
        "pk",
        "r",
        (
            F.sum("r").over(w_rank).cast("double")
            / F.sum("r").over(w_all).cast("double")
        ).alias("cum_share"),
    )
    abc_cls = abc.select(
        "pk",
        "r",
        F.when(F.col("cum_share") <= 0.80, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )
    qd = F.col("q").cast("double")
    xyz = wkd.groupBy("pk").agg(
        bcount("n_w"),
        F.sum(dec("q")).cast("double").alias("sq"),
        F.sum((qd * qd).cast("decimal(28,8)")).cast("double").alias("sq2"),
    )
    cv = F.sqrt(
        (F.col("sq2") - F.col("sq") * F.col("sq") / F.col("n_w"))
        / (F.col("n_w") - 1)
    ) / (F.col("sq") / F.col("n_w"))
    xyz_cls = xyz.select(
        "pk",
        F.when(F.col("n_w") < 2, "Z")
        .when(cv < 0.5, "X")
        .when(cv < 1.0, "Y")
        .otherwise("Z")
        .alias("xyz_class"),
    )
    tot = rev.agg(F.sum("r").cast("double").alias("total_r"))
    return (
        abc_cls.join(xyz_cls, "pk")
        .groupBy("abc_class", "xyz_class")
        .agg(bcount("n_parts"), F.sum("r").cast("double").alias("cls_r"))
        .crossJoin(F.broadcast(tot))
        .select(
            "abc_class",
            "xyz_class",
            "n_parts",
            F.round(F.col("cls_r") / F.col("total_r"), 6).alias(
                "revenue_share"
            ),
        )
    )


@register(
    "q_session_paths",
    oracle="""
    WITH seq AS (
      SELECT event_type AS t1,
             LEAD(event_type, 1) OVER w AS t2,
             LEAD(event_type, 2) OVER w AS t3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT t1 || '>' || t2 || '>' || t3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM seq WHERE t2 IS NOT NULL AND t3 IS NOT NULL
      GROUP BY 1
    )
    SELECT path, n FROM paths
    ORDER BY n DESC, path
    LIMIT 10
    """,
)
def q_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 behavioral paths: 3-step event-type sequences per user in
    event-time order — the Sankey-diagram input that extends the Markov
    transition matrix (2-step) to path analysis ("view>click>purchase vs
    view>error>view").

    Scale: one user-partitioned window with two leads (single sort), one
    map-side-combined path count, TakeOrderedAndProject top-10. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("t1"),
        F.lead("event_type", 1).over(w).alias("t2"),
        F.lead("event_type", 2).over(w).alias("t3"),
    )
    return (
        seq.filter(F.col("t2").isNotNull() & F.col("t3").isNotNull())
        .groupBy(
            F.concat_ws(">", "t1", "t2", "t3").alias("path")
        )
        .agg(bcount("n"))
        .orderBy(F.desc("n"), "path")
        .limit(10)
    )


@register(
    "q_ljung_box",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    ret AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn,
             y / LAG(y) OVER (ORDER BY d) - 1 AS r
      FROM daily
    ),
    rr AS (SELECT rn, r FROM ret WHERE r IS NOT NULL),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(r AS DECIMAL(18,12))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS rbar
      FROM rr
    ),
    dev AS (
      SELECT rn, r - m.rbar AS e, m.n FROM rr, m
    ),
    den AS (
      SELECT CAST(SUM(CAST(e * e AS DECIMAL(24,12))) AS DOUBLE) AS s0,
             MAX(n) AS n
      FROM dev
    ),
    lags AS (SELECT unnest(generate_series(1, 5)) AS k),
    num AS (
      SELECT lags.k,
             CAST(SUM(CAST(a.e * b.e AS DECIMAL(24,12))) AS DOUBLE) AS sk
      FROM lags
      JOIN dev a ON TRUE
      JOIN dev b ON b.rn = a.rn - lags.k
      GROUP BY 1
    ),
    rho AS (
      SELECT num.k, num.sk / den.s0 AS rho_k, den.n
      FROM num, den
    )
    SELECT CAST(k AS BIGINT) AS lag,
           round(rho_k, 6) AS rho,
           round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2)
                 * CAST(SUM(CAST(rho_k * rho_k / (n - k) AS DECIMAL(24,18)))
                        OVER (ORDER BY k
                              ROWS UNBOUNDED PRECEDING) AS DOUBLE), 4)
             AS q_stat_cum
    FROM rho
    """,
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test on daily revenue returns: sample
    autocorrelations ρ₁..ρ₅ and the cumulative Q(k) = n(n+2)Σ ρ²/(n−j)
    statistic per lag — "is there ANY serial structure left" after a model
    (χ²ₖ under white noise; companion to q_acf_daily_revenue /
    q_hourly_autocorr).

    Deviations come from the exact-decimal return mean; each lag's
    cross-product sum and the final Q accumulation route per-term through
    DECIMAL.

    Scale: the lagged self-joins run on the ~2.5k-row post-aggregate daily
    grid (broadcast), once per lag — never on raw data. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )
    word = Window.orderBy("d")
    ret = daily.select(
        F.row_number().over(word).alias("rn"),
        (F.col("y") / F.lag("y").over(word) - 1).alias("r"),
    ).filter(F.col("r").isNotNull())
    m = ret.agg(
        bcount("n"),
        (
            F.sum(F.col("r").cast("decimal(18,12)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("rbar"),
    )
    dev = ret.crossJoin(F.broadcast(m)).select(
        "rn", (F.col("r") - F.col("rbar")).alias("e"), "n"
    ).localCheckpoint(eager=True)
    den = dev.agg(
        F.sum((F.col("e") * F.col("e")).cast("decimal(24,12)"))
        .cast("double")
        .alias("s0"),
        F.max("n").alias("n"),
    )
    lags = spark.range(1, 6).select(F.col("id").cast("int").alias("k"))
    a = dev.select(F.col("rn").alias("rna"), F.col("e").alias("ea"))
    b = dev.select(F.col("rn").alias("rnb"), F.col("e").alias("eb"))
    num = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("rnb") == F.col("rna") - F.col("k"))
        .groupBy("k")
        .agg(
            F.sum((F.col("ea") * F.col("eb")).cast("decimal(24,12)"))
            .cast("double")
            .alias("sk")
        )
    )
    rho = num.crossJoin(F.broadcast(den)).select(
        "k", (F.col("sk") / F.col("s0")).alias("rho_k"), "n"
    )
    wq = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    nd = F.col("n").cast("double")
    return rho.select(
        F.col("k").cast("bigint").alias("lag"),
        F.round("rho_k", 6).alias("rho"),
        F.round(
            nd
            * (nd + 2)
            * F.sum(
                (
                    F.col("rho_k") * F.col("rho_k") / (F.col("n") - F.col("k"))
                ).cast("decimal(24,18)")
            )
            .over(wq)
            .cast("double"),
            4,
        ).alias("q_stat_cum"),
    )
