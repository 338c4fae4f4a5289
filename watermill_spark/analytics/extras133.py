"""Analytics batch 141: Efraimidis–Spirakis weighted sampling without
replacement, pinball-loss quantile-regression slope grid, and
Benjamini–Yekutieli FDR control under dependence.

Weighted reservoir keys (u^{1/w} via ln u / w on a portable md5 uniform)
are the distributed answer to "sample 20 orders proportional to spend" —
per-partition top-k merges exactly, no rejection loop; the τ=0.9
quantile regression bounds the upper envelope of the revenue trend
(what capacity planning actually needs, vs the OLS mean line); BY
completes the multiple-testing shelf next to q_fdr_bh for the correlated
-hypotheses case where BH's independence assumption fails.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B sampling/regression/testing-family operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec, hexval8, sql_hexval8
from .registry import load, register

_WS_K = 20


@register(
    "q_weighted_sample_aes",
    oracle=f"""
    WITH keyed AS (
      SELECT o_orderkey, o_totalprice,
             ln(({sql_hexval8("md5('ws:' || CAST(o_orderkey AS VARCHAR))")}
                 + 1.0) / 4294967297.0)
             / CAST(o_totalprice AS DOUBLE) AS k
      FROM orders
    ),
    ranked AS (
      SELECT o_orderkey, o_totalprice, k,
             ROW_NUMBER() OVER (ORDER BY k DESC, o_orderkey) AS rn
      FROM keyed
    )
    SELECT CAST(rn AS BIGINT) AS rank,
           o_orderkey,
           CAST(o_totalprice AS DOUBLE) AS weight,
           round(k * 100000.0, 8) AS es_key_x1e5
    FROM ranked WHERE rn <= {_WS_K}
    ORDER BY rn
    """,
)
def q_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sampling without replacement: each
    order draws a deterministic uniform u from its md5 ('ws:' seed, the
    portable hex idiom, shifted to (0,1]) and gets key ln(u)/w with
    w = o_totalprice; the top-k keys ARE a weight-proportional sample
    without replacement (A-ES algorithm). Reports the k=20 sampled
    orders — reproducible across engines, runs, and partitionings,
    which is what makes it auditable.

    Determinism: u is an exact 32-bit md5 fraction; ln and the division
    are the same fixed-shape double expression both engines; top-k
    tiebreaks on o_orderkey.

    Scale: embarrassingly parallel key computation; per-partition top-k
    (WindowGroupLimit) merges to the global top-k — the A-ES property
    that keys are comparable across partitions means no coordination
    beyond one k-row shuffle. §2.B sampling [NS].
    """
    o = load(spark, sf_dir, "orders")
    u = (
        hexval8(
            F.md5(F.concat(F.lit("ws:"), F.col("o_orderkey").cast("string")))
        )
        + 1.0
    ) / 4294967297.0
    keyed = o.select(
        "o_orderkey",
        "o_totalprice",
        (F.log(u) / F.col("o_totalprice").cast("double")).alias("k"),
    )
    w = Window.orderBy(F.desc("k"), F.asc("o_orderkey"))
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _WS_K)
        .select(
            F.col("rn").cast("bigint").alias("rank"),
            "o_orderkey",
            F.col("o_totalprice").cast("double").alias("weight"),
            F.round(F.col("k") * 100000.0, 8).alias("es_key_x1e5"),
        )
        .orderBy("rank")
    )


@register(
    "q_quantile_regression_grid",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    grid AS (
      SELECT d, y,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS BIGINT) AS x,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    ols AS (
      SELECT (CAST(MAX(n) AS DOUBLE) * CAST(SUM(CAST(x * y AS DECIMAL(38,10)))
                AS DOUBLE)
              - CAST(SUM(x) AS DOUBLE) * CAST(SUM(CAST(y AS DECIMAL(38,15)))
                AS DOUBLE))
             / (CAST(MAX(n) AS DOUBLE) * CAST(SUM(x * x) AS DOUBLE)
                - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)) AS b
      FROM grid
    ),
    slopes AS (
      SELECT k, (SELECT b FROM ols) * (0.5 + k * 0.05) AS s
      FROM (SELECT unnest(range(0, 21)) AS k)
    ),
    resid AS (
      SELECT s.k, s.s, g.d, g.n, g.y - s.s * g.x AS r
      FROM grid g, slopes s
    ),
    q AS (
      SELECT k, s, n,
             MAX(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN r END) AS q
      FROM (
        SELECT k, s, n, r,
               ROW_NUMBER() OVER (PARTITION BY k ORDER BY r, d) AS rn
        FROM resid)
      GROUP BY 1, 2, 3
    ),
    loss AS (
      SELECT q.k, q.s, q.q, q.n,
             CAST(SUM(CAST(
               CASE WHEN r.r >= q.q THEN 0.9 * (r.r - q.q)
                    ELSE 0.1 * (q.q - r.r) END AS DECIMAL(38,10)))
               AS DOUBLE) AS pinball
      FROM resid r JOIN q ON q.k = r.k
      GROUP BY 1, 2, 3, 4
    ),
    best AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY pinball, k) AS brn FROM loss
    )
    SELECT CAST(n AS BIGINT) AS n_days,
           round((SELECT b FROM ols), 6) AS ols_slope,
           round(s, 6) AS q90_slope,
           round(q, 4) AS q90_intercept,
           round(pinball, 2) AS pinball_loss
    FROM best WHERE brn = 1
    """,
)
def q_quantile_regression_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """τ=0.9 quantile regression of daily revenue on the day index by
    profiled grid search: 21 candidate slopes spanning 0.5×–1.5× the OLS
    slope; for each, the profiled intercept is the empirical (type-1)
    0.9-quantile of the residuals and the objective is the pinball loss
    Σ ρ_τ(r − q). The argmin bounds the *upper envelope* of the trend —
    the line 90% of days fall under, which capacity planning wants
    instead of the mean line.

    Determinism: OLS slope from exact DECIMAL sums; the profiled
    quantile is an order statistic (rank ceil(0.9n), ties by day) — no
    interpolation, so no cross-engine FP in the quantile; pinball terms
    cast DECIMAL(38,10) per-term; argmin tiebreaks on grid index.

    Scale: facts collapse to the day grid once; the 21-slope grid is a
    broadcast cross onto that bounded grid (whitelisted BNLJ); per-slope
    windows partition by k. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    )
    grid = daily.select(
        "d",
        "y",
        F.row_number().over(Window.orderBy("d")).cast("bigint").alias("x"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    ols = grid.agg(
        (
            (
                F.max("n").cast("double")
                * F.sum((F.col("x") * F.col("y")).cast("decimal(38,10)")).cast(
                    "double"
                )
                - F.sum("x").cast("double")
                * F.sum(F.col("y").cast(D15)).cast("double")
            )
            / (
                F.max("n").cast("double") * F.sum(F.col("x") * F.col("x")).cast("double")
                - F.sum("x").cast("double") * F.sum("x").cast("double")
            )
        ).alias("b")
    )
    slopes = (
        spark.range(0, 21)
        .select(F.col("id").cast("bigint").alias("k"))
        .crossJoin(F.broadcast(ols))
        .select("k", (F.col("b") * (0.5 + F.col("k") * 0.05)).alias("s"), "b")
    )
    resid = grid.crossJoin(F.broadcast(slopes)).select(
        "k", "s", "b", "d", "n", (F.col("y") - F.col("s") * F.col("x")).alias("r")
    )
    wr = Window.partitionBy("k").orderBy("r", "d")
    withq = resid.withColumn("rn", F.row_number().over(wr)).withColumn(
        "q",
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.9 * F.col("n")).cast("bigint"), F.col("r")
            )
        ).over(Window.partitionBy("k")),
    )
    pin = F.when(
        F.col("r") >= F.col("q"), 0.9 * (F.col("r") - F.col("q"))
    ).otherwise(0.1 * (F.col("q") - F.col("r")))
    loss = withq.groupBy("k", "s", "b", "q", "n").agg(
        F.sum(pin.cast("decimal(38,10)")).cast("double").alias("pinball")
    )
    best = loss.withColumn(
        "brn", F.row_number().over(Window.orderBy("pinball", "k"))
    ).filter(F.col("brn") == 1)
    return best.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.round("b", 6).alias("ols_slope"),
        F.round("s", 6).alias("q90_slope"),
        F.round("q", 4).alias("q90_intercept"),
        F.round("pinball", 2).alias("pinball_loss"),
    )


_BY_ALPHA = 0.10


@register(
    "q_benjamini_yekutieli",
    oracle=f"""
    WITH m AS (
      SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(38,12))) AS DOUBLE)
               AS ss
      FROM customer GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(CAST(s AS DECIMAL(38,10))) AS DOUBLE) AS st,
             CAST(SUM(CAST(ss AS DECIMAL(38,8))) AS DOUBLE) AS sst
      FROM m
    ),
    z AS (
      SELECT m.c_nationkey, m.n,
             (m.s / m.n - (t.st - m.s) / (t.nt - m.n))
             / sqrt((m.n * m.ss - m.s * m.s)
                    / (CAST(m.n AS DOUBLE) * (m.n - 1)) / m.n
                    + ((t.nt - m.n) * (t.sst - m.ss)
                       - (t.st - m.s) * (t.st - m.s))
                      / (CAST(t.nt - m.n AS DOUBLE) * (t.nt - m.n - 1))
                      / (t.nt - m.n)) AS zs
      FROM m, tot t
    ),
    p AS (
      SELECT c_nationkey, zs,
             2.0 / (1.0 + exp(1.702 * abs(zs))) AS praw,
             ROW_NUMBER() OVER (
               ORDER BY 2.0 / (1.0 + exp(1.702 * abs(zs))), c_nationkey) AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS mm
      FROM z
    ),
    harm AS (
      SELECT *,
             CAST(SUM(CAST(1.0 / rk AS DECIMAL(38,15))) OVER () AS DOUBLE)
               AS cm
      FROM p
    ),
    adj AS (
      SELECT c_nationkey, zs, praw, rk, mm, cm,
             {_BY_ALPHA} * rk / (mm * cm) AS thresh,
             LEAST(1.0, MIN(cm * mm * praw / rk) OVER (
               ORDER BY rk DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS padj,
             MAX(CASE WHEN praw <= {_BY_ALPHA} * rk / (mm * cm)
                      THEN rk ELSE 0 END) OVER () AS kstar
      FROM harm
    )
    SELECT c_nationkey, CAST(rk AS BIGINT) AS rank,
           round(zs, 4) AS z_stat,
           round(praw, 8) AS p_raw,
           round(cm, 6) AS c_m,
           round(thresh, 8) AS by_threshold,
           round(padj, 8) AS p_adj,
           CASE WHEN rk <= kstar THEN 1 ELSE 0 END AS rejected
    FROM adj
    ORDER BY rank
    """,
)
def q_benjamini_yekutieli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Yekutieli step-up FDR control (α=0.10) over the family
    of per-nation "is this nation's mean account balance different from
    the rest?" z-tests. BY divides BH's thresholds by the harmonic
    number c(m) = Σ1/i, buying validity under ARBITRARY dependence —
    and these m hypotheses ARE dependent (every test shares the
    complement), exactly the case where plain BH (q_fdr_bh) is not
    guaranteed. Reports per-nation rank, raw/adjusted p, threshold and
    rejection.

    Determinism: per-nation moments are exact DECIMAL sums; the
    complement's moments are total-minus-nation (one pass, no
    self-join); c(m) sums 1/rank through DECIMAL(38,15); p-ties break
    on nation key.

    Scale: one map-side-combined pass to the ≤25-nation grid; ranking /
    step-up windows run on that grid. §2.B [NS].
    """
    c = load(spark, sf_dir, "customer")
    m = c.groupBy("c_nationkey").agg(
        bcount("n"),
        F.sum(dec("c_acctbal")).cast("double").alias("s"),
        F.sum((F.col("c_acctbal") * F.col("c_acctbal")).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss"),
    )
    tot = m.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum(F.col("s").cast("decimal(38,10)")).cast("double").alias("st"),
        F.sum(F.col("ss").cast("decimal(38,8)")).cast("double").alias("sst"),
    )
    j = m.crossJoin(F.broadcast(tot))
    nd = F.col("n").cast("double")
    nr = (F.col("nt") - F.col("n")).cast("double")
    var_i = (F.col("n") * F.col("ss") - F.col("s") * F.col("s")) / (
        nd * (F.col("n") - 1)
    ) / F.col("n")
    sr = F.col("st") - F.col("s")
    ssr = F.col("sst") - F.col("ss")
    var_r = ((F.col("nt") - F.col("n")) * ssr - sr * sr) / (
        nr * (F.col("nt") - F.col("n") - 1)
    ) / (F.col("nt") - F.col("n"))
    zs = (F.col("s") / F.col("n") - sr / (F.col("nt") - F.col("n"))) / F.sqrt(
        var_i + var_r
    )
    z = j.select("c_nationkey", "n", zs.alias("zs"))
    praw = 2.0 / (1.0 + F.exp(1.702 * F.abs(F.col("zs"))))
    wall = Window.partitionBy()
    p = z.select(
        "c_nationkey",
        "zs",
        praw.alias("praw"),
        F.row_number().over(Window.orderBy(praw, "c_nationkey")).alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("mm"),
    )
    harm = p.withColumn(
        "cm",
        F.sum((1.0 / F.col("rk")).cast(D15)).over(wall).cast("double"),
    )
    thresh = F.lit(_BY_ALPHA) * F.col("rk") / (F.col("mm") * F.col("cm"))
    wrev = Window.orderBy(F.desc("rk")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    adj = harm.select(
        "c_nationkey",
        "zs",
        "praw",
        "rk",
        "mm",
        "cm",
        thresh.alias("thresh"),
        F.least(
            F.lit(1.0),
            F.min(F.col("cm") * F.col("mm") * F.col("praw") / F.col("rk")).over(
                wrev
            ),
        ).alias("padj"),
        F.max(F.when(F.col("praw") <= thresh, F.col("rk")).otherwise(0))
        .over(wall)
        .alias("kstar"),
    )
    return adj.select(
        "c_nationkey",
        F.col("rk").cast("bigint").alias("rank"),
        F.round("zs", 4).alias("z_stat"),
        F.round("praw", 8).alias("p_raw"),
        F.round("cm", 6).alias("c_m"),
        F.round("thresh", 8).alias("by_threshold"),
        F.round("padj", 8).alias("p_adj"),
        F.when(F.col("rk") <= F.col("kstar"), 1).otherwise(0).alias("rejected"),
    ).orderBy("rank")
