"""Analytics batch 154: Krippendorff's alpha, intraclass correlation
ICC(1,1), and Bland-Altman method agreement.

Three measurement-reliability operators: Krippendorff's alpha grades
inter-rater agreement beyond chance (here: the declared language label
vs the registered q_doc_langid stopword detector — the label-quality
audit a corpus curator runs before trusting either); ICC(1,1) asks how
much of price variance is BETWEEN parts vs within a part across its
suppliers (is "the part's price" even a well-defined number?); Bland-
Altman is the method-comparison plot summary (bias + limits of
agreement) for list price vs realized sale price.

Complements q_weighted_kappa (ordinal agreement) and
q_split_half_reliability.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/statistics families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register
from .text import _SQL_STOPLIST, EN_STOPWORDS


@register(
    "q_krippendorff_alpha",
    oracle=f"""
    WITH units AS (
      SELECT (lang = 'en') AS a,
             (CAST(len(list_filter(string_split(text, ' '),
                x -> x IN ({_SQL_STOPLIST}))) AS DOUBLE)
              / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.08) AS b
      FROM documents
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_units,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT)
               AS tt,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)
                  AS BIGINT) AS ff,
             CAST(SUM(CASE WHEN a <> b THEN 1 ELSE 0 END) AS BIGINT)
               AS dis
      FROM units
    ),
    marg AS (
      SELECT n_units, tt, ff, dis,
             CAST(2 * n_units AS BIGINT) AS n,
             CAST(2 * tt + dis AS BIGINT) AS n_true,
             CAST(2 * ff + dis AS BIGINT) AS n_false
      FROM cells
    )
    SELECT n_units, dis AS n_disagreements,
           round(CAST(2 * dis AS DOUBLE) / n, 6) AS observed_disagreement,
           round(CAST(2 * n_true * n_false AS DOUBLE) / (n * (n - 1.0)),
                 6) AS expected_disagreement,
           round(1.0 - (CAST(2 * dis AS DOUBLE) / n)
                 / (CAST(2 * n_true * n_false AS DOUBLE)
                    / (n * (n - 1.0))), 6) AS krippendorff_alpha
    FROM marg
    """,
)
def q_krippendorff_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Krippendorff's alpha (nominal, two raters) between the declared
    language label (rater A: lang == 'en') and the registered
    q_doc_langid stopword detector (rater B): alpha = 1 − Do/De over
    the coincidence matrix, the chance-corrected agreement measure that
    — unlike raw accuracy — stays honest under label imbalance. The
    label-quality audit run before trusting either source of truth to
    filter a pretraining corpus.

    Determinism: every quantity is an integer coincidence count; the
    two disagreement rates are fixed double ratios of integers.

    Scale: one narrow map (token membership ratio) + one 1-row
    aggregate; no joins, text never shuffles. §2.B statistics family +
    text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    stoplist = ",".join(f"'{w}'" for w in EN_STOPWORDS)
    hits = F.expr(f"size(filter(split(text, ' '), x -> x IN ({stoplist})))")
    ratio = hits.cast("double") / F.size(F.split("text", " ")).cast("double")
    units = docs.select(
        (F.col("lang") == "en").alias("a"), (ratio > 0.08).alias("b")
    )
    cells = units.agg(
        bcount("n_units"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("tt"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("ff"),
        F.sum(F.when(F.col("a") != F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("dis"),
    )
    marg = cells.select(
        "n_units",
        "dis",
        (2 * F.col("n_units")).cast("bigint").alias("n"),
        (2 * F.col("tt") + F.col("dis")).cast("bigint").alias("n_true"),
        (2 * F.col("ff") + F.col("dis")).cast("bigint").alias("n_false"),
    )
    do = (2 * F.col("dis")).cast("double") / F.col("n")
    de = (2 * F.col("n_true") * F.col("n_false")).cast("double") / (
        F.col("n") * (F.col("n") - 1.0)
    )
    return marg.select(
        "n_units",
        F.col("dis").alias("n_disagreements"),
        F.round(do, 6).alias("observed_disagreement"),
        F.round(de, 6).alias("expected_disagreement"),
        F.round(1.0 - do / de, 6).alias("krippendorff_alpha"),
    )


@register(
    "q_icc_reliability",
    oracle="""
    WITH meas AS (
      SELECT l_partkey, l_suppkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1, 2
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 0
    ),
    per_part AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS ss
      FROM meas GROUP BY 1
      HAVING COUNT(*) >= 2
    ),
    tots AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS i,
             CAST(SUM(k) AS BIGINT) AS n,
             CAST(SUM(CAST(s AS DECIMAL(38,10))) AS DOUBLE) AS g,
             CAST(SUM(CAST(ss AS DECIMAL(38,10))) AS DOUBLE) AS gss,
             CAST(SUM(CAST(s * s / k AS DECIMAL(38,10))) AS DOUBLE)
               AS sgrp,
             CAST(SUM(CAST(k * k AS DECIMAL(38,6))) AS DOUBLE) AS sk2
      FROM per_part
    ),
    ms AS (
      SELECT i, n,
             (sgrp - g * g / n) / (i - 1.0) AS msb,
             (gss - sgrp) / (n - i) AS msw,
             (n - sk2 / n) / (i - 1.0) AS k0
      FROM tots
    )
    SELECT i AS n_parts, n AS n_measurements,
           round(k0, 6) AS k0,
           round(msb, 6) AS ms_between,
           round(msw, 6) AS ms_within,
           round((msb - msw) / (msb + (k0 - 1.0) * msw), 6) AS icc1
    FROM ms
    """,
)
def q_icc_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ICC(1,1) one-way random-effects intraclass correlation of part
    prices across suppliers: each part is a "subject", each supplier's
    effective unit price a "measurement"; ICC = (MSB − MSW)/(MSB +
    (k₀−1)·MSW) with the unbalanced-design k₀ = (N − Σk²/N)/(I−1) —
    high ICC means "the part's price" is a stable property of the part,
    low ICC means supplier effects dominate and a single list price is
    a fiction.

    Determinism: all ANOVA sums route through DECIMAL; MS ratios are
    fixed double expressions.

    Scale: two nested rollups (fact → (part, supplier) → part) with
    map-side combine, one 1-row aggregate. §2.B aggregation family
    [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    meas = (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("rev"),
            F.sum(dec("l_quantity")).cast("double").alias("qty"),
        )
        .filter(F.col("qty") > 0)
        .select("l_partkey", (F.col("rev") / F.col("qty")).alias("y"))
    )
    per_part = (
        meas.groupBy("l_partkey")
        .agg(
            bcount("k"),
            F.sum(F.col("y").cast(D15)).cast("double").alias("s"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
            .cast("double")
            .alias("ss"),
        )
        .filter(F.col("k") >= 2)
    )
    tots = per_part.agg(
        bcount("i"),
        F.sum("k").cast("bigint").alias("n"),
        F.sum(F.col("s").cast("decimal(38,10)")).cast("double").alias("g"),
        F.sum(F.col("ss").cast("decimal(38,10)")).cast("double").alias("gss"),
        F.sum((F.col("s") * F.col("s") / F.col("k")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sgrp"),
        F.sum((F.col("k") * F.col("k")).cast("decimal(38,6)"))
        .cast("double")
        .alias("sk2"),
    )
    ms = tots.select(
        "i",
        "n",
        ((F.col("sgrp") - F.col("g") * F.col("g") / F.col("n")) / (F.col("i") - 1.0)).alias(
            "msb"
        ),
        ((F.col("gss") - F.col("sgrp")) / (F.col("n") - F.col("i"))).alias("msw"),
        ((F.col("n") - F.col("sk2") / F.col("n")) / (F.col("i") - 1.0)).alias("k0"),
    )
    return ms.select(
        F.col("i").alias("n_parts"),
        F.col("n").alias("n_measurements"),
        F.round("k0", 6).alias("k0"),
        F.round("msb", 6).alias("ms_between"),
        F.round("msw", 6).alias("ms_within"),
        F.round(
            (F.col("msb") - F.col("msw"))
            / (F.col("msb") + (F.col("k0") - 1.0) * F.col("msw")),
            6,
        ).alias("icc1"),
    )


@register(
    "q_bland_altman",
    oracle="""
    WITH sale AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS m1
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 0
    ),
    pairs AS (
      SELECT s.m1, p.p_retailprice AS m2,
             s.m1 - p.p_retailprice AS diff
      FROM sale s JOIN part p ON p.p_partkey = s.l_partkey
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(diff AS DECIMAL(38,15))) AS DOUBLE) AS sd_,
             CAST(SUM(CAST(diff * diff AS DECIMAL(38,10))) AS DOUBLE)
               AS sdd
      FROM pairs
    ),
    lim AS (
      SELECT n, sd_ / n AS bias,
             sqrt((sdd - sd_ * sd_ / n) / (n - 1.0)) AS s
      FROM mom
    )
    SELECT l.n AS n_parts,
           round(l.bias, 4) AS bias,
           round(l.bias - 1.96 * l.s, 4) AS loa_low,
           round(l.bias + 1.96 * l.s, 4) AS loa_high,
           round(CAST(SUM(CASE WHEN p.diff < l.bias - 1.96 * l.s
                               OR p.diff > l.bias + 1.96 * l.s
                          THEN 1 ELSE 0 END) AS DOUBLE) / l.n * 100.0, 4)
             AS pct_outside
    FROM pairs p, lim l
    GROUP BY l.n, l.bias, l.s
    """,
)
def q_bland_altman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bland-Altman agreement between realized sale price (exact
    revenue/quantity per part) and the catalog list price
    (p_retailprice): mean bias, 95% limits of agreement bias ± 1.96·sd,
    and the share of parts falling outside them — the method-comparison
    summary that answers "can list price substitute for realized
    price?" the way correlation alone cannot.

    Determinism: per-part prices and difference moments are
    decimal-exact; the limits are fixed double expressions; the outside
    count compares identical doubles on both engines.

    Scale: one fact rollup to the part grain + a broadcast dimension
    join; the 1-row limits broadcast back onto parts is a whitelisted
    1-row aggregate. §2.B aggregation family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    sale = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("rev"),
            F.sum(dec("l_quantity")).cast("double").alias("qty"),
        )
        .filter(F.col("qty") > 0)
        .select("l_partkey", (F.col("rev") / F.col("qty")).alias("m1"))
    )
    # checkpointed once (r6): the moment fit and the outside-limits count
    # both re-derived the rollup+dim join (2 lineitem scans in the plan);
    # the part-domain diff grid materializes once
    pairs = sale.join(
        part, sale.l_partkey == part.p_partkey
    ).select(
        "m1", (F.col("m1") - F.col("p_retailprice")).alias("diff")
    ).localCheckpoint(eager=True)
    mom = pairs.agg(
        bcount("n"),
        F.sum(F.col("diff").cast(D15)).cast("double").alias("sd_"),
        F.sum((F.col("diff") * F.col("diff")).cast("decimal(38,10)"))
        .cast("double")
        .alias("sdd"),
    )
    lim = mom.select(
        "n",
        (F.col("sd_") / F.col("n")).alias("bias"),
        F.sqrt(
            (F.col("sdd") - F.col("sd_") * F.col("sd_") / F.col("n"))
            / (F.col("n") - 1.0)
        ).alias("s"),
    )
    return (
        pairs.crossJoin(F.broadcast(lim))
        .groupBy("n", "bias", "s")
        .agg(
            F.sum(
                F.when(
                    (F.col("diff") < F.col("bias") - 1.96 * F.col("s"))
                    | (F.col("diff") > F.col("bias") + 1.96 * F.col("s")),
                    1,
                ).otherwise(0)
            )
            .cast("double")
            .alias("n_out")
        )
        .select(
            F.col("n").alias("n_parts"),
            F.round("bias", 4).alias("bias"),
            F.round(F.col("bias") - 1.96 * F.col("s"), 4).alias("loa_low"),
            F.round(F.col("bias") + 1.96 * F.col("s"), 4).alias("loa_high"),
            F.round(F.col("n_out") / F.col("n") * 100.0, 4).alias(
                "pct_outside"
            ),
        )
    )
