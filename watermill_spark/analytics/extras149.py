"""Analytics batch 157: per-source cap retention, two-group ANCOVA, and
the Cochran-Armitage trend test.

Per-source capping is the data-mixture lever every pretraining run
pulls (cap the dominant crawl so the mix isn't 90% one source) — this
query simulates a cap and reports what survives, deterministically.
ANCOVA compares weekend vs weekday revenue AFTER removing the shared
time trend — the adjusted comparison that a raw t-test (q_welch_ttest)
gets wrong when both groups drift together. Cochran-Armitage is the
trend-in-proportions test across ordered categories (is return rate
monotone in day-of-week?), the categorical sibling of
q_jonckheere_terpstra.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/aggregation/statistics families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, ols_moments, sql_ols_moments
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue


@register(
    "q_source_cap_retention",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             CAST(ROW_NUMBER() OVER (PARTITION BY source
                    ORDER BY md5('cap:' || doc_id), doc_id) AS BIGINT)
               AS rk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= 150 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           round(CAST(SUM(CASE WHEN rk <= 150 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*) * 100.0, 4)
             AS retention_pct,
           CAST(SUM(CASE WHEN rk <= 150 THEN n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
)
def q_source_cap_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap simulation (cap = 150 docs/source): each
    source's documents are ranked by md5('cap:'||doc_id) — a
    deterministic uniform shuffle — and only the first 150 survive;
    reports per-source retention in documents and characters — the
    data-mixture rebalancing lever (cap the dominant crawl) evaluated
    BEFORE committing the expensive filtered rewrite, companion to
    q_data_mixture allocation.

    Determinism: the md5 rank is a pure function of doc_id with a
    doc_id tiebreak; all outputs are integer counts.

    Scale: one rank window partitioned by source (parallel across
    sources; a skewed giant source range-partitions within the key) +
    one rollup. §2.B window family + pipeline mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number()
        .over(
            Window.partitionBy("source").orderBy(
                F.md5(F.concat(F.lit("cap:"), F.col("doc_id"))), "doc_id"
            )
        )
        .cast("bigint")
        .alias("rk"),
    )
    kept = F.sum(F.when(F.col("rk") <= 150, 1).otherwise(0))
    return (
        ranked.groupBy("source")
        .agg(
            bcount("n_docs"),
            kept.cast("bigint").alias("n_kept"),
            F.round(kept.cast("double") / F.count(F.lit(1)) * 100.0, 4).alias(
                "retention_pct"
            ),
            F.sum(F.when(F.col("rk") <= 150, F.col("n_chars")).otherwise(0))
            .cast("bigint")
            .alias("kept_chars"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("source")
    )


@register(
    "q_ancova",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    pts AS (
      SELECT y,
             CAST(ROW_NUMBER() OVER (ORDER BY d) AS DOUBLE) AS x,
             CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS g
      FROM daily
    ),
    grp AS (
      SELECT g,
             {sql_ols_moments()}
      FROM pts GROUP BY 1
    ),
    pooled AS (
      SELECT CAST(SUM(CAST(sxx - sx * sx / n AS DECIMAL(38,10)))
                  AS DOUBLE) AS wxx,
             CAST(SUM(CAST(sxy - sx * sy / n AS DECIMAL(38,10)))
                  AS DOUBLE) AS wxy
      FROM grp
    ),
    adj AS (
      SELECT g.g, g.n, g.sy / g.n AS my, g.sx / g.n AS mx,
             p.wxy / p.wxx AS b
      FROM grp g, pooled p
    ),
    gm AS (
      SELECT CAST(SUM(CAST(mx * n AS DECIMAL(38,10))) AS DOUBLE)
             / SUM(n) AS gmx
      FROM adj
    )
    SELECT a.g AS is_weekend, a.n AS n_days,
           round(a.my, 4) AS raw_mean,
           round(a.my - a.b * (a.mx - m.gmx), 4) AS adjusted_mean,
           round(a.b, 6) AS pooled_slope
    FROM adj a, gm m
    ORDER BY a.g
    """,
)
def q_ancova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-group ANCOVA of daily revenue (weekend vs weekday) with the
    time index as covariate: fit the pooled within-group slope b, then
    report each group's covariate-adjusted mean ȳ_g − b(x̄_g − x̄) —
    the comparison that removes the shared calendar drift a raw group
    mean difference (q_welch_ttest) conflates with the weekend effect.

    Determinism: per-group OLS moments are decimal-exact; the pooled
    slope and adjusted means are fixed double expressions of them.

    Scale: facts collapse to the day grid; the 2-row group moments and
    1-row pooled slope broadcast trivially (whitelisted). §2.B
    regression family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    pts = daily.select(
        "y",
        F.row_number().over(Window.orderBy("d")).cast("double").alias("x"),
        F.when(((F.dayofweek("d") + 5) % 7) + 1 >= 6, 1).otherwise(0).alias("g"),
    )
    grp = pts.groupBy("g").agg(
        *ols_moments(),
    )
    pooled = grp.agg(
        F.sum(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("wxx"),
        F.sum(
            (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")).cast(
                "decimal(38,10)"
            )
        )
        .cast("double")
        .alias("wxy"),
    )
    adj = grp.crossJoin(F.broadcast(pooled)).select(
        "g",
        "n",
        (F.col("sy") / F.col("n")).alias("my"),
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("wxy") / F.col("wxx")).alias("b"),
    )
    gm = adj.agg(
        (
            F.sum((F.col("mx") * F.col("n")).cast("decimal(38,10)")).cast(
                "double"
            )
            / F.sum("n")
        ).alias("gmx")
    )
    return (
        adj.crossJoin(F.broadcast(gm))
        .select(
            F.col("g").alias("is_weekend"),
            F.col("n").alias("n_days"),
            F.round("my", 4).alias("raw_mean"),
            F.round(
                F.col("my") - F.col("b") * (F.col("mx") - F.col("gmx")), 4
            ).alias("adjusted_mean"),
            F.round("b", 6).alias("pooled_slope"),
        )
        .orderBy("is_weekend")
    )


@register(
    "q_cochran_armitage",
    oracle="""
    WITH lab AS (
      SELECT CAST(isodow(CAST(l_shipdate AS DATE)) AS BIGINT) AS dow,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS ret
      FROM lineitem
    ),
    grp AS (
      SELECT dow,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ret) AS BIGINT) AS k
      FROM lab GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nn,
             CAST(SUM(k) AS BIGINT) AS kk,
             CAST(SUM(k) AS DOUBLE) / SUM(n) AS pbar,
             CAST(SUM(CAST(k * dow AS DECIMAL(38,6))) AS DOUBLE) AS skw,
             CAST(SUM(CAST(n * dow AS DECIMAL(38,6))) AS DOUBLE) AS snw,
             CAST(SUM(CAST(n * dow * dow AS DECIMAL(38,6))) AS DOUBLE)
               AS snw2
      FROM grp
    )
    SELECT nn AS n_lines, kk AS n_returned,
           round(pbar, 6) AS pooled_rate,
           round((skw - pbar * snw)
                 / sqrt(pbar * (1.0 - pbar)
                        * (snw2 - snw * snw / nn)), 6) AS ca_z,
           CAST(abs((skw - pbar * snw)
                    / sqrt(pbar * (1.0 - pbar)
                           * (snw2 - snw * snw / nn))) > 1.96
                AS BOOLEAN) AS reject_no_trend
    FROM tot
    """,
)
def q_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage trend test: is the return rate monotone across
    the ordered day-of-week categories (ISO 1=Mon..7=Sun)? z =
    (Σk_i·w_i − p̄·Σn_i·w_i) / √(p̄(1−p̄)(Σn_i w_i² − (Σn_i w_i)²/N))
    with w_i the category scores — the proportions-across-ordered-
    groups sibling of q_jonckheere_terpstra (which handles continuous
    outcomes), more powerful than an unordered chi-square when the
    alternative really is a trend.

    Determinism: all moments are integer products summed through
    DECIMAL; z is one fixed double expression.

    Scale: one narrow map + a 7-row group rollup + one 1-row aggregate
    — a single fact pass, no joins. §2.B statistics family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    lab = li.select(
        (((F.dayofweek(F.col("l_shipdate").cast("date")) + 5) % 7) + 1)
        .cast("bigint")
        .alias("dow"),
        F.when(F.col("l_returnflag") == "R", 1).otherwise(0).alias("ret"),
    )
    grp = lab.groupBy("dow").agg(
        bcount("n"), F.sum("ret").cast("bigint").alias("k")
    )
    tot = grp.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("k").cast("bigint").alias("kk"),
        (F.sum("k").cast("double") / F.sum("n")).alias("pbar"),
        F.sum((F.col("k") * F.col("dow")).cast("decimal(38,6)"))
        .cast("double")
        .alias("skw"),
        F.sum((F.col("n") * F.col("dow")).cast("decimal(38,6)"))
        .cast("double")
        .alias("snw"),
        F.sum((F.col("n") * F.col("dow") * F.col("dow")).cast("decimal(38,6)"))
        .cast("double")
        .alias("snw2"),
    )
    z = (F.col("skw") - F.col("pbar") * F.col("snw")) / F.sqrt(
        F.col("pbar")
        * (1.0 - F.col("pbar"))
        * (F.col("snw2") - F.col("snw") * F.col("snw") / F.col("nn"))
    )
    return tot.select(
        F.col("nn").alias("n_lines"),
        F.col("kk").alias("n_returned"),
        F.round("pbar", 6).alias("pooled_rate"),
        F.round(z, 6).alias("ca_z"),
        (F.abs(z) > 1.96).alias("reject_no_trend"),
    )
