"""Analytics batch 33: operational distributions & corpus audits —
orders-per-customer frequency-of-frequencies, shipping-delay percentiles
by priority (exact rank math), crude readability scores, cumulative
catalog growth, and a character-class corpus audit.

All percentile work is rank math over total orders (no engine percentile
functions — their interpolation rules differ); all ratio means reduce
through exact integer/decimal sums first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register, spread


@register(
    "q_order_frequency_distribution",
    oracle="""
    WITH per AS (
      SELECT o_custkey, COUNT(*) AS k FROM orders GROUP BY 1
    ),
    freq AS (
      SELECT k, COUNT(*) AS n_customers FROM per GROUP BY 1
    ),
    t AS (
      SELECT k, n_customers,
             SUM(n_customers) OVER () AS total,
             SUM(n_customers) OVER (ORDER BY k) AS cum
      FROM freq
    )
    SELECT CAST(k AS BIGINT) AS orders_placed,
           CAST(n_customers AS BIGINT) AS n_customers,
           round(CAST(n_customers AS DOUBLE) / total, 6) AS share,
           round(CAST(cum AS DOUBLE) / total, 6) AS cum_share
    FROM t
    """,
)
def q_order_frequency_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequency-of-frequencies: how many customers placed exactly k orders,
    with shares and the cumulative distribution — the engagement-depth
    histogram (and the input shape for Good-Turing smoothing).

    Scale: two integer-count reductions (customer, then k) plus windows on
    the ≤max(k) grid. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    per = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("k"))
    freq = per.groupBy("k").agg(F.count(F.lit(1)).alias("n_customers"))
    t = freq.select(
        "*",
        F.sum("n_customers").over(Window.partitionBy(F.lit(1))).alias("total"),
        F.sum("n_customers").over(Window.orderBy("k")).alias("cum"),
    )
    return t.select(
        F.col("k").cast("bigint").alias("orders_placed"),
        F.col("n_customers").cast("bigint").alias("n_customers"),
        F.round(F.col("n_customers").cast("double") / F.col("total"), 6).alias(
            "share"
        ),
        F.round(F.col("cum").cast("double") / F.col("total"), 6).alias("cum_share"),
    )


@register(
    "q_shipping_delay_percentiles",
    oracle="""
    WITH d AS (
      SELECT o.o_orderpriority,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS delay
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    r AS (
      SELECT o_orderpriority, delay,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY delay, o_orderpriority) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM d
    )
    SELECT o_orderpriority,
           CAST(MAX(n) AS BIGINT) AS n,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT)
                         THEN delay END) AS BIGINT) AS p50_days,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.90 * n) AS BIGINT)
                         THEN delay END) AS BIGINT) AS p90_days,
           CAST(MAX(CASE WHEN rn = CAST(ceil(0.99 * n) AS BIGINT)
                         THEN delay END) AS BIGINT) AS p99_days
    FROM r GROUP BY 1
    """,
)
def q_shipping_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay SLA percentiles (p50/p90/p99 in whole days) per
    order priority — exact rank-based order statistics (ceil(q·n)-th
    value), not interpolated percentiles, so both engines pick the same
    physical row.

    Scale: the lineitem⋈orders join is the canonical fact-fact orderkey
    join (bucketing both sides makes it shuffle-free; AQE handles skew);
    the rank window and final conditional aggregation share the priority
    clustering — one exchange after the join. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    d = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "o_orderpriority",
        F.datediff("l_shipdate", "o_orderdate").alias("delay"),
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("delay", "o_orderpriority")
    wn = Window.partitionBy("o_orderpriority")
    r = d.select(
        "o_orderpriority",
        "delay",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q: float, alias: str):
        at = F.ceil(F.lit(q) * F.col("n")).cast("bigint")
        return (
            F.max(F.when(F.col("rn") == at, F.col("delay")))
            .cast("bigint")
            .alias(alias)
        )

    return r.groupBy("o_orderpriority").agg(
        F.max("n").cast("bigint").alias("n"),
        pick(0.50, "p50_days"),
        pick(0.90, "p90_days"),
        pick(0.99, "p99_days"),
    )


@register(
    "q_readability_scores",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
             CAST(greatest(len(string_split(text, '.')) - 1, 1) AS BIGINT)
               AS n_sentences,
             CAST(len(replace(text, ' ', '')) AS BIGINT) AS n_chars
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(CAST(SUM(n_words) AS DOUBLE) / SUM(n_sentences), 6)
             AS words_per_sentence,
           round(CAST(SUM(n_chars) AS DOUBLE) / SUM(n_words), 6)
             AS chars_per_word,
           CAST(SUM(CASE WHEN CAST(n_words AS DOUBLE) / n_sentences > 25
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_longwinded
    FROM s GROUP BY 1
    """,
)
def q_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crude readability audit per language: words/sentence and chars/word
    (the two drivers of Flesch-style scores) plus a count of long-winded
    documents (>25 words/sentence) — the corpus-quality gate that flags
    run-on boilerplate before training.

    All ratios are exact-integer-sum / exact-integer-sum divided once in
    double; the per-doc flag is integer comparison on a per-row double
    (identical IEEE division both engines).

    Scale: pure map-side splitting + one |langs| aggregation; no shuffle of
    text itself. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    n_words = F.size(F.split("text", " ")).cast("bigint")
    n_sent = F.greatest(
        F.size(F.split("text", "\\.")) - 1, F.lit(1)
    ).cast("bigint")
    n_chars = F.length(F.regexp_replace("text", " ", "")).cast("bigint")
    s = docs.select(
        "lang",
        n_words.alias("n_words"),
        n_sent.alias("n_sentences"),
        n_chars.alias("n_chars"),
    )
    return s.groupBy("lang").agg(
        bcount("n_docs"),
        F.round(
            F.sum("n_words").cast("double") / F.sum("n_sentences"), 6
        ).alias("words_per_sentence"),
        F.round(F.sum("n_chars").cast("double") / F.sum("n_words"), 6).alias(
            "chars_per_word"
        ),
        F.sum(
            F.when(
                F.col("n_words").cast("double") / F.col("n_sentences") > 25, 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_longwinded"),
    )


@register(
    "q_catalog_growth",
    oracle="""
    WITH intro AS (
      SELECT l_partkey, MIN(date_trunc('month', l_shipdate)) AS m
      FROM lineitem GROUP BY 1
    ),
    per AS (
      SELECT m, COUNT(*) AS new_parts FROM intro GROUP BY 1
    )
    SELECT CAST(m AS TIMESTAMP) AS month,
           CAST(new_parts AS BIGINT) AS new_parts,
           CAST(SUM(new_parts) OVER (ORDER BY m) AS BIGINT)
             AS catalog_size
    FROM per
    """,
)
def q_catalog_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog growth curve: parts first shipped per month and the
    cumulative distinct-part count — cumulative COUNT(DISTINCT) collapsed
    to a running sum over first-occurrence months (the standard trick: a
    distinct entity contributes exactly once, at its first month, so the
    cumulative distinct equals the cumsum of first-appearances).

    Scale: one partkey rollup + one |months| grid cumsum — no growing
    distinct state, unlike a naive per-month COUNT(DISTINCT ... WHERE
    month <= m) rescan. The same shape runs incrementally under streaming
    (first-appearance = dropDuplicates on partkey). §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    intro = li.groupBy("l_partkey").agg(
        F.min(F.date_trunc("month", "l_shipdate")).alias("m")
    )
    per = intro.groupBy("m").agg(F.count(F.lit(1)).alias("new_parts"))
    return per.select(
        F.col("m").alias("month"),
        F.col("new_parts").cast("bigint").alias("new_parts"),
        F.sum("new_parts").over(Window.orderBy("m")).cast("bigint").alias(
            "catalog_size"
        ),
    )


@register(
    "q_charclass_audit",
    oracle="""
    WITH c AS (
      SELECT lang,
             CAST(len(text) AS BIGINT) AS n_total,
             CAST(len(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS BIGINT)
               AS n_alpha,
             CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT)
               AS n_digit,
             CAST(len(regexp_replace(text, '[^ ]', '', 'g')) AS BIGINT)
               AS n_space
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_total) AS BIGINT) AS total_chars,
           round(CAST(SUM(n_alpha) AS DOUBLE) / SUM(n_total), 6) AS alpha_ratio,
           round(CAST(SUM(n_digit) AS DOUBLE) / SUM(n_total), 6) AS digit_ratio,
           round(CAST(SUM(n_space) AS DOUBLE) / SUM(n_total), 6) AS space_ratio,
           round(CAST(SUM(n_total - n_alpha - n_digit - n_space) AS DOUBLE)
                 / SUM(n_total), 6) AS other_ratio
    FROM c GROUP BY 1
    """,
)
def q_charclass_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class composition per language: alpha/digit/space/other
    ratios over the whole corpus — the charset drift detector (a spike in
    'other' means markup, mojibake, or a new script sneaked into the
    pipeline).

    Class counts are per-row integers (regexp strip + length); ratios
    divide exact integer sums once.

    Scale: map-side regexp counting into a |langs| aggregation — the scan
    reads text once and shuffles only counters. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    n_total = F.length("text").cast("bigint")
    n_alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", "")).cast("bigint")
    n_digit = F.length(F.regexp_replace("text", "[^0-9]", "")).cast("bigint")
    n_space = F.length(F.regexp_replace("text", "[^ ]", "")).cast("bigint")
    c = docs.select(
        "lang",
        n_total.alias("n_total"),
        n_alpha.alias("n_alpha"),
        n_digit.alias("n_digit"),
        n_space.alias("n_space"),
    )
    return c.groupBy("lang").agg(
        bcount("n_docs"),
        F.sum("n_total").cast("bigint").alias("total_chars"),
        F.round(F.sum("n_alpha").cast("double") / F.sum("n_total"), 6).alias(
            "alpha_ratio"
        ),
        F.round(F.sum("n_digit").cast("double") / F.sum("n_total"), 6).alias(
            "digit_ratio"
        ),
        F.round(F.sum("n_space").cast("double") / F.sum("n_total"), 6).alias(
            "space_ratio"
        ),
        F.round(
            F.sum(
                F.col("n_total") - F.col("n_alpha") - F.col("n_digit") - F.col("n_space")
            ).cast("double")
            / F.sum("n_total"),
            6,
        ).alias("other_ratio"),
    )
