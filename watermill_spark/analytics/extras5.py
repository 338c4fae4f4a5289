"""Analytics batch 8: scale-pattern queries for the training-data pipeline.

- incremental rollup (hypertable-style continuous aggregate: hourly → daily)
- sweep-line interval concurrency (the O(n log n) answer to range-join blowup)
- windowed distinct counting (bounded-state sliding distinct)
- deterministic stratified hash sampling (multiplicative Knuth hash)
- TF-IDF top terms per language (ln-free rational idf for cross-engine hashes)
- n-gram benchmark-contamination check (5-gram shingle overlap vs held-out set)
- anomaly z-scores over hourly counts (exact two-moment variance)

Determinism per :mod:`watermill_spark.analytics.det`: decimal sums, IEEE
single-op double arithmetic only (+,*,/,sqrt are correctly rounded on both
engines; ln is not, so idf avoids it), total-order tiebreaks on every top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount
from .registry import load, register, spread


@register(
    "q_incremental_rollup",
    bench=True,
    oracle="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hour, event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(value AS DECIMAL(18,6))) AS total_dec
      FROM events GROUP BY 1, 2
    )
    SELECT CAST(date_trunc('day', hour) AS DATE) AS day, event_type,
           CAST(SUM(n) AS BIGINT) AS n,
           CAST(SUM(total_dec) AS DOUBLE) AS total_value,
           CAST(COUNT(*) AS BIGINT) AS hours_active
    FROM hourly GROUP BY 1, 2
    """,
)
def q_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: daily rollup computed FROM the
    hourly rollup, never from raw events (cf. TimescaleDB continuous
    aggregates; watermill has no analog — [NS] surface, SURVEY.md §2.B).

    Scale: the raw→hourly agg is the only pass over the 100-TB table; the
    hourly→daily re-aggregation runs over ~5 orders of magnitude fewer rows.
    Decimal partial sums compose exactly, so rollup-of-rollup equals the
    direct daily aggregate bit-for-bit — which is precisely what the oracle
    (same two-level plan) hash-checks.
    """
    ev = load(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type").agg(
        bcount("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("total_dec"),
    )
    return hourly.groupBy(
        F.to_date(F.date_trunc("day", "hour")).alias("day"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n"),
        F.sum("total_dec").cast("double").alias("total_value"),
        bcount("hours_active"),
    )


@register(
    "q_window_distinct_range",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
             user_id
      FROM events
    ),
    days AS (SELECT DISTINCT event_type, day FROM du)
    SELECT d.event_type, d.day,
           CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS users_3d
    FROM days d
    JOIN du u
      ON u.event_type = d.event_type
     AND u.day BETWEEN d.day - INTERVAL 2 DAY AND d.day
    GROUP BY 1, 2
    """,
)
def q_window_distinct_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 3-day distinct users per event type (sliding distinct count).

    Spark plan: dedupe to (type, day, user), then ``size(collect_set(user))``
    over a RANGE frame on the day number — one shuffle on event_type, state
    bounded by the 3-day frame. The oracle spells the same semantics as a
    range self-join (DISTINCT-in-window support differs across engines; the
    join form is portable ANSI).

    Scale: the pre-dedup collapses the fact table to |days × users| before
    any window state builds up; never window over raw events.
    """
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
    ).distinct()
    w = (
        Window.partitionBy("event_type")
        .orderBy(F.datediff(F.col("day"), F.lit("1970-01-01")))
        .rangeBetween(-2, 0)
    )
    return (
        du.withColumn("users_3d", F.size(F.collect_set("user_id").over(w)).cast("bigint"))
        .groupBy("event_type", "day")
        .agg(F.max("users_3d").alias("users_3d"))
    )


@register(
    "q_events_concurrency_sweep",
    oracle="""
    WITH deltas AS (
      SELECT event_type, ts, 1 AS delta, event_id FROM events
      UNION ALL
      SELECT event_type, ts + INTERVAL 5 MINUTE, -1, event_id FROM events
    ),
    swept AS (
      SELECT event_type,
             SUM(delta) OVER (PARTITION BY event_type
                              ORDER BY ts, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS concurrent
      FROM deltas
    )
    SELECT event_type, CAST(MAX(concurrent) AS BIGINT) AS peak_concurrent
    FROM swept GROUP BY 1
    """,
)
def q_events_concurrency_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per type, treating each event as a [ts, ts+5min)
    interval — the sweep-line formulation: +1 at start, -1 at end, running
    sum, max.

    Scale: the naive interval-overlap range join is O(n²) per type; the sweep
    is a union (narrow), one shuffle-sort per type, and a running-sum window
    — O(n log n) and no join at all. End events sort BEFORE start events at
    the same instant (delta -1 < 1), so a touching interval pair never counts
    as concurrent; event_id completes the total order so the running sum is
    engine-independent.
    """
    ev = load(spark, sf_dir, "events").select("event_type", "ts", "event_id")
    # single scan (r6): the union's two branches each re-scanned events;
    # an inline 2-element explode emits the identical (+1 at ts, -1 at
    # ts+5min) boundary rows from one pass
    deltas = ev.select(
        "event_type",
        "event_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("ts").alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(
                    (F.col("ts") + F.expr("INTERVAL 5 MINUTE")).alias("ts"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("bd"),
    ).select("event_type", F.col("bd.ts").alias("ts"), F.col("bd.delta").alias("delta"), "event_id")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        deltas.withColumn("concurrent", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(F.max("concurrent").cast("bigint").alias("peak_concurrent"))
    )


@register(
    "q_stratified_sample",
    bench=True,
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT(*) FILTER (WHERE (o_orderkey * 2654435761) % 4294967296
                                       < 429496730) AS BIGINT) AS sampled,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
                  FILTER (WHERE (o_orderkey * 2654435761) % 4294967296
                                < 429496730) AS DOUBLE) AS sampled_price
    FROM orders GROUP BY 1
    """,
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~10% stratified sample via Knuth's multiplicative hash
    ((key * 2654435761) mod 2^32 — golden-ratio constant), counted per
    priority stratum.

    Scale: sampling by key hash is reproducible across engines, runs, and
    cluster sizes (unlike ``df.sample``, whose output depends on partition
    layout), needs no shuffle (a pure map-side filter), and downsamples the
    100-TB table before anything expensive. Pure 64-bit integer arithmetic —
    no float, no UDF, fully codegen'd.
    """
    orders = load(spark, sf_dir, "orders")
    in_sample = (F.col("o_orderkey") * F.lit(2654435761)) % F.lit(4294967296) < F.lit(429496730)
    return orders.groupBy("o_orderpriority").agg(
        bcount("total"),
        F.count(F.when(in_sample, 1)).cast("bigint").alias("sampled"),
        F.sum(F.when(in_sample, F.col("o_totalprice").cast("decimal(18,6)")))
        .cast("double")
        .alias("sampled_price"),
    )


@register(
    "q_tfidf_top_terms",
    bench=True,
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, unnest(regexp_extract_all(text, '[a-z]+')) AS term
      FROM documents
    ),
    tf AS (
      SELECT lang, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM toks GROUP BY 1, 2
    ),
    df AS (
      SELECT term, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM toks GROUP BY 1
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
    scored AS (
      SELECT tf.lang, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) * (n.n_docs / CAST(df.df AS DOUBLE)) AS score,
             row_number() OVER (PARTITION BY tf.lang
                                ORDER BY CAST(tf.tf AS DOUBLE)
                                         * (n.n_docs / CAST(df.df AS DOUBLE)) DESC,
                                         tf.term) AS rn
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    SELECT lang, term, tf, df, score FROM scored WHERE rn <= 5
    """,
)
def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language over the corpus.

    idf is the *rational* N/df instead of ln(N/df): one IEEE division and one
    multiplication are correctly rounded on every engine, while transcendental
    ln differs in the last ulp between libm and Java — monotonicity is
    identical, so rankings match the textbook formula. row_number tiebreaks
    on term for a total order.

    Scale: ONE tokenize pass (r6 — previously tf and df each re-scanned and
    re-regexed the corpus; regex tokenization of 100 TB of text is the
    dominant stage, so halving the passes halves it). Correct because
    documents is one-row-per-doc (doc_id unique ⇒ doc_id determines lang):
    tf(lang,term) = Σ per-doc counts, and df(term) = COUNT(DISTINCT doc_id)
    = the number of (doc,term) groups, summed over langs via a window — no
    tf⨝df join, and no broadcast of the data-scaled vocabulary table
    (|vocab| is 1e8+ at web-corpus size; r5 verdict item 2). The only
    token-volume exchange is the (lang,doc,term) partial-aggregated
    group-by; everything after it is vocabulary-scale. The final top-k is a
    WindowGroupLimit, keeping 5 rows per language per partition before the
    shuffle. No pre-shuffle fan-out (spread): on a real multi-file corpus
    the scan is already parallel — the map-side combine keeps per-partition
    output bounded regardless. The corpus count rides inside the same plan
    as a 1-row broadcast instead of a separate count() job.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).alias("term")
    )
    per_doc = toks.groupBy("lang", "doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    tf_lang = per_doc.groupBy("lang", "term").agg(
        F.sum("c").cast("bigint").alias("tf"),
        F.count(F.lit(1)).alias("df_lang"),
    )
    n1 = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    scored = (
        tf_lang.withColumn(
            "df", F.sum("df_lang").over(Window.partitionBy("term")).cast("bigint")
        )
        .crossJoin(F.broadcast(n1))
        .withColumn(
            "score",
            F.col("tf").cast("double") * (F.col("n_docs") / F.col("df").cast("double")),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.desc("score"), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "term", "tf", "df", "score")
    )


@register(
    "q_ngram_contamination",
    oracle="""
    WITH toks AS (
      SELECT doc_id, regexp_extract_all(text, '[a-z]+') AS t FROM documents
    ),
    shingles AS (
      SELECT doc_id,
             unnest(list_transform(generate_series(1, len(t) - 4),
                                   i -> array_to_string(t[i:i+4], ' '))) AS g
      FROM toks WHERE len(t) >= 5
    ),
    test_g AS (
      SELECT DISTINCT g FROM shingles WHERE doc_id % 100 < 5
    )
    SELECT s.doc_id,
           CAST(COUNT(DISTINCT s.g) AS BIGINT) AS matched_shingles
    FROM (SELECT DISTINCT doc_id, g FROM shingles WHERE doc_id % 100 >= 5) s
    JOIN test_g USING (g)
    GROUP BY 1
    """,
)
def q_ngram_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: training docs (doc_id%100>=5) sharing
    ≥1 distinct 5-gram shingle with the held-out set (doc_id%100<5), with
    the overlap size.

    Scale: the held-out side's distinct shingle set is tiny relative to the
    corpus → broadcast semi-side; the training shingle stream never shuffles
    except for the final per-doc count. Shingling is sequence+transform
    (codegen'd), not a Python UDF.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.regexp_extract_all("text", F.lit("[a-z]+"), 0).alias("t")
    ).filter(F.size("t") >= 5)
    shingles = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("t") - 4),
                lambda i: F.concat_ws(" ", F.slice("t", i, F.lit(5))),
            )
        ).alias("g"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the test and train splits each re-scanned
    # documents and re-ran tokenize + shingle explode (2 passes in the
    # plan); the shingle stream materializes once (posting-list class:
    # state linear in corpus shingles — the q_shingle_containment trade)
    test_g = shingles.filter(F.col("doc_id") % 100 < 5).select("g").distinct()
    train = shingles.filter(F.col("doc_id") % 100 >= 5).distinct()
    return (
        train.join(F.broadcast(test_g), "g")
        .groupBy("doc_id")
        .agg(F.countDistinct("g").cast("bigint").alias("matched_shingles"))
    )


@register(
    "q_events_anomaly_zscore",
    oracle="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS hour,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    stats AS (
      SELECT event_type,
             CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean,
             sqrt(CAST(SUM(n * n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                  - (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                    * (CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))) AS sd
      FROM hourly GROUP BY 1
    )
    SELECT h.event_type, h.hour, h.n,
           (CAST(h.n AS DOUBLE) - s.mean) / s.sd AS z
    FROM hourly h JOIN stats s USING (event_type)
    WHERE s.sd > 0 AND abs((CAST(h.n AS DOUBLE) - s.mean) / s.sd) > 2
    """,
)
def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly-volume anomalies: hours where a type's count is >2 population
    stddevs from that type's mean.

    Variance via exact integer moments (Σn, Σn²) then single IEEE ops
    (÷, ×, −, √ are all correctly rounded) — deterministic across engines,
    unlike streaming stddev. Scale: hourly is the only pass over raw events;
    stats (one row per type) broadcasts back onto hourly.
    """
    ev = load(spark, sf_dir, "events")
    # checkpointed once (r6): the stats and the z-score join both
    # re-derived the counts (2 events scans in the plan); the
    # calendar-bounded type×hour grid materializes once
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(bcount("n")).localCheckpoint(eager=True)
    sn = F.sum("n").cast("double")
    sn2 = F.sum(F.col("n") * F.col("n")).cast("double")
    cnt = F.count(F.lit(1)).cast("double")
    mean = (sn / cnt).alias("mean")
    sd = F.sqrt(sn2 / cnt - (sn / cnt) * (sn / cnt)).alias("sd")
    stats = hourly.groupBy("event_type").agg(mean, sd)
    z = (F.col("n").cast("double") - F.col("mean")) / F.col("sd")
    return (
        hourly.join(F.broadcast(stats), "event_type")
        .filter((F.col("sd") > 0) & (F.abs(z) > 2))
        .select("event_type", "hour", "n", z.alias("z"))
    )
