"""Analytics batch 151: boilerplate-sentence mining, a count-min sketch
with exact-count grading, and Cliff's delta / Vargha-Delaney A effect
sizes.

Boilerplate mining is the C4/CCNet-style corpus cleaner: sentences
repeated across many documents are navigation chrome / legal footers,
and the top offenders list is what a pipeline operator actually reads
before adding a filter rule. The count-min sketch joins the portable-
sketch family (q_hll_manual, q_kmv_distinct_estimate, q_histogram_*) —
md5-derived rows make the SAME sketch buildable on any engine, and the
query grades the sketch against exact counts. Cliff's delta is the
effect-size companion the rank-test family (q_mannwhitney_u) reports
alongside its p-value.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/join families + the LLM-pipeline text mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register
from .relations import DAILY_REVENUE_SQL, daily_revenue


@register(
    "q_boilerplate_sentences",
    oracle="""
    WITH sents AS (
      SELECT doc_id, trim(lower(s)) AS sent
      FROM documents,
           UNNEST(string_split_regex(text, '[.!?]')) AS t(s)
    ),
    good AS (
      SELECT doc_id, sent FROM sents WHERE length(sent) >= 20
    ),
    freq AS (
      SELECT sent,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_occ
      FROM good GROUP BY 1
    ),
    top AS (
      SELECT * FROM freq WHERE n_docs >= 3
      ORDER BY n_docs DESC, sent LIMIT 10
    )
    SELECT substr(sent, 1, 60) AS sentence_head, n_docs, n_occ
    FROM top ORDER BY n_docs DESC, sent
    """,
)
def q_boilerplate_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-sentence mining: normalized sentences (split on
    [.!?], lowercased, trimmed, ≥ 20 chars) that appear in ≥ 3 distinct
    documents, top 10 by document reach — the C4/CCNet-style screen for
    navigation chrome, legal footers, and template text that dedup at
    the document level cannot catch (it lives INSIDE otherwise-unique
    documents).

    Determinism: integer counts; ordering carries the full sentence as
    tiebreak (binary collation on both engines); the 60-char head is
    cut only in the output projection.

    Scale: one explode + one groupBy to the sentence grain (map-side
    combined); the sentence dimension is Heaps-law sublinear in corpus
    size; top-10 is a sort-limit. At 100 TB, hash the sentence to a
    64-bit key for the groupBy and keep one exemplar string via min().
    §2.B aggregation family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    sents = docs.select(
        "doc_id",
        F.explode(F.split("text", "[.!?]")).alias("s"),
    ).select("doc_id", F.trim(F.lower("s")).alias("sent"))
    good = sents.filter(F.length("sent") >= 20)
    freq = good.groupBy("sent").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        bcount("n_occ"),
    )
    top = (
        freq.filter(F.col("n_docs") >= 3)
        .orderBy(F.col("n_docs").desc(), "sent")
        .limit(10)
    )
    return top.select(
        F.substring("sent", 1, 60).alias("sentence_head"), "n_docs", "n_occ"
    ).orderBy(F.col("n_docs").desc(), "sent")


@register(
    "q_countmin_sketch",
    oracle=f"""
    WITH depths AS (SELECT CAST(j AS BIGINT) AS j
                    FROM (VALUES (0), (1), (2), (3)) AS v(j)),
    hashed AS (
      SELECT d.j,
             {sql_hexval("substr(md5('cms' || d.j || ':' || e.event_type), 1, 1)")} * 16
             + {sql_hexval("substr(md5('cms' || d.j || ':' || e.event_type), 2, 1)")} AS bucket
      FROM events e, depths d
    ),
    counters AS (
      SELECT j, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM hashed GROUP BY 1, 2
    ),
    keys AS (SELECT DISTINCT event_type FROM events),
    key_buckets AS (
      SELECT k.event_type, d.j,
             {sql_hexval("substr(md5('cms' || d.j || ':' || k.event_type), 1, 1)")} * 16
             + {sql_hexval("substr(md5('cms' || d.j || ':' || k.event_type), 2, 1)")} AS bucket
      FROM keys k, depths d
    ),
    est AS (
      SELECT kb.event_type, CAST(MIN(c.cnt) AS BIGINT) AS cms_estimate
      FROM key_buckets kb JOIN counters c
        ON c.j = kb.j AND c.bucket = kb.bucket
      GROUP BY 1
    ),
    exact AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM events GROUP BY 1
    )
    SELECT x.event_type, x.exact_cnt, e.cms_estimate,
           round(CAST(e.cms_estimate - x.exact_cnt AS DOUBLE)
                 / x.exact_cnt, 6) AS overestimate_frac
    FROM exact x JOIN est e ON e.event_type = x.event_type
    ORDER BY x.event_type
    """,
)
def q_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (depth 4 × width 256) of event-type
    frequencies, graded against exact counts: each event increments one
    bucket per depth row (bucket = first two md5 hex chars of
    'cms{{j}}:'||key), a key's estimate is the min over its four
    counters, and the report shows the per-key overestimate — the
    mergeable fixed-memory frequency sketch, built from the SAME
    md5-derived buckets on any engine (portable-sketch family:
    q_hll_manual, q_kmv_distinct_estimate).

    Determinism: md5 is bit-identical across engines; bucket arithmetic
    is integer (hex-char position); counters/estimates are exact
    counts.

    Scale: the sketch build is one groupBy over 4×|events| rows to a
    fixed 1024-cell table (map-side combined — this is the whole
    point: counters merge associatively across partitions); the
    key-side probe touches |keys|×4 rows. §2.B aggregation/sketch
    family [NS].
    """
    ev = load(spark, sf_dir, "events")
    depths = spark.range(0, 4).select(F.col("id").cast("bigint").alias("j"))

    def bucket() -> F.Column:
        h = "md5(concat('cms', j, ':', event_type))"
        c1 = hexval(F.expr(f"substr({h}, 1, 1)"))
        c2 = hexval(F.expr(f"substr({h}, 2, 1)"))
        return (c1 * 16 + c2).alias("bucket")

    # single scan (r6): the counter build, the key list and the exact
    # counts each re-scanned events; ONE scan now builds the per-type
    # count grid (≤|event_types| rows, checkpointed once) and the sketch
    # counters become count-weighted sums over it — identical integers,
    # since every row of a type lands in the same (j, bucket)
    per_type = ev.groupBy("event_type").agg(bcount("exact_cnt")).localCheckpoint(
        eager=True
    )
    key_buckets = per_type.crossJoin(F.broadcast(depths)).select(
        "event_type", "exact_cnt", "j", bucket()
    )
    counters = key_buckets.groupBy("j", "bucket").agg(
        F.sum("exact_cnt").cast("bigint").alias("cnt")
    )
    est = (
        key_buckets.select("event_type", "j", "bucket")
        .join(F.broadcast(counters), ["j", "bucket"])
        .groupBy("event_type")
        .agg(F.min("cnt").cast("bigint").alias("cms_estimate"))
    )
    exact = per_type
    return (
        exact.join(est, "event_type")
        .select(
            "event_type",
            "exact_cnt",
            "cms_estimate",
            F.round(
                (F.col("cms_estimate") - F.col("exact_cnt")).cast("double")
                / F.col("exact_cnt"),
                6,
            ).alias("overestimate_frac"),
        )
        .orderBy("event_type")
    )


@register(
    "q_cliffs_delta",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    lab AS (
      SELECT y, CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS we FROM daily
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN a.y > b.y THEN 1 ELSE 0 END) AS BIGINT)
               AS gt,
             CAST(SUM(CASE WHEN a.y < b.y THEN 1 ELSE 0 END) AS BIGINT)
               AS lt,
             CAST(SUM(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
               AS eq
      FROM lab a JOIN lab b ON a.we = 1 AND b.we = 0
    ),
    cnts AS (
      SELECT CAST(SUM(we) AS BIGINT) AS nx,
             CAST(SUM(1 - we) AS BIGINT) AS ny
      FROM lab
    )
    SELECT c.nx AS n_weekend, c.ny AS n_weekday,
           round(CAST(p.gt - p.lt AS DOUBLE) / (c.nx * c.ny), 6)
             AS cliffs_delta,
           round((p.gt + 0.5 * p.eq) / (c.nx * c.ny), 6)
             AS vargha_delaney_a,
           CASE WHEN abs(CAST(p.gt - p.lt AS DOUBLE) / (c.nx * c.ny))
                     < 0.147 THEN 'negligible'
                WHEN abs(CAST(p.gt - p.lt AS DOUBLE) / (c.nx * c.ny))
                     < 0.33 THEN 'small'
                WHEN abs(CAST(p.gt - p.lt AS DOUBLE) / (c.nx * c.ny))
                     < 0.474 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM pairs p, cnts c
    """,
)
def q_cliffs_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cliff's delta and Vargha-Delaney A for weekend vs weekday daily
    revenue: δ = (#(x>y) − #(x<y))/(n·m) and A = (#(x>y) + ½#(x=y))/
    (n·m) over all cross-group pairs, with the standard magnitude
    labels (0.147/0.33/0.474) — the nonparametric effect sizes that
    report HOW MUCH two groups differ after q_mannwhitney_u has said
    whether they differ at all; robust to outliers and scale-free.

    Determinism: the statistics are pure integer pair counts divided in
    double — nothing to drift.

    Scale: the cross-group pair count runs on the bounded day-grid
    product (whitelisted, same family as q_energy_distance); at 100 TB
    the identical δ comes from the rank-sum identity on a sorted merge
    instead (δ = 2U/(nm) − 1), no pair expansion. §2.B statistics
    family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    lab = daily.select(
        "y",
        F.when(((F.dayofweek("d") + 5) % 7) + 1 >= 6, 1).otherwise(0).alias("we"),
    )
    x = lab.filter(F.col("we") == 1).select(F.col("y").alias("yx"))
    yy = lab.filter(F.col("we") == 0).select(F.col("y").alias("yy"))
    pairs = x.crossJoin(F.broadcast(yy)).agg(
        F.sum(F.when(F.col("yx") > F.col("yy"), 1).otherwise(0))
        .cast("bigint")
        .alias("gt"),
        F.sum(F.when(F.col("yx") < F.col("yy"), 1).otherwise(0))
        .cast("bigint")
        .alias("lt"),
        F.sum(F.when(F.col("yx") == F.col("yy"), 1).otherwise(0))
        .cast("bigint")
        .alias("eq"),
    )
    cnts = lab.agg(
        F.sum("we").cast("bigint").alias("nx"),
        F.sum(1 - F.col("we")).cast("bigint").alias("ny"),
    )
    delta = (F.col("gt") - F.col("lt")).cast("double") / (
        F.col("nx") * F.col("ny")
    )
    return pairs.crossJoin(F.broadcast(cnts)).select(
        F.col("nx").alias("n_weekend"),
        F.col("ny").alias("n_weekday"),
        F.round(delta, 6).alias("cliffs_delta"),
        F.round(
            (F.col("gt") + 0.5 * F.col("eq")) / (F.col("nx") * F.col("ny")), 6
        ).alias("vargha_delaney_a"),
        F.when(F.abs(delta) < 0.147, "negligible")
        .when(F.abs(delta) < 0.33, "small")
        .when(F.abs(delta) < 0.474, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )
