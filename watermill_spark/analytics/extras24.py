"""Analytics batch 32: embedding quality, text co-occurrence & process
control — centroid-based silhouette score per label, asymmetric shingle
containment (near-dup sub/superset detection), token-pair PMI over the
high-frequency vocabulary, ratio-to-parent rollup, and an XmR
(individuals/moving-range) control chart.

Vector math rides the established idiom: per-dimension centroid means via
exact DECIMAL(18,9), per-row distances as fixed-order fold over dims
(`F.aggregate`/`list_transform` — same left-to-right summation in both
engines), and any mean over per-row doubles re-cast per row to DECIMAL
before the cross-row sum.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register, spread


@register(
    "q_silhouette_by_label",
    oracle="""
    WITH u AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             unnest(CAST(embedding AS DOUBLE[])) AS x
      FROM embeddings
    ),
    cm AS (
      SELECT label, dim,
             CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE)
               / CAST(COUNT(*) AS DOUBLE) AS c
      FROM u GROUP BY 1, 2
    ),
    cent AS (
      SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cm GROUP BY 1
    ),
    d AS (
      SELECT e.vec_id, e.label, cent.clabel,
             sqrt(list_sum(list_transform(range(1, 65), i ->
               (CAST(e.embedding[i] AS DOUBLE) - cent.cv[i])
               * (CAST(e.embedding[i] AS DOUBLE) - cent.cv[i])))) AS dist
      FROM embeddings e CROSS JOIN cent
    ),
    ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN dist END) AS a,
             MIN(CASE WHEN clabel <> label THEN dist END) AS b
      FROM d GROUP BY 1, 2
    )
    SELECT CAST(label AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(SUM(CAST((b - a) / greatest(a, b) AS DECIMAL(18,12)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_silhouette
    FROM ab GROUP BY 1
    """,
)
def q_silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-based silhouette per label: a = distance to own label's
    centroid, b = distance to the nearest other centroid, s = (b-a)/max(a,b)
    averaged per label — the cluster-quality score that tells a training
    pipeline which labels are well-separated in embedding space.

    Centroids come from exact per-dim decimal means; distances are
    fixed-order 64-term folds (identical both engines); the per-label mean
    re-casts each silhouette to DECIMAL(18,12) before summing.

    Scale: the |labels|×dims centroid table broadcasts; the distance stage
    is a map-side cross with 10 centroid rows — vectors never shuffle.
    §2.B [NS] (training-pipeline surface).
    """
    emb = spread(load(spark, sf_dir, "embeddings"))
    u = emb.select(
        "label",
        F.posexplode(F.col("embedding").cast("array<double>")).alias("dim0", "x"),
    )
    cm = u.groupBy("label", (F.col("dim0") + 1).alias("dim")).agg(
        (
            F.sum(F.col("x").cast("decimal(18,9)")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("c")
    )
    cent = cm.groupBy(F.col("label").alias("clabel")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))), lambda s: s["c"]
        ).alias("cv")
    )
    ed = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("ev")
    )
    dist = F.sqrt(
        F.aggregate(
            F.zip_with(F.col("ev"), F.col("cv"), lambda x, c: (x - c) * (x - c)),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
    )
    d = ed.join(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", dist.alias("dist")
    )
    ab = d.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("dist"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("dist"))).alias("b"),
    )
    s = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return ab.groupBy("label").agg(
        bcount("n"),
        F.round(
            F.sum(s.cast("decimal(18,12)")).cast("double") / F.count(F.lit(1)), 6
        ).alias("mean_silhouette"),
    ).select(F.col("label").cast("bigint").alias("label"), "n", "mean_silhouette")


@register(
    "q_shingle_containment",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id, shingle FROM (
        SELECT doc_id,
               unnest(list_transform(
                 range(1, greatest(len(string_split(text, ' ')) - 3, 0) + 1),
                 i -> array_to_string(string_split(text, ' ')[i:i+3], ' ')
               )) AS shingle
        FROM documents
      )
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           CAST(c.n_common AS BIGINT) AS n_common,
           CAST(sa.n_sh AS BIGINT) AS n_a,
           round(CAST(c.n_common AS DOUBLE) / sa.n_sh, 6) AS containment
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.doc_a
    WHERE CAST(c.n_common AS DOUBLE) / sa.n_sh >= 0.8
    ORDER BY containment DESC, doc_a, doc_b
    LIMIT 50
    """,
)
def q_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup detection: containment |A∩B|/|A| of 4-word
    shingle sets — catches documents that are *subsets* of others (quote
    farms, truncated copies), which symmetric Jaccard underweights.
    Reports pairs where ≥80% of A's shingles appear in B.

    Scale: the candidate join is shingle-keyed (uniform hash keys) on the
    deduped (doc, shingle) set, the standard LSH-free containment shape;
    at 100 TB the same query runs on MinHash-bucketed candidates first
    (dedup.py's LSH pipeline) to cap the join fan-out. A stop-shingle cut
    (drop shingles in >0.1% of docs) bounds hot keys the way dedup's band
    buckets do. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = docs.select("doc_id", F.split("text", " ").alias("t"))
    sh = (
        toks.filter(F.size("t") >= 4)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("t") - 3),
                    lambda i: F.concat_ws(" ", F.slice("t", i, F.lit(4))),
                )
            ).alias("shingle"),
        )
        .distinct()
    )
    # checkpointed once (r6): the per-doc sizes and both containment
    # join sides each re-scanned documents and re-exploded the 4-gram
    # shingles (3 scans in the plan); the distinct doc-shingle posting
    # list materializes once
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    cont = F.col("n_common").cast("double") / F.col("n_a")
    return (
        common.join(sa, "doc_a")
        .filter(cont >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            F.col("n_common").cast("bigint").alias("n_common"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.round(cont, 6).alias("containment"),
        )
        .orderBy(F.col("containment").desc(), "doc_a", "doc_b")
        .limit(50)
    )


@register(
    "q_token_pmi",
    oracle="""
    WITH tok AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t
      FROM documents
    ),
    df AS (SELECT t, COUNT(*) AS n FROM tok GROUP BY 1),
    top AS (SELECT t, n FROM df ORDER BY n DESC, t LIMIT 50),
    ft AS (SELECT tok.doc_id, tok.t, top.n FROM tok JOIN top ON tok.t = top.t),
    nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tok),
    pairs AS (
      SELECT a.t AS t1, b.t AS t2, MAX(a.n) AS n1, MAX(b.n) AS n2,
             COUNT(*) AS n_both
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.t < b.t
      GROUP BY 1, 2
    )
    SELECT t1, t2, CAST(n_both AS BIGINT) AS n_both,
           round(log2(CAST(n_both AS DOUBLE) * (SELECT n_docs FROM nd)
                      / (CAST(n1 AS DOUBLE) * n2)), 6) AS pmi
    FROM pairs
    WHERE n_both >= 5
    ORDER BY pmi DESC, t1, t2
    LIMIT 20
    """,
)
def q_token_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise mutual information of token pairs within documents,
    restricted to the 50 highest-document-frequency tokens: PMI =
    log2(P(a,b)/(P(a)P(b))) — the collocation detector (phrases, templated
    boilerplate) of the text-analysis surface.

    Scale: the vocabulary cut (top-50 by df, total-order tiebreak)
    broadcasts as a semi-filter, capping the per-doc pair expansion at
    C(50,2); the pair join is doc-keyed (key-local). At 100 TB the cut is
    the knob — PMI over the full vocabulary is the LSH-free quadratic
    trap. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    # ONE tokenize pass (r6): the distinct (doc, token) stream is
    # checkpointed once — df, the n_docs count, and BOTH sides of the
    # in-doc pair join previously re-derived (re-tokenized) it per use
    tok = (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    df_ = tok.groupBy("t").agg(F.count(F.lit(1)).alias("n"))
    top = df_.orderBy(F.col("n").desc(), "t").limit(50)
    ft = tok.join(F.broadcast(top), "t").localCheckpoint(eager=True)
    n_docs = tok.select("doc_id").distinct().count()
    a = ft.alias("a")
    b = ft.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id")) & (F.col("a.t") < F.col("b.t")),
        )
        .groupBy(F.col("a.t").alias("t1"), F.col("b.t").alias("t2"))
        .agg(
            F.max("a.n").alias("n1"),
            F.max("b.n").alias("n2"),
            F.count(F.lit(1)).alias("n_both"),
        )
        .filter(F.col("n_both") >= 5)
    )
    pmi = F.round(
        F.log2(
            F.col("n_both").cast("double")
            * F.lit(n_docs)
            / (F.col("n1").cast("double") * F.col("n2"))
        ),
        6,
    )
    return (
        pairs.select(
            "t1",
            "t2",
            F.col("n_both").cast("bigint").alias("n_both"),
            pmi.alias("pmi"),
        )
        .orderBy(F.col("pmi").desc(), "t1", "t2")
        .limit(20)
    )


@register(
    "q_share_of_parent",
    oracle="""
    WITH nr AS (
      SELECT r.r_name, n.n_name,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY 1, 2
    ),
    w AS (
      SELECT r_name, n_name, rev,
             SUM(rev) OVER (PARTITION BY r_name) AS region_rev,
             SUM(rev) OVER () AS world_rev,
             row_number() OVER (PARTITION BY r_name
                                ORDER BY rev DESC, n_name) AS rk
      FROM nr
    )
    SELECT r_name, n_name,
           round(CAST(rev AS DOUBLE), 4) AS revenue,
           round(CAST(rev AS DOUBLE) / CAST(region_rev AS DOUBLE), 6)
             AS share_of_region,
           round(CAST(region_rev AS DOUBLE) / CAST(world_rev AS DOUBLE), 6)
             AS region_share_of_world,
           CAST(rk AS BIGINT) AS rank_in_region
    FROM w
    """,
)
def q_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ratio-to-parent rollup: each nation's revenue share within its
    region, the region's share of the world, and the nation's rank inside
    its region — the two-level drill-down every BI tool renders, in one
    windowed pass over the grid.

    Scale: one fact shuffle to the |nations| grid (all dims broadcast);
    the three windows partition by region (or the one-row world total) on
    dimension-sized data. §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    region = load(spark, sf_dir, "region")
    nr = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(F.sum(dec("o_totalprice")).alias("rev"))
    )
    wr = Window.partitionBy("r_name")
    w = nr.select(
        "*",
        F.sum("rev").over(wr).alias("region_rev"),
        F.sum("rev").over(Window.partitionBy(F.lit(1))).alias("world_rev"),
        F.row_number()
        .over(wr.orderBy(F.col("rev").desc(), "n_name"))
        .alias("rk"),
    )
    revd = F.col("rev").cast("double")
    return w.select(
        "r_name",
        "n_name",
        F.round(revd, 4).alias("revenue"),
        F.round(revd / F.col("region_rev").cast("double"), 6).alias(
            "share_of_region"
        ),
        F.round(
            F.col("region_rev").cast("double") / F.col("world_rev").cast("double"),
            6,
        ).alias("region_share_of_world"),
        F.col("rk").cast("bigint").alias("rank_in_region"),
    )


@register(
    "q_xmr_control_chart",
    oracle="""
    WITH d AS (
      SELECT date_trunc('day', o_orderdate) AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
      FROM orders GROUP BY 1
    ),
    mr AS (
      SELECT day, rev,
             abs(rev - lag(rev) OVER (ORDER BY day)) AS mrange
      FROM d
    ),
    lim AS (
      SELECT CAST(SUM(rev) AS DOUBLE) / COUNT(*) AS xbar,
             CAST(SUM(mrange) AS DOUBLE) / COUNT(mrange) AS mrbar
      FROM mr
    )
    SELECT CAST(m.day AS TIMESTAMP) AS day,
           round(CAST(m.rev AS DOUBLE), 4) AS rev,
           round(l.xbar, 4) AS xbar,
           round(l.xbar + 2.66 * l.mrbar, 4) AS ucl,
           round(l.xbar - 2.66 * l.mrbar, 4) AS lcl,
           CAST(m.rev AS DOUBLE) > l.xbar + 2.66 * l.mrbar
             OR CAST(m.rev AS DOUBLE) < l.xbar - 2.66 * l.mrbar
             AS out_of_control
    FROM mr m CROSS JOIN lim l
    WHERE CAST(m.rev AS DOUBLE) > l.xbar + 2.66 * l.mrbar
       OR CAST(m.rev AS DOUBLE) < l.xbar - 2.66 * l.mrbar
    """,
)
def q_xmr_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XmR (individuals & moving-range) control chart on daily revenue:
    limits X̄ ± 2.66·M̄R (the SPC constant for n=2 moving ranges), emitting
    only the out-of-control days — the process-control complement to
    Bollinger's rolling bands (fixed limits from the whole series, not a
    trailing window).

    X̄ and M̄R are exact decimal sums over the day grid divided in double;
    the moving range is an exact decimal |lag diff|.

    Scale: |days|-grid lag window (calendar-bounded) and a 1-row limit
    broadcast — the same whitelisted 1-row BNLJ shape as q_runs_test.
    §2.B [NS].
    """
    orders = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the control limits and the flagging join
    # both re-derived the rollup (2 orders scans in the plan); the
    # calendar-bounded day grid materializes once
    d = orders.groupBy(F.date_trunc("day", "o_orderdate").alias("day")).agg(
        F.sum(dec("o_totalprice")).alias("rev")
    ).localCheckpoint(eager=True)
    mr = d.select(
        "day",
        "rev",
        F.abs(F.col("rev") - F.lag("rev").over(Window.orderBy("day"))).alias(
            "mrange"
        ),
    )
    lim = mr.agg(
        (F.sum("rev").cast("double") / F.count(F.lit(1))).alias("xbar"),
        (F.sum("mrange").cast("double") / F.count("mrange")).alias("mrbar"),
    )
    j = mr.join(F.broadcast(lim))
    revd = F.col("rev").cast("double")
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl = F.col("xbar") - 2.66 * F.col("mrbar")
    return j.filter((revd > ucl) | (revd < lcl)).select(
        "day",
        F.round(revd, 4).alias("rev"),
        F.round("xbar", 4).alias("xbar"),
        F.round(ucl, 4).alias("ucl"),
        F.round(lcl, 4).alias("lcl"),
        ((revd > ucl) | (revd < lcl)).alias("out_of_control"),
    )
