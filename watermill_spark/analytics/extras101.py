"""Analytics batch 109: classifier fairness audit, item-item cosine
similarity, and the Calinski-Harabasz clustering index.

The fairness audit computes the metrics every responsible-ML checklist
demands of a deployed classifier — per-group positive rate (disparate
impact, the 80%-rule denominator) and per-group TPR/FPR (equalized
odds) — for the same mean-threshold purchase classifier q_mcc_stump
scores globally. Item-item cosine on the customer-brand incidence
matrix is the classic Amazon-style collaborative filter ("customers who
bought X also bought Y"), the normalized upgrade of raw co-occurrence
counts. Calinski-Harabasz (variance-ratio criterion) completes the
internal clustering-validity suite next to silhouette and
Davies-Bouldin: between-cluster over within-cluster dispersion, the
index sklearn computes fastest and k-selection sweeps use most.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register


@register(
    "q_fairness_audit",
    oracle="""
    WITH mu AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
               AS m
      FROM events
    ),
    scored AS (
      SELECT c.c_mktsegment AS seg,
             CASE WHEN e.value > mu.m THEN 1 ELSE 0 END AS pred,
             CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS y
      FROM events e JOIN customer c ON c.c_custkey = e.user_id, mu
    ),
    g AS (
      SELECT seg,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(pred * y) AS BIGINT) AS tp,
             CAST(SUM(pred * (1 - y)) AS BIGINT) AS fp,
             CAST(SUM((1 - pred) * y) AS BIGINT) AS fn,
             CAST(SUM((1 - pred) * (1 - y)) AS BIGINT) AS tn
      FROM scored GROUP BY 1
    ),
    rates AS (
      SELECT seg, n,
             CAST(tp + fp AS DOUBLE) / n AS pos_rate,
             CAST(tp AS DOUBLE) / NULLIF(tp + fn, 0) AS tpr,
             CAST(fp AS DOUBLE) / NULLIF(fp + tn, 0) AS fpr
      FROM g
    )
    SELECT seg AS segment, n,
           round(pos_rate, 6) AS pos_rate,
           round(tpr, 6) AS tpr,
           round(fpr, 6) AS fpr,
           round(MIN(pos_rate) OVER () / MAX(pos_rate) OVER (), 6)
             AS disparate_impact,
           round(MAX(tpr) OVER () - MIN(tpr) OVER (), 6) AS tpr_gap,
           round(MAX(fpr) OVER () - MIN(fpr) OVER (), 6) AS fpr_gap
    FROM rates
    ORDER BY segment
    """,
)
def q_fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness audit of the mean-threshold purchase classifier
    across customer market segments (events.user_id ⋈ customer): per
    segment the predicted-positive rate, TPR and FPR, plus the
    fleet-wide disparate-impact ratio min/max(pos_rate) — the quantity
    the 80% rule tests — and the equalized-odds gaps max−min of
    TPR/FPR. One query answers "is the classifier's behavior uniform
    across segments, and if not, in selection or in error rates?"

    Determinism: the threshold is an exact-sum mean; all cells are
    integer counts; rates are single double divisions.

    Scale: fact ⋈ broadcast(customer dim is small here; at 100 TB the
    user⋈demographic join shuffles on the shared key) → one map-side-
    combined cell rollup; the min/max windows run over the ≤|segments|
    grid. 1-row threshold broadcast is a whitelisted BNLJ. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    cust = load(spark, sf_dir, "customer")
    mu = ev.agg(
        (F.sum(dec("value")).cast("double") / F.count(F.lit(1))).alias("m")
    )
    scored = (
        ev.crossJoin(F.broadcast(mu))
        .join(cust, F.col("c_custkey") == F.col("user_id"))
        .select(
            F.col("c_mktsegment").alias("seg"),
            F.when(F.col("value") > F.col("m"), 1).otherwise(0).alias("pred"),
            F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        )
    )
    g = scored.groupBy("seg").agg(
        bcount("n"),
        F.sum(F.col("pred") * F.col("y")).cast("bigint").alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("y"))).cast("bigint").alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("y")).cast("bigint").alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("y"))).cast("bigint").alias("tn"),
    )
    pos_rate = (F.col("tp") + F.col("fp")).cast("double") / F.col("n")
    tpr = F.col("tp").cast("double") / F.nullif(
        F.col("tp") + F.col("fn"), F.lit(0)
    )
    fpr = F.col("fp").cast("double") / F.nullif(
        F.col("fp") + F.col("tn"), F.lit(0)
    )
    rates = g.select(
        F.col("seg"),
        "n",
        pos_rate.alias("pos_rate"),
        tpr.alias("tpr"),
        fpr.alias("fpr"),
    )
    w = Window.partitionBy()
    return rates.select(
        F.col("seg").alias("segment"),
        "n",
        F.round("pos_rate", 6).alias("pos_rate"),
        F.round("tpr", 6).alias("tpr"),
        F.round("fpr", 6).alias("fpr"),
        F.round(F.min("pos_rate").over(w) / F.max("pos_rate").over(w), 6).alias(
            "disparate_impact"
        ),
        F.round(F.max("tpr").over(w) - F.min("tpr").over(w), 6).alias("tpr_gap"),
        F.round(F.max("fpr").over(w) - F.min("fpr").over(w), 6).alias("fpr_gap"),
    ).orderBy("segment")


@register(
    "q_item_item_cosine",
    oracle="""
    WITH inc AS (
      SELECT DISTINCT o.o_custkey AS cust, p.p_brand AS brand
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS n FROM inc GROUP BY 1),
    co AS (
      SELECT a.brand AS ba, b.brand AS bb, CAST(COUNT(*) AS BIGINT) AS co
      FROM inc a JOIN inc b ON b.cust = a.cust AND a.brand < b.brand
      GROUP BY 1, 2
    )
    SELECT co.ba AS brand_a, co.bb AS brand_b,
           na.n AS n_a, nb2.n AS n_b, co.co AS co_count,
           round(CAST(co.co AS DOUBLE)
                 / sqrt(CAST(na.n AS DOUBLE) * nb2.n), 6) AS cosine
    FROM co JOIN nb na ON na.brand = co.ba
            JOIN nb nb2 ON nb2.brand = co.bb
    ORDER BY cosine DESC, brand_a, brand_b
    LIMIT 10
    """,
)
def q_item_item_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative-filter similarity on the binary
    customer×brand incidence matrix: cosine(a,b) =
    |A∩B|/√(|A||B|) over customer sets, top-10 pairs — the normalized
    upgrade of q_market_basket_pairs' raw co-counts (raw counts rank
    popular brands together regardless of affinity; cosine corrects by
    each brand's reach).

    Determinism: all inputs are integer set sizes; cosine is one double
    expression; the top-10 ordering tiebreaks on the pair key.

    Scale: the incidence build is a fact star that collapses to
    distinct (customer, brand); the pair expansion self-joins on the
    customer key — co-partitioned, one shuffle, with per-customer
    fan-out bounded by |brands| (whitelisted SMJ like
    q_supplier_audience_overlap); brand totals broadcast back onto the
    ≤|brands|² pair grid. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    part = load(spark, sf_dir, "part")
    inc = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .select(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
        .distinct()
    )
    # checkpointed once (r6): brand totals and both self-join sides each
    # re-derived the 3-table fact star (4 fact scans in the plan); the
    # ≤|customers|×|brands| incidence grid materializes once
    inc = inc.localCheckpoint(eager=True)
    nb = inc.groupBy("brand").agg(bcount("n"))
    a = inc.select("cust", F.col("brand").alias("ba"))
    b = inc.select("cust", F.col("brand").alias("bb"))
    co = (
        a.join(b, ["cust"])
        .filter(F.col("ba") < F.col("bb"))
        .groupBy("ba", "bb")
        .agg(bcount("co"))
    )
    na = nb.select(F.col("brand").alias("ba"), F.col("n").alias("n_a"))
    nb2 = nb.select(F.col("brand").alias("bb"), F.col("n").alias("n_b"))
    out = (
        co.join(F.broadcast(na), "ba")
        .join(F.broadcast(nb2), "bb")
        .select(
            F.col("ba").alias("brand_a"),
            F.col("bb").alias("brand_b"),
            "n_a",
            "n_b",
            F.col("co").alias("co_count"),
            F.round(
                F.col("co").cast("double")
                / F.sqrt(F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ).alias("cosine"),
        )
    )
    return out.orderBy(
        F.col("cosine").desc(), "brand_a", "brand_b"
    ).limit(10)


@register(
    "q_calinski_harabasz",
    oracle="""
    WITH ex AS (
      SELECT label, u.z[2] AS dim, CAST(u.z[1] AS DOUBLE) AS x
      FROM embeddings,
           unnest(list_zip(CAST(embedding AS DOUBLE[]),
                           range(1, len(embedding) + 1))) AS u(z)
    ),
    ld AS (
      SELECT label, dim,
             CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS s,
             CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS ss,
             CAST(COUNT(*) AS BIGINT) AS nc
      FROM ex GROUP BY 1, 2
    ),
    gd AS (
      SELECT dim,
             CAST(SUM(CAST(s AS DECIMAL(38,12))) AS DOUBLE) AS gs,
             CAST(SUM(nc) AS BIGINT) AS n
      FROM ld GROUP BY 1
    ),
    parts AS (
      SELECT CAST(SUM(CAST(ld.nc
                           * (ld.s / ld.nc - gd.gs / gd.n)
                           * (ld.s / ld.nc - gd.gs / gd.n)
                           AS DECIMAL(38,15))) AS DOUBLE) AS bss,
             CAST(SUM(CAST(ld.ss - ld.s * ld.s / ld.nc
                           AS DECIMAL(38,15))) AS DOUBLE) AS wss,
             MAX(gd.n) AS n,
             CAST(COUNT(DISTINCT ld.label) AS BIGINT) AS k
      FROM ld JOIN gd USING (dim)
    )
    SELECT n AS n_vectors, k AS n_clusters,
           round(bss, 6) AS between_ss,
           round(wss, 6) AS within_ss,
           round((bss / (k - 1)) / (wss / (n - k)), 6) AS ch_index
    FROM parts
    """,
)
def q_calinski_harabasz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calinski-Harabasz variance-ratio index of the labeled embedding
    corpus: CH = [B/(k−1)]/[W/(n−k)] with between-cluster dispersion
    B = Σ_c n_c‖μ_c−μ‖² and within W = Σ_c Σ_d (Σx² − (Σx)²/n_c),
    all derived from per-(label, dim) first/second moments — no
    pairwise distances, unlike silhouette, so it's the index that still
    runs exactly at corpus scale. Completes the internal-validity
    trio with q_silhouette_by_label and q_davies_bouldin.

    Determinism: per-cell moments are exact DECIMAL(38,12) sums; B/W
    terms are double expressions cast DECIMAL(38,15) before the final
    sums (n_vectors counted once per dim-slice via the dim-grid join).

    Scale: the (row×64) explode partial-aggregates map-side to a
    |labels|×64 grid; everything after is constant-size math on that
    grid with the 64-row global-dim table joined back (broadcast).
    §2.B [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    ex = emb.select(
        "label", F.posexplode("embedding").alias("dim0", "xf")
    ).select(
        "label",
        (F.col("dim0") + 1).alias("dim"),
        F.col("xf").cast("double").alias("x"),
    )
    ld = ex.groupBy("label", "dim").agg(
        F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("s"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)"))
        .cast("double")
        .alias("ss"),
        bcount("nc"),
    ).localCheckpoint(eager=True)
    # ^ checkpointed once (r6): the global moments and the deviation join
    # both re-derived the rollup (2 embeddings scans in the plan); the
    # ≤|labels|×64 grid materializes once
    gd = ld.groupBy("dim").agg(
        F.sum(F.col("s").cast("decimal(38,12)")).cast("double").alias("gs"),
        F.sum("nc").cast("bigint").alias("n"),
    )
    dev = F.col("s") / F.col("nc") - F.col("gs") / F.col("n")
    parts = ld.join(F.broadcast(gd), "dim").agg(
        F.sum((F.col("nc") * dev * dev).cast(D15)).cast("double").alias("bss"),
        F.sum(
            (F.col("ss") - F.col("s") * F.col("s") / F.col("nc")).cast(D15)
        )
        .cast("double")
        .alias("wss"),
        F.max("n").alias("n"),
        F.countDistinct("label").cast("bigint").alias("k"),
    )
    return parts.select(
        F.col("n").alias("n_vectors"),
        F.col("k").alias("n_clusters"),
        F.round("bss", 6).alias("between_ss"),
        F.round("wss", 6).alias("within_ss"),
        F.round(
            (F.col("bss") / (F.col("k") - 1)) / (F.col("wss") / (F.col("n") - F.col("k"))),
            6,
        ).alias("ch_index"),
    )
