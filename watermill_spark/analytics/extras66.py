"""Analytics batch 74: the newsvendor critical-fractile stocking level,
a sparse TF-IDF cosine similarity join over documents (inverted-index
pair generation — the scalable sparse-vector twin of the dense embedding
joins), and Gaussian kernel density estimation on a fixed grid.

The TF-IDF pair join is the workhorse shape of near-duplicate detection
at corpus scale: explode to postings, join postings on token, accumulate
w₁·w₂ — never a full document cross join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register, spread


@register(
    "q_newsvendor_quantile",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS BIGINT) AS q
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1
    ),
    ranked AS (
      SELECT q, CAST(ROW_NUMBER() OVER (ORDER BY q, d) AS BIGINT) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM daily
    ),
    params AS (
      SELECT 9.0 / (9.0 + 3.0) AS fractile
    )
    SELECT MAX(n) AS n_days,
           round((SELECT fractile FROM params), 6) AS critical_fractile,
           CAST(MAX(CASE WHEN rn = CAST(CEIL((SELECT fractile FROM params)
                                             * n) AS BIGINT)
                    THEN q END) AS BIGINT) AS stock_level_qty,
           CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                    THEN q END) AS BIGINT) AS median_demand,
           round(CAST(MAX(CASE WHEN rn = CAST(CEIL((SELECT fractile
                                                    FROM params) * n)
                                              AS BIGINT) THEN q END)
                      AS DOUBLE)
                 / MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT)
                       THEN q END), 4) AS safety_factor
    FROM ranked
    """,
)
def q_newsvendor_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newsvendor stocking level: with underage cost 9 and overage cost 3
    the critical fractile is cᵤ/(cᵤ+cₒ) = 0.75, and the optimal stock is
    the exact 0.75-quantile of daily demanded quantity — inventory
    theory's canonical quantile decision, turning the engine's exact
    order statistics (q_percentiles) into an operational answer, with the
    stock/median safety factor as the interpretable output.

    Determinism: daily demand is an exact integer rollup; both quantiles
    are rank-based order statistics with a date tiebreak.

    Scale: calendar-bounded daily grid after one map-side-combined join
    rollup. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    daily = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.sum(dec("l_quantity")).cast("bigint").alias("q"))
    )
    ranked = daily.select(
        "q",
        F.row_number().over(Window.orderBy("q", "d")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    frac = F.lit(9.0) / (F.lit(9.0) + F.lit(3.0))
    stock = F.max(
        F.when(F.col("rn") == F.ceil(frac * F.col("n")).cast("bigint"), F.col("q"))
    ).cast("bigint")
    med = F.max(
        F.when(F.col("rn") == F.ceil(0.5 * F.col("n")).cast("bigint"), F.col("q"))
    ).cast("bigint")
    return ranked.agg(
        F.max("n").alias("n_days"),
        F.round(frac, 6).alias("critical_fractile"),
        stock.alias("stock_level_qty"),
        med.alias("median_demand"),
        F.round(stock.cast("double") / med, 4).alias("safety_factor"),
    )


_TFIDF_MIN_SIM = 0.5


@register(
    "q_tfidf_cosine_pairs",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(string_split(text, ' ')) AS t
      FROM documents
    ),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE t <> '' GROUP BY 1, 2
    ),
    df AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS dfc FROM tf GROUP BY t
    ),
    nd AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM tf),
    w AS (
      SELECT tf.doc_id, tf.t,
             CAST(tf.c AS DOUBLE)
             * (CAST(nd.n + 1 AS DOUBLE) / (df.dfc + 1)) AS wt
      FROM tf JOIN df USING (t) CROSS JOIN nd
    ),
    norms AS (
      SELECT doc_id,
             sqrt(CAST(SUM(CAST(wt * wt AS DECIMAL(28,6))) AS DOUBLE))
               AS nrm
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2,
             CAST(SUM(CAST(a.wt * b.wt AS DECIMAL(28,6))) AS DOUBLE) AS dp
      FROM w a JOIN w b ON b.t = a.t AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sims AS (
      SELECT d.d1, d.d2,
             round(d.dp / (n1.nrm * n2.nrm), 6) AS sim
      FROM dots d
      JOIN norms n1 ON n1.doc_id = d.d1
      JOIN norms n2 ON n2.doc_id = d.d2
    )
    SELECT d1, d2, sim FROM sims
    WHERE sim >= {_TFIDF_MIN_SIM}
    ORDER BY sim DESC, d1, d2
    LIMIT 20
    """,
)
def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join: weight each (doc, token) by
    tf·(N+1)/(df+1) (the engine's ln-free rational idf), accumulate
    w₁·w₂ dot products through the *inverted index* (postings joined on
    token — documents never cross-join), normalize, and return pairs with
    cosine ≥ 0.5 — the sparse-vector sibling of q_dedup_jaccard_pairs
    (set overlap) and q_dedup_embedding_cosine (dense), and the shape
    every near-dup pipeline uses when shingle sets are too coarse.

    Determinism: weights are integer-count rationals; every dot/norm term
    is DECIMAL(28,6)-cast per posting pair; top-20 tiebreaks on the pair.

    Scale: pair generation cost is Σ_token df(token)² — bounded by
    dropping ultra-common tokens in production (df cap); the join is
    token-partitioned, no doc×doc stage exists. The registered production
    twin is `q_tfidf_cosine_pairs_capped` (extras175): the df-cap
    stopword guard over the diagnostic doc sample. §2.B dedup surface
    [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("t")
    ).filter(F.col("t") != "")
    # ONE tokenize pass (r6): the posting list (the inverted index — THE
    # data structure of this algorithm) is materialized once; previously
    # df/nd/w/norms and both sides of the postings self-join each re-derived
    # it from the raw scan — 12 documents scans in the final plan.
    tf = tok.groupBy("doc_id", "t").agg(bcount("c")).localCheckpoint(eager=True)
    df_t = tf.groupBy("t").agg(bcount("dfc"))
    nd = tf.agg(F.count_distinct("doc_id").cast("bigint").alias("n"))
    w = (
        tf.join(df_t, "t")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "t",
            (
                F.col("c").cast("double")
                * ((F.col("n") + 1).cast("double") / (F.col("dfc") + 1))
            ).alias("wt"),
        )
    ).localCheckpoint(eager=True)
    norms = w.groupBy("doc_id").agg(
        F.sqrt(
            F.sum((F.col("wt") * F.col("wt")).cast("decimal(28,6)")).cast("double")
        ).alias("nrm")
    )
    wa, wb = w.alias("wa"), w.alias("wb")
    dots = (
        wa.join(
            wb,
            (F.col("wb.t") == F.col("wa.t"))
            & (F.col("wa.doc_id") < F.col("wb.doc_id")),
        )
        .groupBy(F.col("wa.doc_id").alias("d1"), F.col("wb.doc_id").alias("d2"))
        .agg(
            F.sum((F.col("wa.wt") * F.col("wb.wt")).cast("decimal(28,6)"))
            .cast("double")
            .alias("dp")
        )
    )
    n1 = norms.select(F.col("doc_id").alias("d1"), F.col("nrm").alias("nrm1"))
    n2 = norms.select(F.col("doc_id").alias("d2"), F.col("nrm").alias("nrm2"))
    sims = (
        dots.join(F.broadcast(n1), "d1")
        .join(F.broadcast(n2), "d2")
        .select(
            "d1",
            "d2",
            F.round(F.col("dp") / (F.col("nrm1") * F.col("nrm2")), 6).alias("sim"),
        )
    )
    return (
        sims.filter(F.col("sim") >= _TFIDF_MIN_SIM)
        .orderBy(F.col("sim").desc(), "d1", "d2")
        .limit(20)
    )


_KDE_POINTS = 15


@register(
    "q_gaussian_kde",
    oracle=f"""
    WITH v AS (
      SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(MIN(x) AS DOUBLE) AS lo,
             CAST(MAX(x) AS DOUBLE) AS hi,
             sqrt(CAST(SUM(CAST(x * x AS DECIMAL(28,6))) AS DOUBLE)
                  / COUNT(*)
                  - (CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*))
                    * (CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
                       / COUNT(*))) AS sd
      FROM v
    ),
    grid AS (
      SELECT g.g AS gi,
             s.lo + (s.hi - s.lo) * g.g / ({_KDE_POINTS} - 1) AS x0,
             1.06 * s.sd * pow(CAST(s.n AS DOUBLE), -0.2) AS h,
             s.n
      FROM stats s, (SELECT UNNEST(range(0, {_KDE_POINTS})) AS g) g
    ),
    dens AS (
      SELECT gi, x0, h, n,
             CAST(SUM(CAST(exp(-((v.x - x0) * (v.x - x0)) / (2 * h * h))
                      AS DECIMAL(28,15))) AS DOUBLE)
               / (n * h * 2.5066282746310002) AS f
      FROM grid, v
      GROUP BY gi, x0, h, n
    )
    SELECT CAST(gi AS BIGINT) AS grid_i,
           round(x0, 2) AS x,
           round(f * 1e6, 6) AS density_ppm
    FROM dens
    ORDER BY gi
    """,
)
def q_gaussian_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaussian kernel density estimate of order prices on a fixed
    15-point grid with Silverman's bandwidth h = 1.06·σ·n^(−1/5) — the
    smooth density view that histograms (q_width_bucket_histogram)
    staircase over, evaluated exactly where every engine can agree: a
    deterministic grid, one kernel sum per grid point (√2π as a shared
    literal).

    Determinism: grid points and bandwidth come from exact moment sums;
    each kernel term exp(−z²/2) is DECIMAL(28,15)-cast per (row, point)
    before summation; densities are scaled to ppm and rounded at 1e-6.

    Scale: the grid is a 15-row broadcast, so the kernel pass is one
    narrow map over the fact table with map-side combine into 15 cells —
    KDE as a groupBy, not a pairwise op. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    # single scan (r6): the bandwidth stats and the kernel sums each
    # re-scanned orders; both now derive from ONE per-distinct-value
    # count grid (checkpointed once — posting-list class, state linear
    # in the distinct-price domain). Exactness: the decimal kernel terms
    # and the decimal moment sums are weighted by the exact integer
    # multiplicity, and decimal × integer ≡ the same decimal added c
    # times.
    vg = (
        o.select(F.col("o_totalprice").cast("double").alias("x"))
        .groupBy("x")
        .agg(bcount("c"))
        .localCheckpoint(eager=True)
    )
    cnt_n = F.sum("c").cast("bigint")
    # weight factors sized so every decimal product stays within
    # precision 38 — no precision-loss rescale, so c × value is exactly
    # the value added c times
    cw = F.col("c").cast("decimal(12,0)")
    stats = vg.agg(
        cnt_n.alias("n"),
        F.min("x").alias("lo"),
        F.max("x").alias("hi"),
        F.sqrt(
            F.sum(((F.col("x") * F.col("x")).cast("decimal(25,6)") * cw))
            .cast("double")
            / cnt_n
            - (F.sum(dec("x").cast("decimal(25,6)") * cw).cast("double") / cnt_n)
            * (F.sum(dec("x").cast("decimal(25,6)") * cw).cast("double") / cnt_n)
        ).alias("sd"),
    )
    gs = spark.range(0, _KDE_POINTS).select(F.col("id").cast("int").alias("g"))
    grid = stats.crossJoin(F.broadcast(gs)).select(
        F.col("g").alias("gi"),
        (
            F.col("lo")
            + (F.col("hi") - F.col("lo")) * F.col("g") / (_KDE_POINTS - 1)
        ).alias("x0"),
        (1.06 * F.col("sd") * F.pow(F.col("n").cast("double"), -0.2)).alias("h"),
        "n",
    )
    j = vg.crossJoin(F.broadcast(grid))
    z2 = ((F.col("x") - F.col("x0")) * (F.col("x") - F.col("x0"))) / (
        2 * F.col("h") * F.col("h")
    )
    dens = j.groupBy("gi", "x0", "h", "n").agg(
        (
            F.sum(
                F.exp(-z2).cast("decimal(25,15)")
                * F.col("c").cast("decimal(12,0)")
            ).cast("double")
            / (F.col("n") * F.col("h") * F.lit(2.5066282746310002))
        ).alias("f")
    )
    return dens.select(
        F.col("gi").cast("bigint").alias("grid_i"),
        F.round("x0", 2).alias("x"),
        F.round(F.col("f") * 1e6, 6).alias("density_ppm"),
    ).orderBy("grid_i")
