"""Analytics batch 38: rank/association statistics and corpus lexical audits
— Kendall tau-b trend association, Cramér's V effect size, Jarque–Bera
normality, Kruskal–Wallis rank ANOVA, hapax-legomena vocabulary profile,
and bigram conditional entropy (the language-model-perplexity proxy used to
triage training corpora).

Determinism follows det.py: integer counts stay BIGINT, money sums go
through DECIMAL, per-row double expressions are written with identical
association on both engines, and tiny-grid transcendental sums (log2 over a
bounded vocab) are rounded past the accumulated ulp wobble.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register, spread


@register(
    "q_kendall_tau",
    oracle="""
    WITH m AS (
      SELECT date_trunc('month', o_orderdate) AS mth,
             CAST(COUNT(*) AS BIGINT) AS x,
             SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS y
      FROM orders GROUP BY 1
    ),
    p AS (
      SELECT a.x AS xa, b.x AS xb, a.y AS ya, b.y AS yb
      FROM m a JOIN m b ON a.mth < b.mth
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(COUNT(*) FILTER (WHERE (xa < xb AND ya < yb)
                                      OR (xa > xb AND ya > yb)) AS BIGINT) AS conc,
             CAST(COUNT(*) FILTER (WHERE (xa < xb AND ya > yb)
                                      OR (xa > xb AND ya < yb)) AS BIGINT) AS disc,
             CAST(COUNT(*) FILTER (WHERE xa = xb) AS BIGINT) AS tie_x,
             CAST(COUNT(*) FILTER (WHERE ya = yb) AS BIGINT) AS tie_y
      FROM p
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_months,
           n_pairs, conc, disc,
           round(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(n_pairs - tie_x AS DOUBLE)
                        * CAST(n_pairs - tie_y AS DOUBLE)), 6) AS tau_b
    FROM c
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between monthly order volume and
    monthly revenue — the robust (outlier-immune) alternative to Pearson for
    "do busier months make more money".

    Pair expansion happens strictly *post-aggregate*: the fact table first
    collapses to one row per month (~80 rows for seven years), and the
    O(months²) self-join runs on that tiny grid — ~3k pairs regardless of
    fact-table size, broadcast on both sides. Concordant/discordant/tie
    classification compares exact BIGINT counts and exact DECIMAL revenue
    sums, so pair signs are bit-identical across engines; tau-b is one
    double division at the end.

    Scale: at 100 TB the month grid is still ~#months rows; the only heavy
    operation is the map-side-combined groupBy. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    m = o.groupBy(F.date_trunc("month", "o_orderdate").alias("mth")).agg(
        bcount("x"), F.sum(dec("o_totalprice")).alias("y")
    )
    # checkpointed once (r6): both pair sides and the month count each
    # re-derived the monthly rollup (3 orders scans in the plan); the
    # calendar-bounded month grid materializes once
    m = m.localCheckpoint(eager=True)
    a = m.select(F.col("mth").alias("ma"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = m.select(F.col("mth").alias("mb"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    p = a.join(F.broadcast(b), F.col("ma") < F.col("mb"))
    xa, xb, ya, yb = F.col("xa"), F.col("xb"), F.col("ya"), F.col("yb")
    c = p.agg(
        bcount("n_pairs"),
        F.count_if((xa < xb) & (ya < yb) | (xa > xb) & (ya > yb))
        .cast("bigint")
        .alias("conc"),
        F.count_if((xa < xb) & (ya > yb) | (xa > xb) & (ya < yb))
        .cast("bigint")
        .alias("disc"),
        F.count_if(xa == xb).cast("bigint").alias("tie_x"),
        F.count_if(ya == yb).cast("bigint").alias("tie_y"),
    )
    n_months = m.agg(bcount("n_months"))
    return c.crossJoin(F.broadcast(n_months)).select(
        "n_months",
        "n_pairs",
        "conc",
        "disc",
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                (F.col("n_pairs") - F.col("tie_x")).cast("double")
                * (F.col("n_pairs") - F.col("tie_y")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    )


@register(
    "q_cramers_v",
    oracle="""
    WITH cell AS (
      SELECT o_orderpriority AS r, o_orderstatus AS c,
             CAST(COUNT(*) AS BIGINT) AS obs
      FROM orders GROUP BY 1, 2
    ),
    aug AS (
      SELECT obs,
             SUM(obs) OVER (PARTITION BY r) AS row_tot,
             SUM(obs) OVER (PARTITION BY c) AS col_tot,
             SUM(obs) OVER () AS n
      FROM cell
    ),
    per AS (
      SELECT n,
             (CAST(obs AS DOUBLE)
              - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
             * (CAST(obs AS DOUBLE)
                - CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
             / (CAST(row_tot * col_tot AS DOUBLE) / CAST(n AS DOUBLE))
               AS cell_chi2
      FROM aug
    ),
    dims AS (
      SELECT CAST(COUNT(DISTINCT r) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT c) AS BIGINT) AS nc
      FROM cell
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n,
           (SELECT nr FROM dims) AS n_rows_dim,
           (SELECT nc FROM dims) AS n_cols_dim,
           CAST(SUM(CAST(cell_chi2 AS DECIMAL(28,12))) AS DOUBLE) AS chi2,
           round(sqrt(CAST(SUM(CAST(cell_chi2 AS DECIMAL(28,12))) AS DOUBLE)
                      / (CAST(MAX(n) AS DOUBLE)
                         * CAST((SELECT LEAST(nr, nc) - 1 FROM dims) AS DOUBLE))),
                 6) AS cramers_v
    FROM per
    """,
)
def q_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cramér's V effect size for order priority × order status — chi-square
    rescaled to [0,1] so association strength is comparable across tables of
    different shapes (the "is this dependence *material*" follow-up to
    q_chi2_type_dow's significance test).

    Same determinism recipe as the chi-square query: exact BIGINT marginals,
    fixed-shape per-cell double expression, DECIMAL cell sum; V adds one
    sqrt over (chi2 / (n · (min(r,c)−1))).

    Scale: contingency grid is |priority|×|status| (15 cells) after one
    map-side-combined groupBy. §2.B [NS].
    """
    o = load(spark, sf_dir, "orders")
    # checkpointed once (r6): the chi2 pass and the dims aggregate both
    # re-derived the counts (2 orders scans in the plan); the
    # ≤|priorities|×|statuses| grid materializes once
    cell = o.groupBy(
        F.col("o_orderpriority").alias("r"), F.col("o_orderstatus").alias("c")
    ).agg(bcount("obs")).localCheckpoint(eager=True)
    aug = cell.select(
        "obs",
        F.sum("obs").over(Window.partitionBy("r")).alias("row_tot"),
        F.sum("obs").over(Window.partitionBy("c")).alias("col_tot"),
        F.sum("obs").over(Window.partitionBy()).alias("n"),
    )
    exp = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("n").cast(
        "double"
    )
    dev = F.col("obs").cast("double") - exp
    per = aug.select("n", (dev * dev / exp).alias("cell_chi2"))
    dims = cell.agg(
        F.countDistinct("r").cast("bigint").alias("n_rows_dim"),
        F.countDistinct("c").cast("bigint").alias("n_cols_dim"),
    )
    agg = per.agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum(F.col("cell_chi2").cast("decimal(28,12)")).cast("double").alias("chi2"),
    )
    return agg.crossJoin(F.broadcast(dims)).select(
        "n",
        "n_rows_dim",
        "n_cols_dim",
        "chi2",
        F.round(
            F.sqrt(
                F.col("chi2")
                / (
                    F.col("n").cast("double")
                    * (F.least("n_rows_dim", "n_cols_dim") - F.lit(1)).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "q_jarque_bera",
    oracle="""
    WITH g AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(24,6))) AS DOUBLE) AS s2,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice * l_extendedprice
                           AS DECIMAL(28,6))) AS DOUBLE) AS s3,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice * l_extendedprice
                           * l_extendedprice AS DECIMAL(32,4))) AS DOUBLE) AS s4
      FROM lineitem GROUP BY 1
    ),
    mo AS (
      SELECT l_returnflag, n,
             s1 / n AS m,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
                    + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
                    + 6 * (s1 / n) * (s1 / n) * (s2 / n)
                    - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
      FROM g
    )
    SELECT l_returnflag, n,
           round(m, 6) AS mean_price,
           round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
           round(m4 / (m2 * m2) - 3, 6) AS excess_kurtosis,
           round(CAST(n AS DOUBLE) / 6
                 * ((m3 / (m2 * sqrt(m2))) * (m3 / (m2 * sqrt(m2)))
                    + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4), 4)
             AS jarque_bera
    FROM mo ORDER BY l_returnflag
    """,
)
def q_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test of extended price per return flag —
    skewness and excess kurtosis from one pass of raw moments, combined into
    the JB statistic (χ²₂ under normality).

    Determinism: per-row powers are written with identical left-associated
    double multiplies on both engines (every IEEE op is correctly rounded,
    so identical inputs give identical bits); each power is then cast to a
    DECIMAL wide enough for its magnitude (x⁴ ≤ 1.3e20 → DECIMAL(32,4),
    whose 38-digit sum holds ~1e9 rows) so partial-agg order can't move the
    sum. Moment algebra on the 3-row grid is fixed-shape double math with
    sqrt (correctly rounded) instead of pow (libm-dependent).

    Scale: single map-side-combined pass over the fact table; everything
    after is per-group constant work. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    x = F.col("l_extendedprice")
    x2 = x * x
    x3 = x2 * x
    x4 = x3 * x
    g = li.groupBy("l_returnflag").agg(
        bcount("n"),
        F.sum(x.cast("decimal(18,6)")).cast("double").alias("s1"),
        F.sum(x2.cast("decimal(24,6)")).cast("double").alias("s2"),
        F.sum(x3.cast("decimal(28,6)")).cast("double").alias("s3"),
        F.sum(x4.cast("decimal(32,4)")).cast("double").alias("s4"),
    )
    n_d = F.col("n")  # BIGINT/DOUBLE mixing matches the oracle's implicit casts
    m = F.col("s1") / n_d
    m2 = F.col("s2") / n_d - m * m
    m3 = F.col("s3") / n_d - F.lit(3) * m * (F.col("s2") / n_d) + F.lit(2) * m * m * m
    m4 = (
        F.col("s4") / n_d
        - F.lit(4) * m * (F.col("s3") / n_d)
        + F.lit(6) * m * m * (F.col("s2") / n_d)
        - F.lit(3) * m * m * m * m
    )
    skew = m3 / (m2 * F.sqrt(m2))
    exk = m4 / (m2 * m2) - F.lit(3)
    return g.select(
        "l_returnflag",
        "n",
        F.round(m, 6).alias("mean_price"),
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(
            n_d.cast("double") / F.lit(6) * (skew * skew + exk * exk / F.lit(4)), 4
        ).alias("jarque_bera"),
    ).orderBy("l_returnflag")


@register(
    "q_kruskal_wallis",
    oracle="""
    WITH vt AS (
      SELECT value AS v, event_type, CAST(COUNT(*) AS BIGINT) AS n_vt
      FROM events GROUP BY 1, 2
    ),
    dv AS (
      SELECT v, CAST(SUM(n_vt) AS BIGINT) AS n_v
      FROM vt GROUP BY 1
    ),
    rk AS (
      SELECT v, n_v,
             CAST(COALESCE(SUM(n_v) OVER (ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS DOUBLE) + (CAST(n_v AS DOUBLE) + 1) / 2 AS avg_rank
      FROM dv
    ),
    per_type AS (
      SELECT event_type,
             CAST(SUM(n_vt) AS BIGINT) AS n_j,
             CAST(SUM(CAST(CAST(n_vt AS DOUBLE) * avg_rank
                           AS DECIMAL(18,1))) AS DOUBLE) AS r_j
      FROM vt JOIN rk USING (v) GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_v) AS BIGINT) AS n,
             CAST(SUM(n_v * n_v * n_v - n_v) AS BIGINT) AS tie_t
      FROM dv
    ),
    h AS (
      SELECT (SELECT n FROM tot) AS n,
             (SELECT tie_t FROM tot) AS tie_t,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(CAST(r_j * r_j / CAST(n_j AS DOUBLE)
                           AS DECIMAL(28,8))) AS DOUBLE) AS srn
      FROM per_type
    )
    SELECT n, k, CAST(k - 1 AS BIGINT) AS dof,
           round(12 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * srn
                 - 3 * (CAST(n AS DOUBLE) + 1), 6) AS h_stat,
           round((12 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1)) * srn
                  - 3 * (CAST(n AS DOUBLE) + 1))
                 / (1 - CAST(tie_t AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))), 6)
             AS h_stat_tie_adj
    FROM h
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis rank ANOVA: does the distribution of event `value`
    differ across event types? The non-parametric complement to
    q_anova_value_by_type (no normality assumption), with the standard tie
    correction.

    Ranks are computed scale-consciously: the fact table collapses to
    (value, type) count cells, the midrank of each *distinct* value comes
    from a running sum over the distinct-value grid (the only ordered
    structure — |distinct values| rows, not |rows|), and rank sums per type
    are exact because midranks live on a 0.5 lattice (DECIMAL(18,1) sums).
    The ≤|types| final terms go through DECIMAL too.

    Scale: no global per-row sort — the cumulative window runs on distinct
    values only; at 100 TB with high-cardinality doubles you'd bucket values
    first (the classical midrank-on-histogram trick), which this plan
    already is. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    vt = ev.groupBy(F.col("value").alias("v"), "event_type").agg(
        bcount("n_vt")
    )
    # checkpointed once (r6): the rank table, per-type sums and the tie
    # total each re-derived the value×type counts (3 events scans in the
    # plan); the deduped grid materializes once (state linear in the
    # distinct-value domain — posting-list class)
    vt = vt.localCheckpoint(eager=True)
    dv = vt.groupBy("v").agg(F.sum("n_vt").cast("bigint").alias("n_v"))
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    rk = dv.select(
        "v",
        "n_v",
        (
            F.coalesce(F.sum("n_v").over(w), F.lit(0)).cast("double")
            + (F.col("n_v").cast("double") + 1) / 2
        ).alias("avg_rank"),
    )
    per_type = (
        vt.join(rk, "v")
        .groupBy("event_type")
        .agg(
            F.sum("n_vt").cast("bigint").alias("n_j"),
            F.sum(
                (F.col("n_vt").cast("double") * F.col("avg_rank")).cast(
                    "decimal(18,1)"
                )
            )
            .cast("double")
            .alias("r_j"),
        )
    )
    tot = dv.agg(
        F.sum("n_v").cast("bigint").alias("n"),
        F.sum(F.col("n_v") * F.col("n_v") * F.col("n_v") - F.col("n_v"))
        .cast("bigint")
        .alias("tie_t"),
    )
    h = per_type.agg(
        bcount("k"),
        F.sum(
            (F.col("r_j") * F.col("r_j") / F.col("n_j").cast("double")).cast(
                "decimal(28,8)"
            )
        )
        .cast("double")
        .alias("srn"),
    ).crossJoin(F.broadcast(tot))
    n_d = F.col("n").cast("double")
    h_stat = F.lit(12) / (n_d * (n_d + 1)) * F.col("srn") - F.lit(3) * (n_d + 1)
    tie_factor = F.lit(1) - F.col("tie_t").cast("double") / (n_d * n_d * n_d - n_d)
    return h.select(
        "n",
        "k",
        (F.col("k") - 1).cast("bigint").alias("dof"),
        F.round(h_stat, 6).alias("h_stat"),
        F.round(h_stat / tie_factor, 6).alias("h_stat_tie_adj"),
    )


@register(
    "q_doc_hapax",
    oracle="""
    WITH tok AS (
      SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents
    ),
    tc AS (
      SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n FROM tok GROUP BY 1, 2
    ),
    d AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
    )
    SELECT tc.lang,
           (SELECT n_docs FROM d WHERE d.lang = tc.lang) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab,
           CAST(COUNT(*) FILTER (WHERE n = 1) AS BIGINT) AS hapax,
           round(CAST(COUNT(*) FILTER (WHERE n = 1) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS hapax_ratio,
           round(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE), 6)
             AS type_token_ratio
    FROM tc GROUP BY tc.lang
    """,
)
def q_doc_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena vocabulary profile per language: corpus token count,
    vocabulary size, words occurring exactly once, and the hapax /
    type-token ratios — the classic lexical-richness signals used to spot
    template-generated (low-hapax) vs organic text in a training corpus.

    Scale: explode → two-level groupBy, both map-side combinable; the
    per-language result grid is |langs| rows. Token explosion is the only
    data-expanding step and is linear in corpus size. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    tok = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    tc = tok.groupBy("lang", "tok").agg(bcount("n"))
    d = docs.groupBy("lang").agg(bcount("n_docs"))
    hap = tc.groupBy("lang").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        bcount("vocab"),
        F.count_if(F.col("n") == 1).cast("bigint").alias("hapax"),
    )
    return hap.join(F.broadcast(d), "lang").select(
        "lang",
        "n_docs",
        "n_tokens",
        "vocab",
        "hapax",
        F.round(
            F.col("hapax").cast("double") / F.col("vocab").cast("double"), 6
        ).alias("hapax_ratio"),
        F.round(
            F.col("vocab").cast("double") / F.col("n_tokens").cast("double"), 6
        ).alias("type_token_ratio"),
    )


@register(
    "q_doc_bigram_entropy",
    oracle="""
    WITH t AS (
      SELECT lang, string_split(text, ' ') AS toks FROM documents
    ),
    bg AS (
      SELECT lang, toks[i] AS a, toks[i + 1] AS b
      FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
    ),
    ab AS (
      SELECT lang, a, b, CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM bg GROUP BY 1, 2, 3
    ),
    aug AS (
      SELECT lang, n_ab,
             SUM(n_ab) OVER (PARTITION BY lang, a) AS n_a,
             SUM(n_ab) OVER (PARTITION BY lang) AS n
      FROM ab
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
           round(-SUM((CAST(n_ab AS DOUBLE) / CAST(n AS DOUBLE))
                      * log2(CAST(n_ab AS DOUBLE) / CAST(n_a AS DOUBLE))), 6)
             AS cond_entropy_bits
    FROM aug GROUP BY lang
    """,
)
def q_doc_bigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram entropy H(next | prev) per language, in bits — a
    cheap language-model-perplexity proxy: low entropy flags repetitive /
    machine-generated text, high entropy flags noise. Computed from exact
    bigram and prev-token-marginal counts.

    log2 is transcendental (last-ulp wobble between libm implementations),
    but the sum ranges over the distinct-bigram grid (≤ vocab² ≈ 1k terms
    per language here), so accumulated wobble ≪ 1e-12 and round(…, 6)
    absorbs it — the same bounded-grid argument as q_user_entropy.

    Scale: bigram expansion is linear (one row per adjacent pair); counts
    collapse map-side. The marginal via a window over (lang, a) partitions
    shuffles only the distinct-bigram grid, not the corpus. §2.B [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    toks = F.split("text", " ")
    t = docs.select("lang", toks.alias("toks"))
    bg = t.select(
        "lang",
        F.posexplode(F.slice("toks", 1, F.size("toks") - 1)).alias("i", "a"),
        F.col("toks"),
    ).select("lang", "a", F.element_at("toks", F.col("i") + 2).alias("b"))
    ab = bg.groupBy("lang", "a", "b").agg(bcount("n_ab"))
    aug = ab.select(
        "lang",
        "n_ab",
        F.sum("n_ab").over(Window.partitionBy("lang", "a")).alias("n_a"),
        F.sum("n_ab").over(Window.partitionBy("lang")).alias("n"),
    )
    p_ab = F.col("n_ab").cast("double") / F.col("n").cast("double")
    p_cond = F.col("n_ab").cast("double") / F.col("n_a").cast("double")
    return aug.groupBy("lang").agg(
        F.max("n").cast("bigint").alias("n_bigrams"),
        bcount("distinct_bigrams"),
        F.round(-F.sum(p_ab * F.log2(p_cond)), 6).alias("cond_entropy_bits"),
    )
