"""Analytics batch 140: BLEU-2 pair scoring, generalized ESD multi-round
outlier detection, and entropy / recursive (c,l)-diversity privacy audit.

BLEU-2 joins q_rouge1_pairs on the dedup-triage shelf (precision-oriented
n-gram overlap with brevity penalty vs ROUGE's recall orientation);
generalized ESD extends q_grubbs_outlier to the multiple-outlier case the
single-round test famously masks; the diversity audit deepens
q_k_anonymity's min-l summary with the entropy and recursive variants a
real release gate checks (distinct-l alone is gameable by one dominant
sensitive value).

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation/privacy/text-family operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register
from .relations import PREFIX_PAIRS_SQL, prefix_blocks, prefix_pairs


@register(
    "q_bleu_pairs",
    oracle=f"""
    WITH {PREFIX_PAIRS_SQL},
    uni AS (
      SELECT da, db, side, tok,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT da, db, 'a' AS side, unnest(ta) AS tok FROM cand
        UNION ALL
        SELECT da, db, 'b', unnest(tb) FROM cand
      ) GROUP BY 1, 2, 3, 4
    ),
    bi AS (
      SELECT da, db, side, tok,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT da, db, 'a' AS side,
               unnest(list_transform(range(1, len(ta)),
                      j -> ta[j] || ' ' || ta[j+1])) AS tok
        FROM cand
        UNION ALL
        SELECT da, db, 'b',
               unnest(list_transform(range(1, len(tb)),
                      j -> tb[j] || ' ' || tb[j+1]))
        FROM cand
      ) GROUP BY 1, 2, 3, 4
    ),
    s1 AS (
      SELECT da, db,
             CAST(SUM(LEAST(COALESCE(ca, 0), COALESCE(cb, 0))) AS BIGINT) AS o1,
             CAST(SUM(COALESCE(cb, 0)) AS BIGINT) AS n1,
             CAST(SUM(COALESCE(ca, 0)) AS BIGINT) AS ra
      FROM (
        SELECT da, db, tok,
               MAX(CASE WHEN side = 'a' THEN c END) AS ca,
               MAX(CASE WHEN side = 'b' THEN c END) AS cb
        FROM uni GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    s2 AS (
      SELECT da, db,
             CAST(SUM(LEAST(COALESCE(ca, 0), COALESCE(cb, 0))) AS BIGINT) AS o2,
             CAST(SUM(COALESCE(cb, 0)) AS BIGINT) AS n2
      FROM (
        SELECT da, db, tok,
               MAX(CASE WHEN side = 'a' THEN c END) AS ca,
               MAX(CASE WHEN side = 'b' THEN c END) AS cb
        FROM bi GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    scored AS (
      SELECT s1.da, s1.db,
             CAST(s1.o1 AS DOUBLE) / s1.n1 AS p1,
             CAST(s2.o2 AS DOUBLE) / s2.n2 AS p2,
             LEAST(1.0, exp(1.0 - CAST(s1.ra AS DOUBLE) / s1.n1)) AS bp
      FROM s1 JOIN s2 ON s2.da = s1.da AND s2.db = s1.db
    )
    SELECT da AS doc_a, db AS doc_b,
           round(p1, 6) AS bleu_p1,
           round(p2, 6) AS bleu_p2,
           round(bp, 6) AS brevity_penalty,
           round(bp * exp(0.5 * ln(p1) + 0.5 * ln(p2)), 6) AS bleu2
    FROM scored
    ORDER BY bleu2 DESC, doc_a, doc_b
    """,
)
def q_bleu_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-2 scoring of prefix-blocked near-dup candidates (doc B as
    candidate, doc A as reference): clipped unigram and bigram precisions
    p₁, p₂, brevity penalty min(1, e^{1−|ref|/|cand|}), and
    BLEU-2 = BP·e^{½(ln p₁ + ln p₂)}. The precision-side twin of
    q_rouge1_pairs for dedup triage — a high-BLEU low-ROUGE pair means
    the candidate is contained in the reference. No smoothing needed: the
    8-token shared prefix guarantees ≥8 unigram and ≥7 bigram clipped
    matches, so no ln(0).

    Determinism: n-gram counts are exact integers; precisions divide in
    double; (bleu2 desc, ids) total order.

    Scale: candidates from the prefix-hash equi-join (bounded blocks,
    the q_prefix_dup_groups key); only candidate pairs' n-grams explode —
    never the corpus cross product. LLM-pipeline surface.
    """
    cand = (
        prefix_pairs(prefix_blocks(spark, sf_dir))
        # checkpointed once (r6): clipped() reads cand twice per n-gram
        # order (a-side + b-side), re-tokenizing the corpus 8x before
        .localCheckpoint(eager=True)
    )

    def bigrams(col):
        c = F.col(col)
        return F.transform(
            F.sequence(F.lit(1), F.size(c) - 1),
            lambda j: F.concat(
                F.element_at(c, j), F.lit(" "), F.element_at(c, j + 1)
            ),
        )

    def clipped(tok_a, tok_b):
        """(overlap, cand_total, ref_total) from per-side token columns."""
        toks = cand.select(
            "da", "db", F.lit("a").alias("side"), F.explode(tok_a).alias("tok")
        ).unionByName(
            cand.select(
                "da", "db", F.lit("b").alias("side"), F.explode(tok_b).alias("tok")
            )
        )
        counts = toks.groupBy("da", "db", "side", "tok").agg(bcount("c"))
        pivoted = counts.groupBy("da", "db", "tok").agg(
            F.max(F.when(F.col("side") == "a", F.col("c"))).alias("ca"),
            F.max(F.when(F.col("side") == "b", F.col("c"))).alias("cb"),
        )
        return pivoted.groupBy("da", "db").agg(
            F.sum(
                F.least(F.coalesce("ca", F.lit(0)), F.coalesce("cb", F.lit(0)))
            )
            .cast("bigint")
            .alias("o"),
            F.sum(F.coalesce("cb", F.lit(0))).cast("bigint").alias("n"),
            F.sum(F.coalesce("ca", F.lit(0))).cast("bigint").alias("ra"),
        )

    s1 = clipped(F.col("ta"), F.col("tb")).select(
        "da", "db", F.col("o").alias("o1"), F.col("n").alias("n1"), "ra"
    )
    s2 = clipped(bigrams("ta"), bigrams("tb")).select(
        F.col("da").alias("da2"),
        F.col("db").alias("db2"),
        F.col("o").alias("o2"),
        F.col("n").alias("n2"),
    )
    scored = s1.join(
        s2, (F.col("da") == F.col("da2")) & (F.col("db") == F.col("db2"))
    ).select(
        "da",
        "db",
        (F.col("o1").cast("double") / F.col("n1")).alias("p1"),
        (F.col("o2").cast("double") / F.col("n2")).alias("p2"),
        F.least(
            F.lit(1.0), F.exp(1.0 - F.col("ra").cast("double") / F.col("n1"))
        ).alias("bp"),
    )
    return scored.select(
        F.col("da").alias("doc_a"),
        F.col("db").alias("doc_b"),
        F.round("p1", 6).alias("bleu_p1"),
        F.round("p2", 6).alias("bleu_p2"),
        F.round("bp", 6).alias("brevity_penalty"),
        F.round(
            F.col("bp") * F.exp(0.5 * F.log("p1") + 0.5 * F.log("p2")), 6
        ).alias("bleu2"),
    ).orderBy(F.desc("bleu2"), "doc_a", "doc_b")


@register(
    "q_generalized_esd",
    oracle="""
    WITH daily AS (
      SELECT date_trunc('day', l_shipdate) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM lineitem GROUP BY 1
    ),
    m1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM daily
    ),
    s1 AS (
      SELECT m.n, m.mu,
             sqrt(CAST(SUM(CAST((y-m.mu)*(y-m.mu) AS DECIMAL(38,15)))
                       AS DOUBLE) / (m.n - 1)) AS s
      FROM daily, m1 m GROUP BY m.n, m.mu
    ),
    o1 AS (
      SELECT d, y, abs(y - s.mu) / s.s AS r, s.n
      FROM daily, s1 s
      ORDER BY abs(y - s.mu) / s.s DESC, d LIMIT 1
    ),
    d2 AS (SELECT d, y FROM daily WHERE d <> (SELECT d FROM o1)),
    m2 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM d2
    ),
    s2 AS (
      SELECT m.n, m.mu,
             sqrt(CAST(SUM(CAST((y-m.mu)*(y-m.mu) AS DECIMAL(38,15)))
                       AS DOUBLE) / (m.n - 1)) AS s
      FROM d2, m2 m GROUP BY m.n, m.mu
    ),
    o2 AS (
      SELECT d, y, abs(y - s.mu) / s.s AS r, s.n
      FROM d2, s2 s
      ORDER BY abs(y - s.mu) / s.s DESC, d LIMIT 1
    ),
    d3 AS (SELECT d, y FROM d2 WHERE d <> (SELECT d FROM o2)),
    m3 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE) / COUNT(*) AS mu
      FROM d3
    ),
    s3 AS (
      SELECT m.n, m.mu,
             sqrt(CAST(SUM(CAST((y-m.mu)*(y-m.mu) AS DECIMAL(38,15)))
                       AS DOUBLE) / (m.n - 1)) AS s
      FROM d3, m3 m GROUP BY m.n, m.mu
    ),
    o3 AS (
      SELECT d, y, abs(y - s.mu) / s.s AS r, s.n
      FROM d3, s3 s
      ORDER BY abs(y - s.mu) / s.s DESC, d LIMIT 1
    )
    SELECT * FROM (
      SELECT CAST(1 AS BIGINT) AS iteration, n,
             CAST(d AS DATE) AS outlier_date,
             round(r, 6) AS r_stat,
             CASE WHEN r > 3.0 THEN 'outlier' ELSE 'ok' END AS verdict
      FROM o1
      UNION ALL
      SELECT CAST(2 AS BIGINT), n, CAST(d AS DATE), round(r, 6),
             CASE WHEN r > 3.0 THEN 'outlier' ELSE 'ok' END
      FROM o2
      UNION ALL
      SELECT CAST(3 AS BIGINT), n, CAST(d AS DATE), round(r, 6),
             CASE WHEN r > 3.0 THEN 'outlier' ELSE 'ok' END
      FROM o3)
    ORDER BY iteration
    """,
)
def q_generalized_esd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD (extreme studentized deviate) outlier sweep, 3
    rounds: each round studentizes the surviving daily-revenue grid
    against its own mean/sd, reports the most extreme day's R statistic
    (vs the fixed 3.0 screen), removes it, and repeats — the multi-outlier
    upgrade of q_grubbs_outlier, immune to the masking effect where one
    huge outlier inflates sd enough to hide a second.

    Determinism: each round's mean/sd use exact DECIMAL(38,15) sums;
    argmax |z| is tiebroken by date; the rounds are unrolled chained
    aggregations on both engines.

    Scale: facts collapse to the bounded day grid once; each round is two
    aggregations + a 1-row broadcast onto that grid (the per-round BNLJ
    whitelisted). Rounds are fixed at 3 — the plan does not grow with
    data. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    # checkpointed once (r6): the bounded day grid is re-derived by every
    # reference in the 3 unrolled rounds (3 refs/round, chained) — the
    # final plan re-scanned lineitem 63 times; now facts collapse ONCE
    daily = li.groupBy(F.date_trunc("day", "l_shipdate").alias("d")).agg(
        F.sum(dec("l_extendedprice")).cast("double").alias("y")
    ).localCheckpoint(eager=True)

    def esd_round(grid: DataFrame) -> tuple[DataFrame, DataFrame]:
        """(1-row outlier frame, surviving grid) for one round."""
        m = grid.agg(
            bcount("n"),
            (
                F.sum(F.col("y").cast(D15)).cast("double") / F.count(F.lit(1))
            ).alias("mu"),
        )
        s = (
            grid.crossJoin(F.broadcast(m))
            .groupBy("n", "mu")
            .agg(
                F.sqrt(
                    F.sum(
                        ((F.col("y") - F.col("mu")) * (F.col("y") - F.col("mu"))).cast(
                            D15
                        )
                    ).cast("double")
                    / (F.col("n") - 1)
                ).alias("s")
            )
        )
        scored = grid.crossJoin(F.broadcast(s)).select(
            "d",
            "y",
            (F.abs(F.col("y") - F.col("mu")) / F.col("s")).alias("r"),
            "n",
        )
        out = scored.orderBy(F.desc("r"), F.asc("d")).limit(1).localCheckpoint(
            eager=True
        )
        survivors = grid.join(
            F.broadcast(out.select(F.col("d").alias("od"))),
            F.col("d") == F.col("od"),
            "left_anti",
        ).localCheckpoint(eager=True)
        return out, survivors

    o1, g2 = esd_round(daily)
    o2, g3 = esd_round(g2)
    o3, _ = esd_round(g3)

    def shape(out: DataFrame, i: int) -> DataFrame:
        return out.select(
            F.lit(i).cast("bigint").alias("iteration"),
            "n",
            F.col("d").cast("date").alias("outlier_date"),
            F.round("r", 6).alias("r_stat"),
            F.when(F.col("r") > 3.0, F.lit("outlier"))
            .otherwise(F.lit("ok"))
            .alias("verdict"),
        )

    return (
        shape(o1, 1).unionByName(shape(o2, 2)).unionByName(shape(o3, 3)).orderBy(
            "iteration"
        )
    )


@register(
    "q_l_diversity_entropy",
    oracle="""
    WITH sens AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(round(c_acctbal / 1000) AS BIGINT) AS sv,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2, 3
    ),
    terms AS (
      SELECT c_nationkey, c_mktsegment, c,
             CAST(-(CAST(c AS DOUBLE) / SUM(c) OVER
                    (PARTITION BY c_nationkey, c_mktsegment))
                  * ln(CAST(c AS DOUBLE) / SUM(c) OVER
                    (PARTITION BY c_nationkey, c_mktsegment))
                  AS DECIMAL(38,15)) AS term
      FROM sens
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(SUM(c) AS BIGINT) AS class_size,
             CAST(COUNT(*) AS BIGINT) AS distinct_l,
             CAST(SUM(term) AS DOUBLE) AS entropy,
             CAST(MAX(c) AS BIGINT) AS max_c
      FROM terms GROUP BY 1, 2
    ),
    rl AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(SUM(CASE WHEN rnk > 1 THEN c ELSE 0 END) AS BIGINT) AS rest
      FROM (
        SELECT c_nationkey, c_mktsegment, c,
               ROW_NUMBER() OVER (PARTITION BY c_nationkey, c_mktsegment
                                  ORDER BY c DESC, sv) AS rnk
        FROM sens)
      GROUP BY 1, 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(MIN(cls.distinct_l) AS BIGINT) AS min_distinct_l,
           round(MIN(exp(cls.entropy)), 6) AS min_entropy_l,
           CAST(SUM(CASE WHEN exp(cls.entropy) >= 3.0 THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_entropy_l3,
           CAST(SUM(CASE WHEN cls.max_c < 2.0 * rl.rest THEN 1 ELSE 0 END)
                AS BIGINT) AS classes_recursive_c2,
           round(CAST(SUM(CASE WHEN cls.max_c < 2.0 * rl.rest
                          THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS recursive_c2_share
    FROM cls
    JOIN rl ON rl.c_nationkey = cls.c_nationkey
           AND rl.c_mktsegment = cls.c_mktsegment
    """,
)
def q_l_diversity_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy and recursive (c,l)-diversity audit under the
    (nation, segment) quasi-identifier with $1000-bucketed account balance
    as the sensitive attribute: per equivalence class, the entropy
    l-diversity e^{H(sensitive)} (must be ≥ l — robust to one dominant
    value, unlike distinct-l) and the recursive (2,·) check
    max_count < 2·Σrest (no value dominates). Reports the fleet-wide
    minima and passing-class counts — the release-gate deepening of
    q_k_anonymity's distinct-l summary, since a class can have 10
    distinct values yet 99% of rows in one of them.

    Determinism: per-value counts are integers; each −p·ln p term casts
    DECIMAL(38,15) before the class sum; the recursive check is
    integer-vs-2×integer.

    Scale: one groupBy(QI, sensitive) with map-side combine, then per-QI
    window/rollup on the bounded class table. §2.B [NS] privacy surface.
    """
    c = load(spark, sf_dir, "customer")
    sens = c.groupBy(
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") / 1000).cast("bigint").alias("sv"),
    ).agg(bcount("c"))
    from pyspark.sql import Window as W

    wq = W.partitionBy("c_nationkey", "c_mktsegment")
    p = F.col("c").cast("double") / F.sum("c").over(wq)
    cls = (
        sens.select(
            "c_nationkey",
            "c_mktsegment",
            "sv",
            "c",
            (-p * F.log(p)).cast(D15).alias("term"),
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum("c").cast("bigint").alias("class_size"),
            bcount("distinct_l"),
            F.sum("term").cast("double").alias("entropy"),
            F.max("c").cast("bigint").alias("max_c"),
        )
    )
    rnk = F.row_number().over(wq.orderBy(F.desc("c"), F.asc("sv")))
    rl = (
        sens.select("c_nationkey", "c_mktsegment", "c", rnk.alias("rnk"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.sum(F.when(F.col("rnk") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("rest")
        )
    )
    joined = cls.join(rl, ["c_nationkey", "c_mktsegment"])
    ent_l = F.exp(F.col("entropy"))
    rec_ok = F.col("max_c") < 2.0 * F.col("rest")
    return joined.agg(
        bcount("n_classes"),
        F.min("distinct_l").cast("bigint").alias("min_distinct_l"),
        F.round(F.min(ent_l), 6).alias("min_entropy_l"),
        F.sum(F.when(ent_l >= 3.0, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_entropy_l3"),
        F.sum(F.when(rec_ok, 1).otherwise(0))
        .cast("bigint")
        .alias("classes_recursive_c2"),
        F.round(
            F.sum(F.when(rec_ok, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("recursive_c2_share"),
    )
