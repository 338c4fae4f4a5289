"""Analytics batch 180: Chao1 vocabulary richness, a deterministic
rarefaction curve, and nation assortment overlap.

Chao1 answers the corpus question Heaps' law (q_heaps_law) only
extrapolates: given the frequency-of-frequencies, how many types exist
that we have NOT yet seen (singletons²/2·doubletons) — the unseen-
vocabulary estimator that sizes how much more crawling changes the
tokenizer. The rarefaction curve shows distinct-type growth under
deterministic md5-ranked subsampling (is the vocabulary saturating?).
Assortment overlap is the commercial twin of q_vocab_overlap_sources:
which nations buy the same catalog (Jaccard over part sets), the input
to regional assortment planning.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B aggregation families + the text mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount
from .distrib import two_level_order
from .registry import load, register


@register(
    "q_species_richness_chao",
    oracle="""
    WITH toks AS (
      SELECT source, lower(tok) AS tok
      FROM documents,
           UNNEST(string_split(regexp_replace(text, '[^a-zA-Z ]', ' ',
                                              'g'), ' ')) AS t(tok)
      WHERE length(tok) >= 2
    ),
    freq AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS m
      FROM toks GROUP BY 1, 2
    ),
    fof AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS s_obs,
             CAST(SUM(CASE WHEN m = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS f1,
             CAST(SUM(CASE WHEN m = 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS f2,
             CAST(SUM(m) AS BIGINT) AS n_tokens
      FROM freq GROUP BY 1
    )
    SELECT source, n_tokens, s_obs, f1 AS singletons, f2 AS doubletons,
           round(s_obs + CAST(f1 * f1 AS DOUBLE)
                         / (2.0 * (f2 + 1.0)), 2) AS chao1,
           round(s_obs + CAST(f1 AS DOUBLE)
                         * (n_tokens - 1.0) / n_tokens, 2)
             AS jackknife1,
           round(CAST(s_obs AS DOUBLE)
                 / (s_obs + CAST(f1 * f1 AS DOUBLE)
                            / (2.0 * (f2 + 1.0))) * 100.0, 4)
             AS pct_vocab_seen
    FROM fof ORDER BY source
    """,
)
def q_species_richness_chao(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chao1 vocabulary-richness estimate per source: Ŝ = S_obs +
    f₁²/(2(f₂+1)) from the singleton/doubleton counts (bias-corrected
    form), with the first-order jackknife alongside and the implied
    share of the vocabulary already observed — the unseen-species
    answer to "how much vocabulary would more crawling add?", where
    q_heaps_law only fits the growth exponent.

    Determinism: everything derives from exact integer frequency-of-
    frequencies counts; estimators are fixed double expressions.

    Scale: tokens collapse to (source, token) then to the tiny
    frequency-of-frequencies grain — two map-side-combined groupBys,
    no joins (the q_yule_k plan shape). §2.B aggregation family + text
    mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "source",
            F.explode(
                F.split(F.regexp_replace("text", "[^a-zA-Z ]", " "), " ")
            ).alias("tok"),
        )
        .select("source", F.lower("tok").alias("tok"))
        .filter(F.length("tok") >= 2)
    )
    freq = toks.groupBy("source", "tok").agg(bcount("m"))
    fof = freq.groupBy("source").agg(
        bcount("s_obs"),
        F.sum(F.when(F.col("m") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("m") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
        F.sum("m").cast("bigint").alias("n_tokens"),
    )
    chao1 = F.col("s_obs") + (F.col("f1") * F.col("f1")).cast("double") / (
        2.0 * (F.col("f2") + 1.0)
    )
    return fof.select(
        "source",
        "n_tokens",
        "s_obs",
        F.col("f1").alias("singletons"),
        F.col("f2").alias("doubletons"),
        F.round(chao1, 2).alias("chao1"),
        F.round(
            F.col("s_obs")
            + F.col("f1").cast("double")
            * (F.col("n_tokens") - 1.0)
            / F.col("n_tokens"),
            2,
        ).alias("jackknife1"),
        F.round(F.col("s_obs").cast("double") / chao1 * 100.0, 4).alias(
            "pct_vocab_seen"
        ),
    ).orderBy("source")


@register(
    "q_rarefaction_curve",
    oracle="""
    WITH toks AS (
      SELECT lower(tok) AS tok,
             md5(lower(tok) || ':' || CAST(doc_id AS VARCHAR)
                 || ':' || CAST(pos AS VARCHAR)) AS h
      FROM (SELECT doc_id,
                   unnest(string_split(regexp_replace(text, '[^a-zA-Z ]',
                          ' ', 'g'), ' ')) AS tok,
                   unnest(range(1, len(string_split(regexp_replace(text,
                          '[^a-zA-Z ]', ' ', 'g'), ' ')) + 1)) AS pos
            FROM documents)
      WHERE length(tok) >= 2
    ),
    ranked AS (
      SELECT tok,
             CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS r,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM toks
    ),
    fracs AS (SELECT CAST(f AS DOUBLE) AS frac
              FROM (VALUES (0.25), (0.5), (0.75), (1.0)) AS v(f))
    SELECT fr.frac AS sample_frac,
           CAST(FLOOR(fr.frac * MAX(rk.n)) AS BIGINT) AS n_tokens,
           CAST(COUNT(DISTINCT CASE WHEN rk.r <= fr.frac * rk.n
                                    THEN rk.tok END) AS BIGINT)
             AS n_types
    FROM ranked rk, fracs fr
    GROUP BY fr.frac
    ORDER BY fr.frac
    """,
)
def q_rarefaction_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rarefaction curve of the corpus vocabulary: token occurrences
    shuffled deterministically by md5(token:doc:pos), then distinct
    types counted within the first 25/50/75/100% — a concave curve
    still climbing at 100%% means the vocabulary is far from saturated
    (the empirical companion to q_species_richness_chao's estimate and
    q_heaps_law's exponent), with the md5 rank standing in for the
    random subsample so both engines draw the SAME curve.

    Determinism: the shuffle key is a pure md5 function of
    (token, doc, position); type counts are exact distincts.

    Scale: one explode + one rank window; at 100 TB rarefy
    per-partition md5 ranks and merge counts by fraction (the
    subsample is an md5-range predicate, not a sort). §2.B
    aggregation family + text mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(
                F.split(F.regexp_replace("text", "[^a-zA-Z ]", " "), " ")
            ).alias("pos0", "tok"),
        )
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            F.lower("tok").alias("tok"),
        )
        .filter(F.length("tok") >= 2)
        .select(
            "tok",
            F.md5(
                F.concat(
                    F.col("tok"),
                    F.lit(":"),
                    F.col("doc_id").cast("string"),
                    F.lit(":"),
                    F.col("pos").cast("string"),
                )
            ).alias("h"),
        )
    )
    # r7 (guide §2.5): the md5 shuffle rank now runs as the distributed
    # two-level rank (distrib.two_level_order) instead of a single-task
    # window over the TOKEN-VOLUME stream — the per-partition md5-range
    # sort the docstring promised at scale.
    ranked = two_level_order(
        toks, ["h"], rank_col="r", total_count="n", project=["tok"]
    )
    fracs = spark.createDataFrame(
        [(0.25,), (0.5,), (0.75,), (1.0,)], "frac double"
    )
    return (
        ranked.crossJoin(F.broadcast(fracs))
        .groupBy("frac")
        .agg(
            F.floor(F.col("frac") * F.max("n")).cast("bigint").alias("n_tokens"),
            F.countDistinct(
                F.when(F.col("r") <= F.col("frac") * F.col("n"), F.col("tok"))
            )
            .cast("bigint")
            .alias("n_types"),
        )
        .select(F.col("frac").alias("sample_frac"), "n_tokens", "n_types")
        .orderBy("sample_frac")
    )


@register(
    "q_assortment_overlap_nations",
    oracle="""
    WITH bought AS (
      SELECT DISTINCT n.n_name AS nation, l.l_partkey
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
    ),
    sizes AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS sz
      FROM bought GROUP BY 1
    ),
    inter AS (
      SELECT a.nation AS nation_a, b.nation AS nation_b,
             CAST(COUNT(*) AS BIGINT) AS shared
      FROM bought a JOIN bought b
        ON b.l_partkey = a.l_partkey AND a.nation < b.nation
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT i.nation_a, i.nation_b, i.shared,
             round(CAST(i.shared AS DOUBLE)
                   / (sa.sz + sb.sz - i.shared), 6) AS jaccard
      FROM inter i
      JOIN sizes sa ON sa.nation = i.nation_a
      JOIN sizes sb ON sb.nation = i.nation_b
    ),
    top AS (
      SELECT * FROM scored ORDER BY jaccard DESC, nation_a, nation_b
      LIMIT 10
    )
    SELECT nation_a, nation_b, shared, jaccard
    FROM top ORDER BY jaccard DESC, nation_a, nation_b
    """,
)
def q_assortment_overlap_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment overlap between nations: Jaccard similarity of the
    part sets each nation's customers buy, top-10 most-similar pairs —
    the regional-assortment planner's question (can these two markets
    share a catalog and a warehouse?), the commercial twin of
    q_vocab_overlap_sources with parts for tokens.

    Determinism: set sizes and intersections are exact integer counts
    over distinct grains; ordering ties break on the nation names.

    Scale: facts collapse to the distinct (nation, part) grain; the
    intersection is a part-keyed inverted-index self-join (per-part
    group bounded by |nations|), never nations²×parts. §2.B join
    family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    bought = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "l_partkey")
        .distinct()
    ).localCheckpoint(eager=True)
    sizes = bought.groupBy("nation").agg(bcount("sz"))
    b = bought.select(
        F.col("nation").alias("nation_b"), F.col("l_partkey").alias("pk")
    )
    inter = (
        bought.join(
            b,
            (F.col("pk") == F.col("l_partkey"))
            & (F.col("nation") < F.col("nation_b")),
        )
        .groupBy(F.col("nation").alias("nation_a"), "nation_b")
        .agg(bcount("shared"))
    )
    sa = sizes.select(F.col("nation").alias("nation_a"), F.col("sz").alias("sza"))
    sb = sizes.select(F.col("nation").alias("nation_b"), F.col("sz").alias("szb"))
    scored = (
        inter.join(F.broadcast(sa), "nation_a")
        .join(F.broadcast(sb), "nation_b")
        .select(
            "nation_a",
            "nation_b",
            "shared",
            F.round(
                F.col("shared").cast("double")
                / (F.col("sza") + F.col("szb") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )
    top = scored.orderBy(
        F.col("jaccard").desc(), "nation_a", "nation_b"
    ).limit(10)
    return top.orderBy(F.col("jaccard").desc(), "nation_a", "nation_b")
