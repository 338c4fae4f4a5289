"""Analytics batch 142: deterministic permutation test, n-gram novelty
audit, and Fellegi–Sunter record-linkage scoring.

The permutation test is the distribution-free p-value machine every A/B
shelf needs under non-normality — made reproducible by deriving the 200
label permutations from md5 hash order (exact group sizes preserved, no
RNG); n-gram novelty measures how much of the held-out split's bigram
space is unseen in train (the diversity/memorization dual of
q_ngram_contamination); Fellegi–Sunter is the classic probabilistic
record-linkage scorer — blocked candidate pairs, per-field
agreement log-odds, link/possible/non-link triage.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B testing/text/join-family operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .registry import load, register, spread

_NPERM = 200


@register(
    "q_permutation_test_mean",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(date_trunc('day', l_shipdate) AS DATE) AS d,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS y,
             CASE WHEN dayofweek(date_trunc('day', l_shipdate)) IN (0, 6)
                  THEN 1 ELSE 0 END AS we
      FROM lineitem GROUP BY 1, 3
    ),
    szs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(we) AS BIGINT) AS n_we
      FROM daily
    ),
    obs AS (
      SELECT
        CAST(SUM(CASE WHEN we = 1
                 THEN CAST(y AS DECIMAL(38,15)) END) AS DOUBLE)
          / SUM(CASE WHEN we = 1 THEN 1 ELSE 0 END)
        - CAST(SUM(CASE WHEN we = 0
                   THEN CAST(y AS DECIMAL(38,15)) END) AS DOUBLE)
          / SUM(CASE WHEN we = 0 THEN 1 ELSE 0 END) AS diff
      FROM daily
    ),
    perms AS (
      SELECT d.d, d.y, b.b, s.n_we,
             ROW_NUMBER() OVER (
               PARTITION BY b.b
               ORDER BY md5('perm:' || CAST(b.b AS VARCHAR) || ':'
                            || CAST(d.d AS VARCHAR)), d.d) AS rn
      FROM daily d
      CROSS JOIN (SELECT unnest(range(1, {_NPERM} + 1)) AS b) b
      CROSS JOIN szs s
    ),
    pdiff AS (
      SELECT b,
             CAST(SUM(CASE WHEN rn <= n_we
                      THEN CAST(y AS DECIMAL(38,15)) END) AS DOUBLE)
               / MAX(n_we)
             - CAST(SUM(CASE WHEN rn > n_we
                        THEN CAST(y AS DECIMAL(38,15)) END) AS DOUBLE)
               / (COUNT(*) - MAX(n_we)) AS diff
      FROM perms GROUP BY 1
    )
    SELECT s.n AS n_days, s.n_we AS n_weekend,
           round(o.diff, 6) AS obs_diff,
           CAST({_NPERM} AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN abs(p.diff) >= abs(o.diff)
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme,
           round((1.0 + SUM(CASE WHEN abs(p.diff) >= abs(o.diff)
                            THEN 1 ELSE 0 END)) / (1.0 + {_NPERM}), 6)
             AS p_value
    FROM pdiff p, obs o, szs s
    GROUP BY s.n, s.n_we, o.diff
    """,
)
def q_permutation_test_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation test of the weekend-vs-weekday daily-revenue mean
    difference, 200 deterministic permutations: permutation b re-labels
    the days by md5('perm:b:date') hash order — the first n_weekend ranks
    become pseudo-weekend — so each b is a uniform label permutation with
    the group sizes preserved exactly, and the whole test replays
    bit-identically (no RNG). p = (1 + #{|Δ_b| ≥ |Δ_obs|})/(1+B), the
    distribution-free companion to q_welch_ttest when normality is in
    doubt.

    Determinism: md5 order ties broken by date; all group sums route
    through DECIMAL(38,15); means divide in double.

    Scale: facts collapse to the day grid once; the B×days expansion is
    a broadcast cross onto the bounded grid (whitelisted), B fixed at
    200 — never the fact table. §2.B [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    daily = li.groupBy(
        F.date_trunc("day", "l_shipdate").cast("date").alias("d"),
        F.when(
            F.dayofweek(F.date_trunc("day", "l_shipdate")).isin(1, 7), 1
        )
        .otherwise(0)
        .alias("we"),
    ).agg(F.sum(dec("l_extendedprice")).cast("double").alias("y"))
    # checkpointed once (r6): the sizes, the observed diff, and the
    # permutation fan-out each re-derived the fact rollup (4 lineitem
    # scans in the plan); the calendar-bounded day grid materializes once
    daily = daily.localCheckpoint(eager=True)
    szs = daily.agg(bcount("n"), F.sum("we").cast("bigint").alias("n_we"))
    dsum = lambda cond: F.sum(  # noqa: E731
        F.when(cond, F.col("y").cast(D15))
    ).cast("double")
    obs = daily.agg(
        (
            dsum(F.col("we") == 1) / F.sum(F.when(F.col("we") == 1, 1).otherwise(0))
            - dsum(F.col("we") == 0)
            / F.sum(F.when(F.col("we") == 0, 1).otherwise(0))
        ).alias("diff")
    )
    bgrid = spark.range(1, _NPERM + 1).select(F.col("id").alias("b"))
    wperm = Window.partitionBy("b").orderBy(
        F.md5(
            F.concat(
                F.lit("perm:"),
                F.col("b").cast("string"),
                F.lit(":"),
                F.col("d").cast("string"),
            )
        ),
        F.col("d"),
    )
    perms = (
        daily.crossJoin(F.broadcast(bgrid))
        .crossJoin(F.broadcast(szs))
        .select("d", "y", "b", "n_we", F.row_number().over(wperm).alias("rn"))
    )
    pdiff = perms.groupBy("b").agg(
        (
            dsum(F.col("rn") <= F.col("n_we")) / F.max("n_we")
            - dsum(F.col("rn") > F.col("n_we"))
            / (F.count(F.lit(1)) - F.max("n_we"))
        ).alias("diff")
    )
    joined = pdiff.crossJoin(F.broadcast(obs.select(F.col("diff").alias("odiff")))).crossJoin(
        F.broadcast(szs)
    )
    extreme = F.sum(
        F.when(F.abs(F.col("diff")) >= F.abs(F.col("odiff")), 1).otherwise(0)
    )
    return joined.groupBy("n", "n_we", "odiff").agg(
        extreme.cast("bigint").alias("n_extreme"),
        F.round((1.0 + extreme) / (1.0 + _NPERM), 6).alias("p_value"),
    ).select(
        F.col("n").alias("n_days"),
        F.col("n_we").alias("n_weekend"),
        F.round("odiff", 6).alias("obs_diff"),
        F.lit(_NPERM).cast("bigint").alias("n_perms"),
        "n_extreme",
        "p_value",
    )


@register(
    "q_ngram_novelty",
    oracle="""
    WITH pre AS MATERIALIZED (
      SELECT doc_id, lang, doc_id % 2 = 0 AS is_train,
             string_split(text, ' ') AS ts
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    bi AS MATERIALIZED (
      SELECT DISTINCT lang, is_train,
             unnest(list_transform(range(1, len(ts)),
                    j -> ts[j] || ' ' || ts[j+1])) AS g
      FROM pre
    ),
    uni AS MATERIALIZED (
      SELECT DISTINCT lang, is_train, unnest(ts) AS g FROM pre
    ),
    bi_stats AS (
      SELECT t.lang,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel
      FROM (SELECT lang, g FROM bi WHERE NOT is_train) t
      LEFT JOIN (SELECT lang, g FROM bi WHERE is_train) tr
        ON tr.lang = t.lang AND tr.g = t.g
      GROUP BY 1
    ),
    uni_stats AS (
      SELECT t.lang,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN tr.g IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov
      FROM (SELECT lang, g FROM uni WHERE NOT is_train) t
      LEFT JOIN (SELECT lang, g FROM uni WHERE is_train) tr
        ON tr.lang = t.lang AND tr.g = t.g
      GROUP BY 1
    )
    SELECT b.lang,
           b.n_test AS test_bigrams,
           b.n_novel AS novel_bigrams,
           round(CAST(b.n_novel AS DOUBLE) / b.n_test, 6) AS bigram_novelty,
           u.n_test AS test_vocab,
           u.n_oov AS oov_vocab,
           round(CAST(u.n_oov AS DOUBLE) / u.n_test, 6) AS oov_rate
    FROM bi_stats b JOIN uni_stats u ON u.lang = b.lang
    ORDER BY b.lang
    """,
)
def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty of the held-out split, per language: what fraction
    of the test half's distinct bigrams (and unigram vocabulary) never
    appears in the train half (doc_id parity split, the
    q_bigram_perplexity convention)? High novelty = diverse corpus /
    hard extrapolation; near-zero = templated text where a model can
    memorize its way to low perplexity. The diversity dual of
    q_ngram_contamination (which hunts *overlap* between splits).

    Determinism: pure distinct-set integer counting; ratios divide in
    double.

    Scale: tokenize once; distinct n-gram sets shuffle on (lang, gram)
    with map-side combine; the novelty join is per-language equi-join of
    the two distinct sets. LLM-pipeline surface.
    """
    docs = spread(load(spark, sf_dir, "documents"))
    ts = F.split("text", " ")
    pre = docs.filter(F.size(ts) >= 2).select(
        "lang", (F.col("doc_id") % 2 == 0).alias("is_train"), ts.alias("ts")
    )
    bigr = F.transform(
        F.sequence(F.lit(1), F.size("ts") - 1),
        lambda j: F.concat(
            F.element_at(F.col("ts"), j), F.lit(" "), F.element_at(F.col("ts"), j + 1)
        ),
    )
    # checkpoint both distinct n-gram sets once (r6): stats() reads each
    # twice (test + train side), re-tokenizing the corpus per reference
    bi = (
        pre.select("lang", "is_train", F.explode(bigr).alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    uni = (
        pre.select("lang", "is_train", F.explode("ts").alias("g"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def stats(d: DataFrame, novel_col: str) -> DataFrame:
        test = d.filter(~F.col("is_train")).select("lang", "g")
        train = d.filter(F.col("is_train")).select(
            F.col("lang").alias("tl"), F.col("g").alias("tg")
        )
        return (
            test.join(
                train,
                (F.col("tl") == F.col("lang")) & (F.col("tg") == F.col("g")),
                "left",
            )
            .groupBy("lang")
            .agg(
                bcount("n_test"),
                F.sum(F.when(F.col("tg").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias(novel_col),
            )
        )

    bs = stats(bi, "n_novel")
    us = stats(uni, "n_oov").select(
        F.col("lang").alias("ul"),
        F.col("n_test").alias("u_test"),
        "n_oov",
    )
    return (
        bs.join(us, F.col("ul") == F.col("lang"))
        .select(
            "lang",
            F.col("n_test").alias("test_bigrams"),
            F.col("n_novel").alias("novel_bigrams"),
            F.round(F.col("n_novel").cast("double") / F.col("n_test"), 6).alias(
                "bigram_novelty"
            ),
            F.col("u_test").alias("test_vocab"),
            F.col("n_oov").alias("oov_vocab"),
            F.round(F.col("n_oov").cast("double") / F.col("u_test"), 6).alias(
                "oov_rate"
            ),
        )
        .orderBy("lang")
    )


def _fs_weight_sql(agree: str, m: float, u: float) -> str:
    return (
        f"CASE WHEN {agree} THEN ln({m} / {u})"
        f" ELSE ln({1.0 - m} / {1.0 - u}) END"
    )


@register(
    "q_fellegi_sunter_linkage",
    oracle=f"""
    WITH pairs AS (
      SELECT c.c_custkey, s.s_suppkey,
             abs(c.c_acctbal - s.s_acctbal) < 1000.0 AS a_bal,
             right(c.c_name, 1) = right(s.s_name, 1) AS a_name,
             c.c_custkey % 10 = s.s_suppkey % 10 AS a_key
      FROM customer c JOIN supplier s ON s.s_nationkey = c.c_nationkey
    ),
    scored AS (
      SELECT
        (CASE WHEN a_bal THEN 1 ELSE 0 END
         + CASE WHEN a_name THEN 1 ELSE 0 END
         + CASE WHEN a_key THEN 1 ELSE 0 END) AS n_agree,
        {_fs_weight_sql("a_bal", 0.9, 0.2)}
        + {_fs_weight_sql("a_name", 0.85, 0.1)}
        + {_fs_weight_sql("a_key", 0.8, 0.1)} AS w
      FROM pairs
    )
    SELECT CASE WHEN w > 4.0 THEN 'link'
                WHEN w < -2.0 THEN 'non-link'
                ELSE 'possible' END AS decision,
           CAST(n_agree AS BIGINT) AS n_agree,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(w AS DECIMAL(38,15))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_weight
    FROM scored GROUP BY 1, 2
    ORDER BY 1, 2
    """,
)
def q_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage between customers and
    suppliers, blocked on nation: per candidate pair, three field
    agreements (account balance within 1000, name's trailing digit, key's
    trailing digit) contribute log-odds ln(m/u) on agreement and
    ln((1−m)/(1−u)) on disagreement with fixed (m,u) per field; total
    weight w triages pairs into link (w>4) / possible / non-link (w<−2).
    Reports the (decision, agreement-count) histogram with mean weights —
    the classic entity-resolution scorer that q_fuzzy_name_join's
    deterministic matcher graduates into.

    Determinism: agreements are exact string/threshold comparisons;
    weights are sums of fixed constants, so every pair's w takes one of
    2³ values; per-cell means route through DECIMAL.

    Scale (r6 rewrite): the pair HISTOGRAM never needs the pairs. Every
    pair's cell is determined by its agreement triple, so the output is a
    function of eight exact pair counts N[a_bal, a_name, a_key] — and
    those are countable in near-linear work instead of materializing the
    |c|×|s|/|nations| blocked pair stream (60M rows at sf1, quadratic in
    the corpus):

    - bal-close counts per customer come from a rank/merge pass: union
      the suppliers with two probe rows per customer at cb ± 999.995,
      window-partition by the block/class keys, order by balance, and a
      running supplier count turns each probe pair into an exact interval
      count. acctbal is a 0.01-grid double, so the ±999.995 probes are
      ≥0.005 from every supplier value — tie-free and exact for every
      pair whose decimal |Δbal| ≤ 999.99 (such a pair's double predicate
      abs(cb−sb) < 1000.0 is provably true: the rounding error of the
      subtraction is ≤1e-12, far below the 0.01 gap). Four passes cover
      the class combinations needed for inclusion-exclusion: (nation),
      (nation, name-digit), (nation, key-digit), (nation, both).
    - the ONLY ambiguous pairs are those with decimal |Δbal| = 1000.00
      exactly, where the double predicate is decided by the subtraction's
      rounding (such pairs exist: min | |Δ|−1000 | = 2.3e-13 at sf0.1).
      They are enumerated exactly via an equi-join on cents = ±100000 and
      scored with the ORIGINAL double predicate — a handful of rows.
    - disagreement counts derive from the per-class supplier totals
      (bounded grids ≤ |nations|×10×10) by inclusion-exclusion.
    - the cell mean reproduces the per-pair DECIMAL(38,15) sum exactly:
      N copies of the same decimal w sum to N×w, computed as
      decimal(16,15) × decimal(19,0) = decimal(36,15) — exact, no
      precision loss.

    Per-task work drops from |c|×|s|/|nations|² pair rows to
    (|c|+|s|)/|class partitions| window rows; at even larger blocks the
    rank pass range-partitions on (block, balance) with per-partition
    count offsets (the q_monetary_unit_sampling pattern). §2.B join
    family [NS], guide §2.3/§2.5.
    """
    import math

    c = (
        load(spark, sf_dir, "customer")
        .select(
            F.col("c_custkey").alias("cid"),
            F.col("c_nationkey").alias("n"),
            F.col("c_acctbal").alias("cb"),
            F.substring("c_name", -1, 1).alias("clc"),
            (F.col("c_custkey") % 10).alias("ck"),
        )
        .localCheckpoint(eager=True)
    )
    s = (
        load(spark, sf_dir, "supplier")
        .select(
            F.col("s_nationkey").alias("n"),
            F.col("s_acctbal").alias("sb"),
            F.substring("s_name", -1, 1).alias("slc"),
            (F.col("s_suppkey") % 10).alias("sk"),
        )
        .localCheckpoint(eager=True)
    )

    def close_count(keys_c: list, keys_s: list, out: str) -> DataFrame:
        kcols = [f"k{i}" for i in range(len(keys_c))]
        sup = s.select(
            *[F.col(sc).alias(k) for sc, k in zip(keys_s, kcols)],
            F.col("sb").alias("bal"),
            F.lit(1).alias("is_sup"),
            F.lit(None).cast("long").alias("cid"),
            F.lit(0).alias("sign"),
        )
        pr = (
            c.select(
                *[F.col(cc).alias(k) for cc, k in zip(keys_c, kcols)],
                "cid",
                F.explode(
                    F.array(
                        F.struct(
                            (F.col("cb") + F.lit(999.995)).alias("bal"),
                            F.lit(1).alias("sign"),
                        ),
                        F.struct(
                            (F.col("cb") - F.lit(999.995)).alias("bal"),
                            F.lit(-1).alias("sign"),
                        ),
                    )
                ).alias("p"),
            )
            .select(
                *kcols,
                F.col("p.bal").alias("bal"),
                F.lit(0).alias("is_sup"),
                "cid",
                F.col("p.sign").alias("sign"),
            )
        )
        w = (
            Window.partitionBy(*kcols)
            .orderBy("bal")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        return (
            sup.unionByName(pr)
            .withColumn("rc", F.sum("is_sup").over(w))
            .filter(F.col("cid").isNotNull())
            .groupBy("cid")
            .agg(F.sum(F.col("rc") * F.col("sign")).cast("long").alias(out))
        )

    d_rank = close_count(["n"], ["n"], "d_rank")
    b_rank = close_count(["n", "clc"], ["n", "slc"], "b_rank")
    c_rank = close_count(["n", "ck"], ["n", "sk"], "c_rank")
    a_rank = close_count(["n", "clc", "ck"], ["n", "slc", "sk"], "a_rank")

    # decimal |Δbal| = 1000.00 boundary pairs: enumerate exactly (cents
    # equi-join) and apply the ORIGINAL double predicate pair by pair.
    sc_ = s.withColumn("scents", F.round(F.col("sb") * 100).cast("long"))
    cbnd = c.select(
        "cid",
        "n",
        "cb",
        "clc",
        "ck",
        F.explode(
            F.array(
                F.round(F.col("cb") * 100).cast("long") - 100000,
                F.round(F.col("cb") * 100).cast("long") + 100000,
            )
        ).alias("scents"),
    )
    bnd = (
        cbnd.join(sc_, ["n", "scents"])
        .filter(F.abs(F.col("cb") - F.col("sb")) < 1000.0)
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("d_fix"),
            F.sum(
                F.when(F.col("slc") == F.col("clc"), 1).otherwise(0)
            ).cast("long").alias("b_fix"),
            F.sum(
                F.when(F.col("sk") == F.col("ck"), 1).otherwise(0)
            ).cast("long").alias("c_fix"),
            F.sum(
                F.when(
                    (F.col("slc") == F.col("clc"))
                    & (F.col("sk") == F.col("ck")),
                    1,
                ).otherwise(0)
            ).cast("long").alias("a_fix"),
        )
    )

    # per-class supplier totals: bounded grids (≤|nations|×10×10 rows)
    t_all = s.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("t_d"))
    t_lc = s.groupBy("n", F.col("slc").alias("clc")).agg(
        F.count(F.lit(1)).cast("long").alias("t_b")
    )
    t_k = s.groupBy("n", F.col("sk").alias("ck")).agg(
        F.count(F.lit(1)).cast("long").alias("t_c")
    )
    t_lck = s.groupBy(
        "n", F.col("slc").alias("clc"), F.col("sk").alias("ck")
    ).agg(F.count(F.lit(1)).cast("long").alias("t_a"))

    z = F.lit(0).cast("long")
    per = (
        c.join(d_rank, "cid", "left")
        .join(b_rank, "cid", "left")
        .join(c_rank, "cid", "left")
        .join(a_rank, "cid", "left")
        .join(bnd, "cid", "left")
        .join(F.broadcast(t_all), "n", "left")
        .join(F.broadcast(t_lc), ["n", "clc"], "left")
        .join(F.broadcast(t_k), ["n", "ck"], "left")
        .join(F.broadcast(t_lck), ["n", "clc", "ck"], "left")
    )
    A = F.coalesce(F.col("a_rank"), z) + F.coalesce(F.col("a_fix"), z)
    B = F.coalesce(F.col("b_rank"), z) + F.coalesce(F.col("b_fix"), z)
    C = F.coalesce(F.col("c_rank"), z) + F.coalesce(F.col("c_fix"), z)
    D = F.coalesce(F.col("d_rank"), z) + F.coalesce(F.col("d_fix"), z)
    TA = F.coalesce(F.col("t_a"), z)
    TB = F.coalesce(F.col("t_b"), z)
    TC = F.coalesce(F.col("t_c"), z)
    TD = F.coalesce(F.col("t_d"), z)
    cells = {
        (1, 1, 1): A,
        (1, 1, 0): B - A,
        (1, 0, 1): C - A,
        (1, 0, 0): D - B - C + A,
        (0, 1, 1): TA - A,
        (0, 1, 0): TB - TA - (B - A),
        (0, 0, 1): TC - TA - (C - A),
        (0, 0, 0): TD - TB - TC + TA - (D - B - C + A),
    }
    triples = per.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(4 * t[0] + 2 * t[1] + t[2]).alias("t"),
                        expr.alias("cnt"),
                    )
                    for t, expr in cells.items()
                ]
            )
        ).alias("x")
    ).select("x.t", "x.cnt")
    grid = triples.groupBy("t").agg(
        F.sum("cnt").cast("long").alias("n_pairs_t")
    )

    # per-triple constants: same operands, same left-to-right addition
    # order as the per-pair expression — identical doubles.
    wb = (math.log(0.9 / 0.2), math.log(0.1 / 0.8))
    wn = (math.log(0.85 / 0.1), math.log(0.15 / 0.9))
    wk = (math.log(0.8 / 0.1), math.log(0.2 / 0.9))
    wmap, amap, dmap = {}, {}, {}
    for bal in (1, 0):
        for name in (1, 0):
            for key in (1, 0):
                t = 4 * bal + 2 * name + key
                wt = (
                    (wb[0] if bal else wb[1])
                    + (wn[0] if name else wn[1])
                    + (wk[0] if key else wk[1])
                )
                wmap[t] = wt
                amap[t] = bal + name + key
                dmap[t] = (
                    "link" if wt > 4.0 else ("non-link" if wt < -2.0 else "possible")
                )

    def chain(mapping, caster):
        e = None
        for t, v in mapping.items():
            lit = caster(v)
            e = F.when(F.col("t") == t, lit) if e is None else e.when(
                F.col("t") == t, lit
            )
        return e

    wdec = chain(wmap, lambda v: F.lit(v).cast("decimal(16,15)"))
    return (
        grid.filter(F.col("n_pairs_t") > 0)
        .select(
            chain(dmap, F.lit).alias("decision"),
            chain(amap, lambda v: F.lit(v).cast("bigint")).alias("n_agree"),
            "n_pairs_t",
            (wdec * F.col("n_pairs_t").cast("decimal(19,0)")).alias("wsum"),
        )
        .groupBy("decision", "n_agree")
        .agg(
            F.sum("n_pairs_t").cast("bigint").alias("n_pairs"),
            F.round(
                F.sum("wsum").cast("double")
                / F.sum("n_pairs_t").cast("double"),
                6,
            ).alias("mean_weight"),
        )
        .orderBy("decision", "n_agree")
    )
