"""Analytics batch 169: hard-negative mining, Fisher-z correlation CI,
and the Fligner-Killeen scale test.

Hard-negative mining is the contrastive-training curation step: the
cross-label pairs an embedding model finds MOST similar (its next
training batch) and the same-label pairs it finds least similar (label
noise or intra-class diversity) — the operator that turns the
embeddings table from an index into training data. Fisher's z gives
the correlation a confidence interval (q_stat_corr reports the point
estimate; decisions need the interval). Fligner-Killeen is the
robust scale test — Levene/Bartlett (already here) assume symmetric or
normal data; FK ranks |x − median| and survives heavy tails.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B statistics families + the similarity mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, ols_moments, sql_ols_moments
from .extras107 import phi_inv_col, phi_inv_sql
from .registry import load, register, spread
from .relations import (
    DAILY_CLICK_PURCHASE_SQL,
    DAILY_REVENUE_SQL,
    daily_click_purchase,
    daily_revenue,
)
from .similarity import _SQL_BUCKET, _dot, lsh_bucket


@register(
    "q_hard_negative_mining",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.label AS label_a, b.label AS label_b,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
      FROM e a JOIN e b ON b.vec_id > a.vec_id
    ),
    hard_neg AS (
      SELECT 'hard_negative' AS kind, id_a, id_b, label_a, label_b, cos,
             ROW_NUMBER() OVER (ORDER BY cos DESC, id_a, id_b) AS rk
      FROM pairs WHERE label_a <> label_b
    ),
    hard_pos AS (
      SELECT 'hard_positive' AS kind, id_a, id_b, label_a, label_b, cos,
             ROW_NUMBER() OVER (ORDER BY cos ASC, id_a, id_b) AS rk
      FROM pairs WHERE label_a = label_b
    )
    SELECT kind, CAST(rk AS BIGINT) AS rank, id_a, id_b,
           CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b, cos
    FROM (SELECT * FROM hard_neg WHERE rk <= 10
          UNION ALL SELECT * FROM hard_pos WHERE rk <= 10)
    ORDER BY kind, rank
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training pair mining over the labeled embeddings:
    the 10 hardest negatives (different label, highest cosine — the
    pairs the model confuses, i.e. its next training batch) and the 10
    hardest positives (same label, lowest cosine — label noise or
    genuine intra-class diversity). The curation operator that turns a
    similarity index into training data.

    Determinism: pair scores are rounded cosines with full id
    tiebreaks; labels are integers.

    Scale: the all-pairs expansion is the quarantined bounded recall
    oracle (same rationale as q_knn_bruteforce); the production miner
    restricts candidates to ANN buckets (q_ann_lsh_hyperplane) before
    scoring. §2.B similarity mandate [NS].
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.col("label").cast("bigint").alias("label"),
    )
    # checkpointed once (r6): both cross-join sides re-scanned embeddings
    # and the negative/positive rankings each re-ran the O(n²) scoring
    # pass (4 scans + 2× the quadratic work in the plan); the vector
    # table and the scored pairs each materialize once. Pair state is
    # O(n²) — this query is the exact-recall twin of
    # q_hard_negative_mining_ann (the production path), so the quadratic
    # materialization is the quarantine-class trade, not a scale path.
    e = e.localCheckpoint(eager=True)
    b = e.select(
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("emb_b"),
        F.col("label").alias("label_b"),
    ).withColumn("n_b", F.sqrt(_dot("emb_b", "emb_b")))
    ea = e.withColumn("n_a", F.sqrt(_dot("emb", "emb")))
    pairs = (
        ea.crossJoin(F.broadcast(b))
        .filter(F.col("id_b") > F.col("vec_id"))
        .select(
            F.col("vec_id").alias("id_a"),
            "id_b",
            F.col("label").alias("label_a"),
            "label_b",
            # per-side norms precomputed before the O(n^2) join (r6)
            F.round(_dot("emb", "emb_b") / (F.col("n_a") * F.col("n_b")), 6).alias("cos"),
        )
        .localCheckpoint(eager=True)
    )
    neg = (
        pairs.filter(F.col("label_a") != F.col("label_b"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos").desc(), "id_a", "id_b"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= 10)
        .select(F.lit("hard_negative").alias("kind"), "rank", "id_a",
                "id_b", "label_a", "label_b", "cos")
    )
    pos = (
        pairs.filter(F.col("label_a") == F.col("label_b"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos").asc(), "id_a", "id_b"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= 10)
        .select(F.lit("hard_positive").alias("kind"), "rank", "id_a",
                "id_b", "label_a", "label_b", "cos")
    )
    return neg.unionAll(pos).orderBy("kind", "rank")


@register(
    "q_hard_negative_mining_ann",
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb, label,
             {_SQL_BUCKET} AS bucket
      FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             a.label AS label_a, b.label AS label_b, a.bucket,
             round(list_cosine_similarity(a.emb, b.emb), 6) AS cos
      FROM sig a JOIN sig b
        ON b.bucket = a.bucket AND b.vec_id > a.vec_id
    ),
    hard_neg AS (
      SELECT 'hard_negative' AS kind, id_a, id_b, label_a, label_b,
             bucket, cos,
             ROW_NUMBER() OVER (ORDER BY cos DESC, id_a, id_b) AS rk
      FROM pairs WHERE label_a <> label_b
    ),
    hard_pos AS (
      SELECT 'hard_positive' AS kind, id_a, id_b, label_a, label_b,
             bucket, cos,
             ROW_NUMBER() OVER (ORDER BY cos ASC, id_a, id_b) AS rk
      FROM pairs WHERE label_a = label_b
    )
    SELECT kind, CAST(rk AS BIGINT) AS rank, id_a, id_b,
           CAST(label_a AS BIGINT) AS label_a,
           CAST(label_b AS BIGINT) AS label_b, bucket, cos
    FROM (SELECT * FROM hard_neg WHERE rk <= 10
          UNION ALL SELECT * FROM hard_pos WHERE rk <= 10)
    ORDER BY kind, rank
    """,
)
def q_hard_negative_mining_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production hard-pair miner: `q_hard_negative_mining`'s curation
    step restricted to ANN candidates — only pairs sharing a random-
    hyperplane LSH bucket (`q_ann_lsh_hyperplane`'s signature) are
    scored, so the corpus is never all-pairs-expanded. Hard negatives
    (cross-label, highest cosine) are exactly what LSH buckets surface
    (the confusable neighborhoods); hard positives here are the least-
    similar same-label pairs *within a shared bucket* — by design a
    candidate-set-relative notion, mirroring in-batch mining in
    contrastive training.

    Determinism: bucket bits sign-test a 6-rounded dot against ±1
    planes (engine-identical); pair scores are rounded cosines with
    full id tiebreaks.

    Scale: one narrow map stamps signatures (pure JVM, no UDF), then a
    bucket equi-join — ~1/2^bits of all pairs per band — feeds exact
    rescoring and two global top-10s (WindowGroupLimit keeps 10 rows
    per partition before the final sort). This is the registered scale
    twin of the quarantined all-pairs recall oracle, the same pairing
    as q_knn_bruteforce / q_ann_lsh_hyperplane. §2.B similarity
    mandate [NS].

    Mega-buckets (found by the sf5 scale run, not theory): a tight
    angular CLUSTER lands on one side of almost every hyperplane, so
    its bucket stays huge no matter how many bits — at sf5 two buckets
    hold ~1/3 of the corpus each (~0.5G candidate pairs per bucket),
    and scoring them with the interpreted per-pair JVM dot stalls for
    10+ minutes in one task. The scoring is therefore two-stage:

    1. PRUNE (vectorized, approximate-with-margin): one applyInPandas
       pass per bucket does the all-pairs cosine as chunked numpy block
       matmuls (BLAS, ~10^9 flops/s/core instead of ~10^5 interpreted
       pairs/s) and keeps only pairs within 2e-6 of the bucket's
       10th-best per kind — a superset of the bucket's true top-10 as
       long as numpy's and the JVM's float64 dots agree within 1e-6
       (they agree to ~1e-15 at dim 64).
    2. SETTLE (exact, tiny): the few dozen surviving pairs per bucket
       join back to their vectors and are re-scored by the SAME JVM
       round(dot/(|a||b|), 6) expression as before — so cross-engine
       determinism vs the DuckDB oracle is untouched; numpy only ever
       PRUNES, never decides a published value.

    Candidate VOLUME stays quadratic in the largest bucket (inherent to
    bucket-join semantics, same in the oracle); at 100 TB the semantic
    levers are more bands/bits or a bucket-size cap, and the prune
    stage needs the largest bucket's vectors to fit one executor
    (17 MB at sf5; chunk rows if a bucket outgrows that).
    """
    sig = spread(load(spark, sf_dir, "embeddings")).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("emb"),
        F.col("label").cast("bigint").alias("label"),
    )
    sig = sig.withColumn("bucket", lsh_bucket(F.col("emb")))
    # checkpointed once (r6): the numpy candidate pruner and both settle-
    # join sides each re-scanned+re-bucketed embeddings (6 scans in the
    # plan); the signature table materializes once
    sig = sig.localCheckpoint(eager=True)

    def _bucket_candidates(pdf):
        import numpy as np
        import pandas as pd

        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids)  # positional j>i below must mean id_j>id_i
        ids = ids[order]
        labels = pdf["label"].to_numpy(dtype=np.int64)[order]
        embs = np.array(pdf["emb"].tolist(), dtype=np.float64)[order]
        norms = np.linalg.norm(embs, axis=1)
        norms[norms == 0.0] = 1.0
        unit = embs / norms[:, None]
        margin = 2e-6
        out_i: list = []
        out_j: list = []
        chunk = 1024
        j_all = np.arange(n)
        for s in range(0, n, chunk):
            e = min(s + chunk, n)
            sims = unit[s:e] @ unit.T  # (e-s, n) block
            upper = j_all[None, :] > np.arange(s, e)[:, None]
            cross = labels[s:e, None] != labels[None, :]
            for mask, keep_top in ((upper & cross, True), (upper & ~cross, False)):
                vals = sims[mask]
                if vals.size == 0:
                    continue
                if vals.size > 10:
                    if keep_top:  # hard negatives: highest cosine
                        thr = np.partition(vals, -10)[-10] - margin
                        sel = mask & (sims >= thr)
                    else:  # hard positives: lowest cosine
                        thr = np.partition(vals, 9)[9] + margin
                        sel = mask & (sims <= thr)
                else:
                    sel = mask
                bi, bj = np.nonzero(sel)
                out_i.append(ids[s + bi])
                out_j.append(ids[bj])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_i), "id_b": np.concatenate(out_j)}
        )

    cand = sig.groupBy("bucket").applyInPandas(
        _bucket_candidates, "id_a long, id_b long"
    )
    a_side = sig.select(
        F.col("vec_id").alias("id_a"),
        F.col("emb").alias("emb_a"),
        F.col("label").alias("label_a"),
        "bucket",
    ).withColumn("n_a", F.sqrt(_dot("emb_a", "emb_a")))
    b_side = sig.select(
        F.col("vec_id").alias("id_b"),
        F.col("emb").alias("emb_b"),
        F.col("label").alias("label_b"),
    ).withColumn("n_b", F.sqrt(_dot("emb_b", "emb_b")))
    pairs = (
        cand.join(a_side, "id_a")
        .join(b_side, "id_b")
        .select(
            "id_a",
            "id_b",
            "label_a",
            "label_b",
            "bucket",
            # per-side norms precomputed before the candidate join (r6)
            F.round(_dot("emb_a", "emb_b") / (F.col("n_a") * F.col("n_b")), 6).alias("cos"),
        )
    )
    neg = (
        pairs.filter(F.col("label_a") != F.col("label_b"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos").desc(), "id_a", "id_b"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= 10)
        .select(F.lit("hard_negative").alias("kind"), "rank", "id_a",
                "id_b", "label_a", "label_b", "bucket", "cos")
    )
    pos = (
        pairs.filter(F.col("label_a") == F.col("label_b"))
        .withColumn(
            "rank",
            F.row_number()
            .over(Window.orderBy(F.col("cos").asc(), "id_a", "id_b"))
            .cast("bigint"),
        )
        .filter(F.col("rank") <= 10)
        .select(F.lit("hard_positive").alias("kind"), "rank", "id_a",
                "id_b", "label_a", "label_b", "bucket", "cos")
    )
    return neg.unionAll(pos).orderBy("kind", "rank")


@register(
    "q_fisher_z_corr_ci",
    oracle=f"""
    WITH daily AS ({DAILY_CLICK_PURCHASE_SQL}),
    mom AS (
      SELECT {sql_ols_moments()},
             CAST(SUM(CAST(y * y AS DECIMAL(38,10))) AS DOUBLE) AS syy
      FROM daily
    ),
    r AS (
      SELECT n,
             (n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r
      FROM mom
    ),
    z AS (
      SELECT n, r,
             0.5 * ln((1.0 + r) / (1.0 - r)) AS zr,
             1.96 / sqrt(n - 3.0) AS se
      FROM r
    )
    SELECT n AS n_days,
           round(r, 6) AS pearson_r,
           round((exp(2.0 * (zr - se)) - 1.0)
                 / (exp(2.0 * (zr - se)) + 1.0), 6) AS ci_low,
           round((exp(2.0 * (zr + se)) - 1.0)
                 / (exp(2.0 * (zr + se)) + 1.0), 6) AS ci_high,
           CAST((exp(2.0 * (zr - se)) - 1.0)
                / (exp(2.0 * (zr - se)) + 1.0) > 0.0
                OR (exp(2.0 * (zr + se)) - 1.0)
                   / (exp(2.0 * (zr + se)) + 1.0) < 0.0 AS BOOLEAN)
             AS excludes_zero
    FROM z
    """,
)
def q_fisher_z_corr_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fisher-z 95% confidence interval for the daily click-value /
    purchase-value Pearson correlation: z = atanh(r), CI = tanh(z ±
    1.96/√(n−3)) — q_stat_corr's point estimate with the interval a
    decision actually needs (and the excludes-zero verdict). atanh and
    tanh are spelled out as ln/exp so both engines execute identical
    primitive ops.

    Determinism: Pearson moments are decimal-exact; the transform
    chain is fixed double ops on identical inputs, rounded at 6.

    Scale: one fact rollup to the day grid + one 1-row moment
    aggregate — no joins. §2.B statistics family [NS].
    """
    daily = daily_click_purchase(spark, sf_dir)
    mom = daily.agg(
        *ols_moments(),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,10)"))
        .cast("double")
        .alias("syy"),
    )
    r = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    zz = mom.select(
        "n",
        r.alias("r"),
        (0.5 * F.log((1.0 + r) / (1.0 - r))).alias("zr"),
        (1.96 / F.sqrt(F.col("n") - 3.0)).alias("se"),
    )

    def tanh2(e):
        return (F.exp(2.0 * e) - 1.0) / (F.exp(2.0 * e) + 1.0)

    lo = tanh2(F.col("zr") - F.col("se"))
    hi = tanh2(F.col("zr") + F.col("se"))
    return zz.select(
        F.col("n").alias("n_days"),
        F.round("r", 6).alias("pearson_r"),
        F.round(lo, 6).alias("ci_low"),
        F.round(hi, 6).alias("ci_high"),
        ((lo > 0.0) | (hi < 0.0)).alias("excludes_zero"),
    )


@register(
    "q_fligner_killeen",
    oracle=f"""
    WITH daily AS ({DAILY_REVENUE_SQL}),
    lab AS (
      SELECT d, y, CASE WHEN isodow(d) >= 6 THEN 1 ELSE 0 END AS g
      FROM daily
    ),
    ranked AS (
      SELECT g, y, d,
             CAST(ROW_NUMBER() OVER (PARTITION BY g ORDER BY y, d)
                  AS BIGINT) AS rn,
             CAST(COUNT(*) OVER (PARTITION BY g) AS BIGINT) AS ng
      FROM lab
    ),
    med AS (
      SELECT g, CAST(SUM(CAST(y AS DECIMAL(38,15))) AS DOUBLE)
                / COUNT(*) AS med
      FROM ranked
      WHERE rn IN (CAST(FLOOR((ng + 1) / 2.0) AS BIGINT),
                   CAST(FLOOR((ng + 2) / 2.0) AS BIGINT))
      GROUP BY 1
    ),
    dev AS (
      SELECT l.g, abs(l.y - m.med) AS a, l.d
      FROM lab l JOIN med m ON m.g = l.g
    ),
    scored AS (
      SELECT g,
             {phi_inv_sql("0.5 + (CAST(ROW_NUMBER() OVER (ORDER BY a, d) AS DOUBLE) / (2.0 * ((SELECT COUNT(*) FROM dev) + 1.0)))")}
               AS sc
      FROM dev
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(sc AS DECIMAL(38,15))) AS DOUBLE) AS s,
             CAST(SUM(CAST(sc * sc AS DECIMAL(38,10))) AS DOUBLE) AS ss
      FROM scored
    ),
    grp AS (
      SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(sc AS DECIMAL(38,15))) AS DOUBLE) AS sg
      FROM scored GROUP BY 1
    )
    SELECT
      MAX(CASE WHEN g.g = 1 THEN g.ng END) AS n_weekend,
      MAX(CASE WHEN g.g = 0 THEN g.ng END) AS n_weekday,
      round(CAST(SUM(CAST(g.ng * (g.sg / g.ng - m.s / m.n)
                          * (g.sg / g.ng - m.s / m.n)
                          AS DECIMAL(38,10))) AS DOUBLE)
            / ((m.ss - m.s * m.s / m.n) / (m.n - 1.0)), 6) AS fk_stat,
      CAST(CAST(SUM(CAST(g.ng * (g.sg / g.ng - m.s / m.n)
                         * (g.sg / g.ng - m.s / m.n)
                         AS DECIMAL(38,10))) AS DOUBLE)
           / ((m.ss - m.s * m.s / m.n) / (m.n - 1.0)) > 3.841
           AS BOOLEAN) AS reject_equal_scale
    FROM grp g, mom m
    GROUP BY m.s, m.n, m.ss
    """,
)
def q_fligner_killeen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner-Killeen test of equal scale, weekend vs weekday daily
    revenue: rank |y − group median| across the pooled sample, map
    ranks to normal scores a = Φ⁻¹(½ + rank/(2(N+1))) via the
    cross-engine Acklam Φ⁻¹ (extras107), and compare group mean scores
    with X² = Σ n_g(ā_g − ā)²/V(a) against χ²₁ — the heavy-tail-robust
    member of the variance-test family (q_levene_test assumes rough
    symmetry, q_bartlett_test normality; FK needs neither).

    Determinism: group medians are exact rank selections; ranks carry
    date tiebreaks; score sums route through DECIMAL; the statistic is
    one fixed double expression.

    Scale: facts collapse to the day grid; two rank windows on the
    bounded grid (group median, pooled scores); 2-group pivot ends it.
    §2.B statistics family [NS].
    """
    daily = daily_revenue(spark, sf_dir)
    lab = daily.select(
        "d",
        "y",
        F.when(((F.dayofweek("d") + 5) % 7) + 1 >= 6, 1).otherwise(0).alias("g"),
    )
    # checkpointed once (r6): the rank/median/deviation/score chains each
    # re-derived the fact aggregation (8 lineitem scans in the plan); the
    # bounded day grid materializes once
    lab = lab.localCheckpoint(eager=True)
    wg = Window.partitionBy("g").orderBy("y", "d")
    ranked = lab.select(
        "g",
        "y",
        "d",
        F.row_number().over(wg).cast("bigint").alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("g"))
        .cast("bigint")
        .alias("ng"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("ng") + 1) / 2.0))
            | (F.col("rn") == F.floor((F.col("ng") + 2) / 2.0))
        )
        .groupBy("g")
        .agg(
            (
                F.sum(F.col("y").cast(D15)).cast("double")
                / F.count(F.lit(1))
            ).alias("med")
        )
    )
    dev = lab.join(F.broadcast(med), "g").select(
        "g", F.abs(F.col("y") - F.col("med")).alias("a"), "d"
    )
    nall = dev.agg(bcount("nn"))
    scored = (
        dev.crossJoin(F.broadcast(nall))
        .select(
            "g",
            phi_inv_col(
                0.5
                + F.row_number().over(Window.orderBy("a", "d")).cast("double")
                / (2.0 * (F.col("nn") + 1.0))
            ).alias("sc"),
        )
    )
    mom = scored.agg(
        bcount("n"),
        F.sum(F.col("sc").cast(D15)).cast("double").alias("s"),
        F.sum((F.col("sc") * F.col("sc")).cast("decimal(38,10)"))
        .cast("double")
        .alias("ss"),
    )
    grp = scored.groupBy("g").agg(
        bcount("ng"),
        F.sum(F.col("sc").cast(D15)).cast("double").alias("sg"),
    )
    devsq = (F.col("sg") / F.col("ng") - F.col("s") / F.col("n")) * (
        F.col("sg") / F.col("ng") - F.col("s") / F.col("n")
    )
    stat = F.sum((F.col("ng") * devsq).cast("decimal(38,10)")).cast(
        "double"
    ) / (
        (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
        / (F.col("n") - 1.0)
    )
    return (
        grp.crossJoin(F.broadcast(mom))
        .groupBy("s", "n", "ss")
        .agg(
            F.max(F.when(F.col("g") == 1, F.col("ng"))).alias("n_weekend"),
            F.max(F.when(F.col("g") == 0, F.col("ng"))).alias("n_weekday"),
            F.round(stat, 6).alias("fk_stat"),
            (stat > 3.841).alias("reject_equal_scale"),
        )
        .select("n_weekend", "n_weekday", "fk_stat", "reject_equal_scale")
    )
