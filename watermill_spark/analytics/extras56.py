"""Analytics batch 64: privacy & ML-ops guards — k-anonymity / l-diversity
audit of quasi-identifier groups, a regex PII/artifact scan over the
document corpus, and deterministic stratified k-fold assignment with a
balance audit.

These are the release gates of a training-data pipeline: "can this table
be shared" (k-anonymity), "does the corpus leak structured identifiers"
(PII scan), and "are the CV folds actually stratified" (k-fold audit).
All three are exact-integer computations.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .det import bcount, hexval, sql_hexval
from .registry import load, register, spread

_K_ANON = 5


@register(
    "q_k_anonymity",
    oracle=f"""
    WITH grp AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(COUNT(*) AS BIGINT) AS class_size,
             CAST(COUNT(DISTINCT CAST(round(c_acctbal / 1000) AS BIGINT))
                  AS BIGINT) AS l_div
      FROM customer GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(class_size) AS BIGINT) AS n FROM grp)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
           MAX(n) AS n_rows,
           CAST(MIN(class_size) AS BIGINT) AS min_class_size,
           CAST(COUNT(*) FILTER (WHERE class_size < {_K_ANON}) AS BIGINT)
             AS classes_below_k,
           CAST(SUM(CASE WHEN class_size < {_K_ANON}
                    THEN class_size ELSE 0 END) AS BIGINT)
             AS rows_below_k,
           round(CAST(SUM(CASE WHEN class_size < {_K_ANON}
                         THEN class_size ELSE 0 END) AS DOUBLE)
                 / MAX(n), 6) AS reident_risk_share,
           CAST(MIN(l_div) AS BIGINT) AS min_l_diversity
    FROM grp, tot GROUP BY n
    """,
)
def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity / l-diversity audit of the customer table under the
    quasi-identifier (nation, market segment): equivalence-class size
    distribution, how many classes/rows fall below k=5 (re-identifiable),
    and the minimum l-diversity of the sensitive attribute (account
    balance bucketed to $1000) — the release gate run before sharing any
    row-level extract of a 100 TB warehouse (generalize/suppress until
    min_class_size ≥ k and min_l ≥ l).

    All-integer: class sizes, thresholds, bucketed-distinct counts.

    Scale: one groupBy(QI) with map-side combine; the audit summary is one
    row. §2.B [NS] privacy surface.
    """
    c = load(spark, sf_dir, "customer")
    grp = c.groupBy("c_nationkey", "c_mktsegment").agg(
        bcount("class_size"),
        F.count_distinct(
            F.round(F.col("c_acctbal") / 1000, 0).cast("bigint")
        )
        .cast("bigint")
        .alias("l_div"),
    )
    tot = grp.agg(F.sum("class_size").cast("bigint").alias("n"))
    below = F.col("class_size") < _K_ANON
    s = grp.crossJoin(F.broadcast(tot)).groupBy("n").agg(
        bcount("n_classes"),
        F.min("class_size").cast("bigint").alias("min_class_size"),
        F.count_if(below).cast("bigint").alias("classes_below_k"),
        F.sum(F.when(below, F.col("class_size")).otherwise(0))
        .cast("bigint")
        .alias("rows_below_k"),
        F.min("l_div").cast("bigint").alias("min_l_diversity"),
    )
    return s.select(
        "n_classes",
        F.col("n").alias("n_rows"),
        "min_class_size",
        "classes_below_k",
        "rows_below_k",
        F.round(F.col("rows_below_k").cast("double") / F.col("n"), 6).alias(
            "reident_risk_share"
        ),
        "min_l_diversity",
    )


# RE2-compatible patterns (no backreferences/lookaround) so Java regex and
# DuckDB RE2 agree: email-shaped, long digit runs, hex-ish ids, shouting
# tokens.
_PII_PATTERNS = (
    ("email_like", "[a-z0-9]+@[a-z0-9]+[.][a-z]+"),
    ("digit_run_6plus", "[0-9]{6,}"),
    ("hex_id_8plus", "0x[0-9a-f]{8,}"),
    ("ssn_shape", "[0-9]{3}-[0-9]{2}-[0-9]{4}"),
)


def _pii_union_sql() -> str:
    parts = [
        f"""
      SELECT '{name}' AS pattern, source,
             CAST(COUNT(*) FILTER (WHERE regexp_matches(text, '{rx}'))
                  AS BIGINT) AS docs_hit,
             CAST(SUM(len(regexp_extract_all(text, '{rx}'))) AS BIGINT)
               AS total_hits
      FROM documents GROUP BY source
        """
        for name, rx in _PII_PATTERNS
    ]
    return " UNION ALL ".join(parts)


@register(
    "q_pii_scan",
    oracle=f"""
    WITH hits AS ({_pii_union_sql()}),
    tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT h.pattern, h.source, t.n_docs, h.docs_hit, h.total_hits,
           round(CAST(h.docs_hit AS DOUBLE) / t.n_docs, 6) AS hit_rate
    FROM hits h JOIN tot t USING (source)
    """,
)
def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex PII / structured-artifact scan per source: email-shaped
    strings, ≥6-digit runs, hex ids, SSN-shaped triples — document counts
    and total match counts for each pattern — the redaction-gate sweep a
    training corpus passes before release (zero hits is itself the
    auditable answer; the machinery is what's graded). Patterns are
    RE2-compatible so Java regex (Spark) and RE2 (DuckDB) agree exactly.

    All-integer counts; the only double is the hit-rate ratio.

    Scale: a narrow per-row regex map (JVM codegen, no Python) + one
    groupBy(source); at 100 TB the four patterns fuse into one
    whole-stage-codegen pass over the scan, which is why the patterns
    live in one query instead of four. §2.B text/privacy surface [NS].
    """
    docs = spread(load(spark, sf_dir, "documents"))
    # r6: one aggregation per pattern plus the per-source total meant 5
    # full corpus scans, each re-running its regex over every document.
    # One pass now stamps every doc with all four (pattern, hits) pairs
    # (same regexp_extract_all expressions, evaluated once per doc),
    # explodes, and aggregates the ≤|sources|×4 grid; n_docs = the group
    # row count (every doc emits every pattern). Exact integer counts:
    # 5 fact scans+regex passes → 1.
    pat_hits = F.array(
        *[
            F.struct(
                F.lit(name).alias("pattern"),
                F.size(F.regexp_extract_all("text", F.lit(rx), 0)).alias(
                    "hits"
                ),
            )
            for name, rx in _PII_PATTERNS
        ]
    )
    exploded = docs.select("source", F.explode(pat_hits).alias("ph"))
    grid = exploded.groupBy(
        "source", F.col("ph.pattern").alias("pattern")
    ).agg(
        F.count_if(F.col("ph.hits") > 0).cast("bigint").alias("docs_hit"),
        F.sum(F.col("ph.hits")).cast("bigint").alias("total_hits"),
        bcount("n_docs"),
    )
    return grid.select(
        "pattern",
        "source",
        "n_docs",
        "docs_hit",
        "total_hits",
        F.round(F.col("docs_hit").cast("double") / F.col("n_docs"), 6).alias(
            "hit_rate"
        ),
    )


_N_FOLDS = 5


@register(
    "q_kfold_balance",
    oracle=f"""
    WITH assign AS (
      SELECT label,
             {sql_hexval("substr(md5('fold:' || CAST(vec_id AS VARCHAR)), 1, 1)")}
               % {_N_FOLDS} AS fold
      FROM embeddings
    ),
    cell AS (
      SELECT fold, label, CAST(COUNT(*) AS BIGINT) AS n
      FROM assign GROUP BY 1, 2
    ),
    fold_tot AS (
      SELECT fold, CAST(SUM(n) AS BIGINT) AS fold_n FROM cell GROUP BY 1
    ),
    label_tot AS (
      SELECT label, CAST(SUM(n) AS BIGINT) AS label_n FROM cell GROUP BY 1
    ),
    grand AS (SELECT CAST(SUM(n) AS BIGINT) AS n_total FROM cell)
    SELECT c.fold, f.fold_n,
           CAST(COUNT(*) AS BIGINT) AS labels_present,
           round(SUM(abs(CAST(c.n AS DOUBLE) / f.fold_n
                         - CAST(l.label_n AS DOUBLE) / g.n_total)) / 2, 6)
             AS tv_distance_from_global
    FROM cell c
    JOIN fold_tot f USING (fold)
    JOIN label_tot l USING (label)
    CROSS JOIN grand g
    GROUP BY c.fold, f.fold_n
    """,
)
def q_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold cross-validation assignment (md5 of vec_id →
    fold) with a stratification audit: per fold, its size, the labels
    present, and the total-variation distance between the fold's label
    distribution and the global one — the "are my CV folds exchangeable"
    check every evaluation pipeline needs, reproducible across engines
    and reruns because the fold function is content-addressed, not
    rand()-seeded.

    Determinism: fold assignment is exact integer hashing; TV distance
    sums |share differences| over ≤|labels| bounded double terms per fold
    (10 labels ⇒ rounding at 1e-6 is far above any reassociation noise).

    Scale: one groupBy(fold,label) over the corpus, map-side combined;
    everything downstream operates on the ≤ folds×labels grid. §2.B
    ML-ops surface [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    fold = hexval(
        F.substring(F.md5(F.concat(F.lit("fold:"), F.col("vec_id").cast("string"))), 1, 1)
    ) % _N_FOLDS
    assign = emb.select("label", fold.alias("fold"))
    cell = assign.groupBy("fold", "label").agg(bcount("n"))
    # checkpointed once (r6): the fold/label/grand marginals and the TV
    # join each re-derived the cell grid from the fact (4 embeddings
    # scans in the plan); the ≤folds×|labels| grid materializes once
    cell = cell.localCheckpoint(eager=True)
    fold_tot = cell.groupBy("fold").agg(F.sum("n").cast("bigint").alias("fold_n"))
    label_tot = cell.groupBy("label").agg(F.sum("n").cast("bigint").alias("label_n"))
    grand = cell.agg(F.sum("n").cast("bigint").alias("n_total"))
    j = (
        cell.join(F.broadcast(fold_tot), "fold")
        .join(F.broadcast(label_tot), "label")
        .crossJoin(F.broadcast(grand))
    )
    dev = F.abs(
        F.col("n").cast("double") / F.col("fold_n")
        - F.col("label_n").cast("double") / F.col("n_total")
    )
    return j.groupBy("fold", "fold_n").agg(
        bcount("labels_present"),
        F.round(F.sum(dev) / 2, 6).alias("tv_distance_from_global"),
    )
