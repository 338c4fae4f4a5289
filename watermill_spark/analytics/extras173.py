"""Analytics batch 181: Holm-Bonferroni step-down, dedup canonical
pick, and fractional-knapsack budget allocation.

Holm completes the multiple-testing shelf (Bonferroni's uniformly-more-
powerful replacement for FWER control, next to the FDR procedures
q_benjamini_yekutieli / q_storey_qvalues). The canonical pick is the
dedup pipeline's LAST step — the family finds duplicate groups; this
operator decides WHICH copy survives (longest text, id tiebreak) and
prices the storage saved. The fractional knapsack is the classic
greedy budget allocator (spend on the highest-density items until the
budget runs out, split the marginal one) — provably optimal for the
fractional case and a one-window query.

Reference parity: watermill has no analytics surface; [NS] SURVEY.md
§2.B window/statistics families + the dedup mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .extras121 import phi_cdf_sql, phi_cdf_col
from .extras167 import _NATION_EFF_SQL, _nation_eff
from .registry import load, register


@register(
    "q_holm_bonferroni",
    oracle=f"""
    WITH {_NATION_EFF_SQL},
    pv AS (
      SELECT nation,
             2.0 * (1.0 - {phi_cdf_sql("abs(diff / se)")}) AS p
      FROM eff
    ),
    ranked AS (
      SELECT nation, p,
             CAST(ROW_NUMBER() OVER (ORDER BY p, nation) AS BIGINT)
               AS rk,
             CAST(COUNT(*) OVER () AS BIGINT) AS g
      FROM pv
    ),
    adj AS (
      SELECT nation, p, rk,
             LEAST(1.0, MAX((g - rk + 1) * p)
                        OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING))
               AS p_holm
      FROM ranked
    )
    SELECT nation, round(p, 6) AS p_value, rk AS holm_rank,
           round(p_holm, 6) AS p_holm,
           CAST(p_holm < 0.05 AS BOOLEAN) AS significant_fwer05
    FROM adj ORDER BY rk
    """,
)
def q_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-down over the per-nation weekend-effect
    p-values: adjusted p_i = max_{j≤i} min(1, (G−j+1)·p_j) — uniformly
    more powerful than plain Bonferroni at the same family-wise error
    rate, the FWER complement to the FDR procedures
    (q_benjamini_yekutieli, q_storey_qvalues) on the identical study
    family, so all three corrections are directly comparable.

    Determinism: the shared decimal-exact effect builder (extras167)
    feeds the fixed A&S normal CDF; the step-down max is a prefix
    window with nation tiebreaks.

    Scale: one broadcast-star rollup; the correction reads ≤|nations|
    rows. §2.B statistics family [NS].
    """
    eff = _nation_eff(spark, sf_dir)
    pv = eff.select(
        "nation",
        (2.0 * (1.0 - phi_cdf_col(F.abs(F.col("diff") / F.col("se"))))).alias(
            "p"
        ),
    )
    wall = Window.partitionBy()
    ranked = pv.select(
        "nation",
        "p",
        F.row_number()
        .over(Window.orderBy("p", "nation"))
        .cast("bigint")
        .alias("rk"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("g"),
    )
    wcum = Window.orderBy("rk").rowsBetween(Window.unboundedPreceding, 0)
    p_holm = F.least(
        F.lit(1.0),
        F.max((F.col("g") - F.col("rk") + 1) * F.col("p")).over(wcum),
    )
    return ranked.select(
        "nation",
        F.round("p", 6).alias("p_value"),
        F.col("rk").alias("holm_rank"),
        F.round(p_holm, 6).alias("p_holm"),
        (p_holm < 0.05).alias("significant_fwer05"),
    ).orderBy("holm_rank")


@register(
    "q_dedup_canonical_pick",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, source, n_chars,
             md5(lower(trim(text))) AS h
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, n_chars, h,
             CAST(ROW_NUMBER() OVER (PARTITION BY h
                  ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk,
             CAST(COUNT(*) OVER (PARTITION BY h) AS BIGINT) AS grp_sz
      FROM hashed
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical,
           CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped,
           CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) AS BIGINT)
             AS chars_saved,
           CAST(MAX(grp_sz) AS BIGINT) AS largest_group,
           round(CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*) * 100.0, 4) AS dedup_rate_pct
    FROM ranked
    """,
)
def q_dedup_canonical_pick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalization — the dedup pipeline's final step: within each
    exact-content group (md5 of normalized text), the longest document
    survives (doc_id tiebreak) and the rest drop; reports survivors,
    drops, characters saved, the largest duplicate group, and the
    dedup rate. The detection family (q_dedup_exact,
    q_dedup_minhash_clusters) finds the groups; THIS operator encodes
    the survival policy a rewrite actually applies.

    Determinism: group membership is md5-exact; the canonical rank
    carries (n_chars DESC, doc_id) — a total order.

    Scale: one hash map + one rank window partitioned by content hash
    (parallel across groups) + one rollup; the rewrite this sizes is
    a rk=1 filter. §2.B window family + dedup mandate [NS].
    """
    docs = load(spark, sf_dir, "documents")
    hashed = docs.select(
        "doc_id",
        "n_chars",
        F.md5(F.lower(F.trim("text"))).alias("h"),
    )
    wg = Window.partitionBy("h")
    ranked = hashed.select(
        "n_chars",
        F.row_number()
        .over(wg.orderBy(F.col("n_chars").desc(), "doc_id"))
        .cast("bigint")
        .alias("rk"),
        F.count(F.lit(1)).over(wg).cast("bigint").alias("grp_sz"),
    )
    dropped = F.sum(F.when(F.col("rk") > 1, 1).otherwise(0))
    return ranked.agg(
        bcount("n_docs"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_canonical"),
        dropped.cast("bigint").alias("n_dropped"),
        F.sum(F.when(F.col("rk") > 1, F.col("n_chars")).otherwise(0))
        .cast("bigint")
        .alias("chars_saved"),
        F.max("grp_sz").cast("bigint").alias("largest_group"),
        F.round(
            dropped.cast("double") / F.count(F.lit(1)) * 100.0, 4
        ).alias("dedup_rate_pct"),
    )


@register(
    "q_fractional_knapsack",
    oracle="""
    WITH items AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE)
               AS revenue,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
               AS units
      FROM lineitem GROUP BY 1
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 0
    ),
    ranked AS (
      SELECT l_partkey, revenue, units,
             revenue / units AS density,
             CAST(SUM(units) OVER (ORDER BY revenue / units DESC,
                  l_partkey ROWS UNBOUNDED PRECEDING) AS DOUBLE)
               AS cum_units,
             CAST(SUM(CAST(revenue AS DECIMAL(38,10)))
                  OVER (ORDER BY revenue / units DESC, l_partkey
                        ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev
      FROM items
    ),
    cap AS (
      SELECT CAST(SUM(units) AS DOUBLE) * 0.2 AS capacity FROM items
    ),
    taken AS (
      SELECT r.*, c.capacity,
             CASE WHEN r.cum_units <= c.capacity THEN 1.0
                  WHEN r.cum_units - r.units < c.capacity
                  THEN (c.capacity - (r.cum_units - r.units)) / r.units
                  ELSE 0.0 END AS frac
      FROM ranked r, cap c
    )
    SELECT CAST(SUM(CASE WHEN frac = 1.0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_full_items,
           CAST(SUM(CASE WHEN frac > 0 AND frac < 1.0
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_split_items,
           round(MAX(capacity), 2) AS capacity_units,
           round(CAST(SUM(CAST(frac * revenue AS DECIMAL(38,10)))
                      AS DOUBLE), 2) AS captured_revenue,
           round(CAST(SUM(CAST(frac * revenue AS DECIMAL(38,10)))
                      AS DOUBLE)
                 / CAST(SUM(CAST(revenue AS DECIMAL(38,10))) AS DOUBLE)
                 * 100.0, 4) AS revenue_capture_pct
    FROM taken
    """,
)
def q_fractional_knapsack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional knapsack over parts: with warehouse capacity fixed at
    20% of total units, greedily stock parts by revenue density
    (revenue/unit, partkey tiebreak), splitting the marginal part —
    provably optimal for the fractional relaxation, and the density
    prefix-sum makes the entire allocation ONE window pass; reports
    how much revenue the capacity captures (the 80/20 shape made
    exact, operational twin of q_supplier_pareto / q_abc_xyz_inventory).

    Determinism: densities order with partkey tiebreaks; cumulative
    units/revenue accumulate exactly (units decimal-derived, revenue
    through DECIMAL); the marginal fraction is fixed double
    arithmetic.

    Scale: one fact rollup to the part grain + one ordered prefix
    window (range-partitioned sort at 100 TB) + a 1-row capacity
    broadcast (whitelisted). §2.B window family [NS].
    """
    li = load(spark, sf_dir, "lineitem")
    # r7: the capacity aggregate and the ranked prefix stream each
    # re-derived the part rollup (2 identical lineitem scans); the
    # key-domain grid materializes once. The density prefix window
    # itself stays single-task: its running SUM accumulates DOUBLES in
    # frame order, and that sequential addition order is the
    # cross-engine parity contract (see the window-census note in
    # OPTIMIZATION_r07.md) — regrouping it would change results.
    items = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(dec("l_extendedprice")).cast("double").alias("revenue"),
            F.sum(dec("l_quantity")).cast("double").alias("units"),
        )
        .filter(F.col("units") > 0)
        .localCheckpoint(eager=True)
    )
    wr = Window.orderBy(
        (F.col("revenue") / F.col("units")).desc(), "l_partkey"
    ).rowsBetween(Window.unboundedPreceding, 0)
    ranked = items.select(
        "l_partkey",
        "revenue",
        "units",
        F.sum("units").over(wr).cast("double").alias("cum_units"),
    )
    cap = items.agg((F.sum("units") * 0.2).cast("double").alias("capacity"))
    taken = ranked.crossJoin(F.broadcast(cap)).select(
        "revenue",
        "units",
        "capacity",
        F.when(F.col("cum_units") <= F.col("capacity"), 1.0)
        .when(
            F.col("cum_units") - F.col("units") < F.col("capacity"),
            (F.col("capacity") - (F.col("cum_units") - F.col("units")))
            / F.col("units"),
        )
        .otherwise(0.0)
        .alias("frac"),
    )
    return taken.agg(
        F.sum(F.when(F.col("frac") == 1.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_full_items"),
        F.sum(F.when((F.col("frac") > 0) & (F.col("frac") < 1.0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_split_items"),
        F.round(F.max("capacity"), 2).alias("capacity_units"),
        F.round(
            F.sum((F.col("frac") * F.col("revenue")).cast("decimal(38,10)"))
            .cast("double"),
            2,
        ).alias("captured_revenue"),
        F.round(
            F.sum((F.col("frac") * F.col("revenue")).cast("decimal(38,10)"))
            .cast("double")
            / F.sum(F.col("revenue").cast("decimal(38,10)")).cast("double")
            * 100.0,
            4,
        ).alias("revenue_capture_pct"),
    )
