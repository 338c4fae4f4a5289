"""Analytics batch 92: exact permutation-free randomization checks —
the sign test with exact binomial tail (paired weekday-vs-weekend
revenue), cosine-similarity histogram calibration for the LSH design
(how the corpus's similarity mass distributes over the [−1,1] range),
and a data-volume seasonality audit of the events table by hour×type.

The similarity histogram is the design input every LSH band/row choice
(q_lsh_band_sweep) silently assumes: the S-curve only helps if the
duplicate mass and the background mass are separated, and this query
shows where they actually sit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import bcount, dec
from .registry import load, register
from .similarity import _dot

# C(n,k) binomial tail is awkward cross-engine; use the normal
# approximation with continuity correction, shared literal z-cut.


@register(
    "q_sign_test",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(isodow(o_orderdate) AS BIGINT) AS dow,
             CAST(weekofyear(o_orderdate) AS BIGINT) AS wk,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DECIMAL(18,6))
               AS rev
      FROM orders WHERE year(o_orderdate) = 1995
      GROUP BY 1, 2, 3, 4
    ),
    pairs AS (
      SELECT yr, wk,
             CAST(SUM(CASE WHEN dow <= 5 THEN rev END) AS DOUBLE) / 5
               AS weekday_avg,
             CAST(SUM(CASE WHEN dow >= 6 THEN rev END) AS DOUBLE) / 2
               AS weekend_avg
      FROM daily GROUP BY yr, wk
      HAVING SUM(CASE WHEN dow <= 5 THEN rev END) IS NOT NULL
         AND SUM(CASE WHEN dow >= 6 THEN rev END) IS NOT NULL
    ),
    signs AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE weekday_avg > weekend_avg)
                  AS BIGINT) AS n_plus
      FROM pairs WHERE weekday_avg <> weekend_avg
    )
    SELECT n AS n_weeks, n_plus AS weekday_wins,
           round(CAST(n_plus AS DOUBLE) / n, 6) AS win_share,
           round((CAST(n_plus AS DOUBLE) - CAST(n AS DOUBLE) / 2
                  - CASE WHEN n_plus > n / 2.0 THEN 0.5 ELSE -0.5 END)
                 / sqrt(CAST(n AS DOUBLE) / 4), 6) AS z_continuity,
           CASE WHEN abs((CAST(n_plus AS DOUBLE) - CAST(n AS DOUBLE) / 2
                  - CASE WHEN n_plus > n / 2.0 THEN 0.5 ELSE -0.5 END)
                 / sqrt(CAST(n AS DOUBLE) / 4)) > 1.959964
                THEN 'weekday_effect' ELSE 'no_effect' END AS verdict
    FROM signs
    """,
)
def q_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sign test on paired weekly observations: within each 1995 week
    having both weekday and weekend activity (slot averages zero-filled
    over 5/2 slots), does average weekday revenue beat weekend revenue?
    Counts wins and tests the win share against 1/2 with the
    continuity-corrected normal approximation — the weakest-assumption
    paired test there is (only signs, no magnitudes, no symmetry),
    anchoring the paired family below q_wilcoxon_signed_rank (ranks) and
    the t-test (means).

    Determinism: pair values are exact-decimal averages; the win count is
    exact comparisons; z is fixed-shape algebra with a literal cut.

    Scale: weekly rollup map-side combines; the test is one row. §2.B
    [NS].
    """
    o = load(spark, sf_dir, "orders")
    dow = F.when(
        F.dayofweek("o_orderdate") == 1, 7
    ).otherwise(F.dayofweek("o_orderdate") - 1)
    daily = (
        o.filter(F.year("o_orderdate") == 1995)
        .groupBy(
            F.col("o_orderdate").cast("date").alias("d"),
            dow.cast("bigint").alias("dow"),
            F.weekofyear("o_orderdate").cast("bigint").alias("wk"),
            F.year("o_orderdate").cast("bigint").alias("yr"),
        )
        .agg(F.sum(dec("o_totalprice")).cast("decimal(18,6)").alias("rev"))
    )
    pairs = (
        daily.groupBy("yr", "wk")
        .agg(
            (F.sum(F.when(F.col("dow") <= 5, F.col("rev"))).cast("double") / 5)
            .alias("weekday_avg"),
            (F.sum(F.when(F.col("dow") >= 6, F.col("rev"))).cast("double") / 2)
            .alias("weekend_avg"),
        )
        .filter(
            F.col("weekday_avg").isNotNull() & F.col("weekend_avg").isNotNull()
        )
    )
    signs = pairs.filter(F.col("weekday_avg") != F.col("weekend_avg")).agg(
        bcount("n"),
        F.count_if(F.col("weekday_avg") > F.col("weekend_avg"))
        .cast("bigint")
        .alias("n_plus"),
    )
    nd = F.col("n").cast("double")
    cc = F.when(F.col("n_plus") > F.col("n") / 2.0, 0.5).otherwise(-0.5)
    z = (F.col("n_plus").cast("double") - nd / 2 - cc) / F.sqrt(nd / 4)
    return signs.select(
        F.col("n").alias("n_weeks"),
        F.col("n_plus").alias("weekday_wins"),
        F.round(F.col("n_plus").cast("double") / F.col("n"), 6).alias(
            "win_share"
        ),
        F.round(z, 6).alias("z_continuity"),
        F.when(F.abs(z) > 1.959964, "weekday_effect")
        .otherwise("no_effect")
        .alias("verdict"),
    )


_SIM_SAMPLE = 40  # vec_id < 40 -> 780 pairs


@register(
    "q_similarity_histogram",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < {_SIM_SAMPLE}
    ),
    pairs AS (
      SELECT round(list_cosine_similarity(
               CAST(a.embedding AS DOUBLE[]),
               CAST(b.embedding AS DOUBLE[])), 6) AS sim
      FROM s a JOIN s b ON b.vec_id > a.vec_id
    ),
    binned AS (
      SELECT CAST(FLOOR((sim + 1.0) * 5) AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM binned)
    SELECT CAST(LEAST(bin, 9) AS BIGINT) AS sim_bin,
           round(LEAST(bin, 9) / 5.0 - 1.0, 1) AS bin_lo,
           CAST(SUM(c) AS BIGINT) AS n_pairs,
           round(CAST(SUM(c) AS DOUBLE) / MAX(tot.n), 6) AS share
    FROM binned, tot
    GROUP BY LEAST(bin, 9)
    ORDER BY sim_bin
    """,
)
def q_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise cosine-similarity histogram of an embedding sample (40
    vectors, 780 pairs) over ten [−1,1) bins — the *design input* for
    every LSH threshold choice: q_lsh_band_sweep's S-curves only separate
    duplicates from background if the similarity mass is actually
    bimodal, and this query shows where the background mass sits (for
    random high-dim vectors it concentrates near 0 — the concentration
    q_jl_projection_distortion exploits).

    Determinism: cosine uses the engine's sequential-fold dot product
    rounded at 1e-6 before binning (exact floor bucketing); counts are
    integers.

    Scale: sample-bounded pairwise by construction; at corpus scale the
    histogram is estimated from a hash sample with this exact plan. §2.B
    similarity surface [NS].
    """
    emb = load(spark, sf_dir, "embeddings")
    s = emb.filter(F.col("vec_id") < _SIM_SAMPLE).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    ).withColumn("nrm", F.sqrt(_dot("e", "e")))
    # checkpointed once (r6): both pair-join sides re-scanned embeddings
    # (4 scans in the plan); the bounded sample materializes once
    s = s.localCheckpoint(eager=True)
    a = s.select(F.col("vec_id").alias("id_a"), F.col("e").alias("ea"), F.col("nrm").alias("na"))
    b = s.select(F.col("vec_id").alias("id_b"), F.col("e").alias("eb"), F.col("nrm").alias("nb"))
    pairs = a.join(
        F.broadcast(b), F.col("id_b") > F.col("id_a")
    ).select(
        # per-side norms precomputed before the pair join (similarity.py r6)
        F.round(_dot("ea", "eb") / (F.col("na") * F.col("nb")), 6).alias("sim")
    )
    binned = pairs.groupBy(
        F.floor((F.col("sim") + 1.0) * 5).cast("bigint").alias("bin")
    ).agg(bcount("c"))
    # the total and the merge both read the ≤12-row histogram once
    binned = binned.localCheckpoint(eager=True)
    tot = binned.agg(F.sum("c").cast("bigint").alias("n"))
    merged = (
        binned.crossJoin(F.broadcast(tot))
        .groupBy(F.least(F.col("bin"), F.lit(9)).cast("bigint").alias("sim_bin"))
        .agg(
            F.sum("c").cast("bigint").alias("n_pairs"),
            F.max("n").alias("n"),
        )
    )
    return merged.select(
        "sim_bin",
        F.round(F.col("sim_bin") / 5.0 - 1.0, 1).alias("bin_lo"),
        "n_pairs",
        F.round(F.col("n_pairs").cast("double") / F.col("n"), 6).alias("share"),
    ).orderBy("sim_bin")


@register(
    "q_hour_type_volume",
    oracle="""
    WITH grid AS (
      SELECT CAST(hour(ts) AS BIGINT) AS hr, event_type,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    hr_tot AS (
      SELECT hr, CAST(SUM(c) AS BIGINT) AS hc FROM grid GROUP BY hr
    ),
    peak AS (
      SELECT hr AS peak_hr, hc AS peak_c,
             ROW_NUMBER() OVER (ORDER BY hc DESC, hr) AS pick
      FROM hr_tot
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM grid)
    SELECT (SELECT CAST(peak_hr AS BIGINT) FROM peak WHERE pick = 1)
             AS peak_hour,
           (SELECT peak_c FROM peak WHERE pick = 1) AS peak_hour_events,
           round((SELECT CAST(peak_c AS DOUBLE) FROM peak WHERE pick = 1)
                 / (SELECT CAST(MIN(hc) AS DOUBLE) FROM hr_tot), 4)
             AS peak_to_trough,
           round((SELECT CAST(peak_c AS DOUBLE) FROM peak WHERE pick = 1)
                 / tot.n * 24, 4) AS peak_load_factor,
           CAST((SELECT COUNT(*) FROM hr_tot) AS BIGINT) AS hours_present
    FROM tot
    """,
)
def q_hour_type_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly load profile of the event stream: the peak hour, its
    peak-to-trough ratio, and the peak load factor (peak share × 24 —
    how much hotter than uniform the busiest hour runs) — the
    capacity-planning numbers that size executors and Kafka partitions
    for the diurnal cycle (q_dow_hour_heatmap draws the grid; this
    extracts the provisioning scalars from it).

    All-integer counts; ratios are fixed-shape; the peak pick tiebreaks
    on hour.

    Scale: one 24×|types| map-side rollup. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    grid = ev.groupBy(
        F.hour("ts").cast("bigint").alias("hr"), "event_type"
    ).agg(bcount("c"))
    # checkpointed once (r6): peak, trough and the grand total each
    # re-derived the counts (3 events scans in the plan); the ≤24×|types|
    # grid materializes once
    grid = grid.localCheckpoint(eager=True)
    hr_tot = grid.groupBy("hr").agg(F.sum("c").cast("bigint").alias("hc"))
    peak = (
        hr_tot.select(
            "hr",
            "hc",
            F.row_number()
            .over(Window.orderBy(F.col("hc").desc(), "hr"))
            .alias("pick"),
        )
        .filter(F.col("pick") == 1)
        .select(
            F.col("hr").alias("peak_hour"), F.col("hc").alias("peak_hour_events")
        )
    )
    trough = hr_tot.agg(
        F.min("hc").cast("bigint").alias("min_hc"), bcount("hours_present")
    )
    tot = grid.agg(F.sum("c").cast("bigint").alias("n"))
    s = peak.crossJoin(F.broadcast(trough)).crossJoin(F.broadcast(tot))
    return s.select(
        F.col("peak_hour").cast("bigint").alias("peak_hour"),
        "peak_hour_events",
        F.round(
            F.col("peak_hour_events").cast("double") / F.col("min_hc"), 4
        ).alias("peak_to_trough"),
        F.round(
            F.col("peak_hour_events").cast("double") / F.col("n") * 24, 4
        ).alias("peak_load_factor"),
        "hours_present",
    )
