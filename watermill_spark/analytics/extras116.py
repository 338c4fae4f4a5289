"""Analytics batch 124: Siegel repeated-medians slope, sessionization
gap-parameter sweep, and Cuzick's trend test across ordered groups.

Siegel's repeated medians push robust trend fitting past Theil–Sen: the
median-of-medians slope survives up to 50% contamination (Theil–Sen
breaks at ~29%). The session-gap sweep answers the question every
sessionization consumer asks — "how sensitive are my session counts to
the timeout parameter?" — by running the same gap logic at 15/30/60
minutes in one pass. Cuzick's test detects a monotone trend in an
outcome across ORDERED groups (morning → afternoon → evening) using
global ranks — the ordered-alternative refinement of Kruskal–Wallis,
which only detects "some difference".
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .det import D15, bcount, dec
from .distrib import grid_rank_of
from .registry import load, register

_GAPS_MIN = (15, 30, 60)


@register(
    "q_siegel_repeated_medians",
    oracle="""
    WITH daily AS MATERIALIZED (
      SELECT CAST(ts AS DATE) AS d,
             CAST(row_number() OVER (ORDER BY CAST(ts AS DATE)) AS DOUBLE)
               AS x,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS y
      FROM events WHERE value IS NOT NULL GROUP BY CAST(ts AS DATE)
    ),
    permed AS (
      SELECT a.x AS xi,
             median((b.y - a.y) / (b.x - a.x)) AS med_i
      FROM daily a JOIN daily b ON b.x <> a.x
      GROUP BY a.x
    ),
    slope AS (SELECT median(med_i) AS b FROM permed),
    icept AS (
      SELECT median(d.y - s.b * d.x) AS a, MAX(s.b) AS b
      FROM daily d, slope s
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_days,
           round(i.b, 6) AS slope,
           round(i.a, 6) AS intercept
    FROM icept i
    """,
)
def q_siegel_repeated_medians(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Siegel repeated-medians line for the daily revenue trend: for each
    day i take the MEDIAN of pairwise slopes to every other day, then
    the slope is the median of those per-day medians (intercept =
    median of y − b·x). Breakdown point 50% — the most
    contamination-robust simple trend estimator, one notch past
    q_theil_sen_trend's median-of-all-pairs (~29%).

    Determinism: day indices are exact; pairwise slopes are identical
    double divisions; medians are exact order statistics (both engines
    interpolate even counts as the midpoint of two identical doubles).

    Scale: the |days|² pair expansion runs on the BOUNDED day grid
    (SF-invariant, same argument as q_theil_sen_trend / isotonic);
    per-day medians partition by day. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    daily = (
        ev.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(dec("value")).cast("double").alias("y"))
        .select(
            "d",
            F.row_number().over(Window.orderBy("d")).cast("double").alias("x"),
            "y",
        )
        .localCheckpoint(eager=True)
    )
    b_side = daily.select(F.col("x").alias("bx"), F.col("y").alias("by"))
    permed = (
        daily.join(b_side, F.col("bx") != F.col("x"))
        .groupBy("x")
        .agg(
            F.median(
                (F.col("by") - F.col("y")) / (F.col("bx") - F.col("x"))
            ).alias("med_i")
        )
    )
    slope = permed.agg(F.median("med_i").alias("b"))
    icept = (
        daily.crossJoin(F.broadcast(slope))
        .agg(
            F.median(F.col("y") - F.col("b") * F.col("x")).alias("a"),
            F.max("b").alias("b"),
        )
    )
    ndays = daily.agg(bcount("n_days"))
    return (
        ndays.crossJoin(F.broadcast(icept))
        .select(
            "n_days",
            F.round("b", 6).alias("slope"),
            F.round("a", 6).alias("intercept"),
        )
    )


@register(
    "q_sessionization_gap_sweep",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, ts,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    sweep AS (
      SELECT g.gm,
             CAST(SUM(CASE WHEN gaps.gap_us IS NULL
                            OR gaps.gap_us > CAST(g.gm AS BIGINT) * 60000000
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM gaps, (SELECT unnest(ARRAY{list(_GAPS_MIN)}) AS gm) g
      GROUP BY g.gm
    )
    SELECT CAST(gm AS BIGINT) AS gap_minutes,
           n_sessions,
           n_events,
           round(CAST(n_events AS DOUBLE) / n_sessions, 6)
             AS events_per_session
    FROM sweep
    ORDER BY gap_minutes
    """,
)
def q_sessionization_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization sensitivity sweep: session counts under 15/30/60-
    minute inactivity gaps, computed in ONE pass — a session starts
    where the per-user inter-event gap exceeds the timeout (or at the
    first event), so n_sessions = count of boundary events per gap
    parameter. The parameter-stability check run before committing to
    q_events_sessionize's single timeout: if counts swing wildly
    between 15 and 60 minutes, the timeout is doing analytical work it
    shouldn't.

    Determinism: gaps are exact integer microseconds; thresholds are
    integer multiplications.

    Scale: one per-user lag window (the sessionize shuffle) then a ×3
    conditional aggregation — the sweep adds NO extra shuffles over a
    single sessionize. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    )
    sweep = spark.range(1).select(
        F.explode(F.array(*[F.lit(g) for g in _GAPS_MIN])).alias("gm")
    )
    return (
        gaps.crossJoin(F.broadcast(sweep))
        .groupBy("gm")
        .agg(
            F.sum(
                F.when(
                    F.col("gap_us").isNull()
                    | (F.col("gap_us") > F.col("gm").cast("bigint") * 60000000),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_sessions"),
            bcount("n_events"),
        )
        .select(
            F.col("gm").cast("bigint").alias("gap_minutes"),
            "n_sessions",
            "n_events",
            F.round(
                F.col("n_events").cast("double") / F.col("n_sessions"), 6
            ).alias("events_per_session"),
        )
        .orderBy("gap_minutes")
    )


@register(
    "q_cuzick_trend",
    oracle="""
    WITH obs AS MATERIALIZED (
      SELECT CASE WHEN hour(ts) < 8 THEN 0
                  WHEN hour(ts) < 16 THEN 1
                  ELSE 2 END AS grp,
             value AS v, event_id
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT grp, v,
             rank() OVER (ORDER BY v) AS rmin,
             CAST(COUNT(*) OVER (PARTITION BY v) AS BIGINT) AS cnt
      FROM obs
    ),
    avgr AS (
      SELECT grp, rmin + (cnt - 1) / 2.0 AS ar FROM ranked
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(grp * ar AS DECIMAL(38,15))) AS DOUBLE) AS l,
             CAST(SUM(grp) AS BIGINT) AS sl,
             CAST(SUM(CAST(CAST(grp AS DOUBLE) * grp AS DECIMAL(38,15)))
                  AS DOUBLE) AS sll
      FROM avgr
    )
    SELECT n AS n_events,
           round(l, 4) AS l_stat,
           round(CAST(sl AS DOUBLE) * (n + 1) / 2.0, 4) AS e_l,
           round((l - CAST(sl AS DOUBLE) * (n + 1) / 2.0)
                 / sqrt(CAST(n + 1 AS DOUBLE) / 12.0
                        * (n * sll - CAST(sl AS DOUBLE) * sl)), 6) AS z
    FROM sums
    """,
)
def q_cuzick_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cuzick's nonparametric trend test of event value across ordered
    day-parts (night < morning/afternoon < evening, scores 0/1/2):
    L = Σ score·rank (mid-ranks for ties), E[L] = Σscore·(N+1)/2,
    Var[L] = (N+1)/12·(N·Σs² − (Σs)²), z = (L−E)/√Var. Detects a
    MONOTONE drift of value across the ordered groups, where
    q_kruskal_wallis only answers "are the groups different at all" —
    the dose-response refinement.

    Determinism: mid-ranks come from rank() + per-value counts (exact,
    tie-stable); the score-weighted rank sum rides DECIMAL(38,15);
    moments are closed-form on integers.

    Scale: one global ranking window (the same sort q_mannwhitney_u
    pays) and one aggregation. §2.B [NS].
    """
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grp = (
        F.when(F.hour("ts") < 8, 0).when(F.hour("ts") < 16, 1).otherwise(2)
    )
    obs = ev.select(grp.alias("grp"), F.col("value").alias("v"))
    # r7 (guide §2.5): rank()+per-value counts ran as a single-task
    # global window over RAW events; the min-rank of a value is
    # 1 + (count of smaller values), so both now come from the
    # (value, count) grid (distrib.grid_rank_of — distributed cumulative
    # counts) joined back on the value: identical rmin/cnt per row, and
    # the window input shrinks from the fact stream to |distinct values|.
    ranked = obs.join(grid_rank_of(obs, "v", "rmin", cnt_col="cnt"), "v").select(
        "grp", "rmin", "cnt"
    )
    avgr = ranked.select(
        "grp", (F.col("rmin") + (F.col("cnt") - 1) / 2.0).alias("ar")
    )
    sums = avgr.agg(
        bcount("n"),
        F.sum((F.col("grp") * F.col("ar")).cast(D15)).cast("double").alias("l"),
        F.sum("grp").cast("bigint").alias("sl"),
        F.sum((F.col("grp").cast("double") * F.col("grp")).cast(D15))
        .cast("double")
        .alias("sll"),
    )
    n = F.col("n")
    e_l = F.col("sl").cast("double") * (n + 1) / 2.0
    var_l = (n + 1).cast("double") / 12.0 * (
        n * F.col("sll") - F.col("sl").cast("double") * F.col("sl")
    )
    return sums.select(
        F.col("n").alias("n_events"),
        F.round("l", 4).alias("l_stat"),
        F.round(e_l, 4).alias("e_l"),
        F.round((F.col("l") - e_l) / F.sqrt(var_l), 6).alias("z"),
    )
