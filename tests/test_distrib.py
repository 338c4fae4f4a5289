"""Focused tests for analytics/distrib.py — the shared two-level
global-order helper introduced in optimization round 7.

Each primitive is checked against the single-task window it replaces on
synthetic data (including ties and empty partitions), and the decimal
prefix sums are checked for exact equality — the helper's whole contract
is bit-identical results without the single-task stage.
"""

from __future__ import annotations

from decimal import Decimal

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from watermill_spark.analytics.distrib import (
    grid_rank_of,
    ntile_of,
    two_level_order,
)


def _synth(spark, n=1000, nparts=7):
    # deterministic values with heavy ties (v has only 40 distinct values)
    spark.conf.set("spark.sql.shuffle.partitions", str(nparts))
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") % 40).alias("v"),
        (F.col("id") % 7).cast("double").alias("y"),
    )


def test_rank_matches_window_row_number(spark):
    df = _synth(spark)
    got = two_level_order(df, ["v", "id"], rank_col="r", project=["id"])
    want = df.select(
        "id", F.row_number().over(Window.orderBy("v", "id")).alias("r")
    )
    assert {(x.id, x.r) for x in got.collect()} == {
        (x.id, x.r) for x in want.collect()
    }


def test_running_decimal_sum_exact(spark):
    df = _synth(spark).select(
        "id", "v", F.col("y").cast("decimal(18,6)").alias("d")
    )
    got = two_level_order(
        df,
        ["v", "id"],
        sums=[{"col": "d", "acc": "decimal(18,6)", "running": "run", "total": "tot"}],
        total_count="n",
        project=["id", "d"],
    )
    w = Window.orderBy("v", "id").rowsBetween(Window.unboundedPreceding, 0)
    want = df.select("id", F.sum("d").over(w).alias("run"))
    got_map = {x.id: Decimal(x.run) for x in got.collect()}
    for x in want.collect():
        assert got_map[x.id] == Decimal(x.run)  # exact decimal equality
    one = got.limit(1).collect()[0]
    assert one.n == 1000
    assert Decimal(one.tot) == sum(
        Decimal(r.d) for r in df.select("d").collect()
    )


def test_max_min_totals(spark):
    df = _synth(spark)
    got = two_level_order(
        df,
        ["v", "id"],
        sums=[
            {"col": "y", "kind": "max", "total": "mx"},
            {"col": "y", "kind": "min", "total": "mn"},
        ],
        project=["id", "y"],  # sums columns must survive the projection
    ).limit(1).collect()[0]
    assert got.mx == 6.0 and got.mn == 0.0


def test_ntile_of_matches_window_ntile(spark):
    for n, k in [(1000, 5), (997, 10), (10, 3), (3, 5)]:
        df = _synth(spark, n=n)
        want = df.select(
            "id", F.ntile(k).over(Window.orderBy("v", "id")).alias("t")
        )
        got = two_level_order(
            df, ["v", "id"], rank_col="r", total_count="n", project=["id"]
        ).select("id", ntile_of(F.col("r"), F.col("n"), k).alias("t"))
        assert {(x.id, x.t) for x in got.collect()} == {
            (x.id, x.t) for x in want.collect()
        }, (n, k)


def test_ntile_of_exact_above_2_53(spark):
    # past 2^53 a double quotient rounds; the floors must be exact integers
    k = 3
    rows = [(2**55 + 5, 2**55 + 5), (2**55, 2**55 + 5), (2**60 + 3, 2**61 + 1)]

    def exact(rank, n):
        q, m = divmod(n, k)
        big = m * (q + 1)
        if rank <= big:
            return (rank - 1) // (q + 1) + 1
        return m + (rank - big - 1) // q + 1

    df = spark.createDataFrame(rows, "rank bigint, n bigint")
    got = df.select("rank", "n", ntile_of(F.col("rank"), F.col("n"), k).alias("t"))
    assert {(x.rank, x.n, x.t) for x in got.collect()} == {
        (r, n, exact(r, n)) for r, n in rows
    }


@pytest.mark.parametrize(
    "name", ["_mid", "_pid", "_cnt", "_coff", "_ctot", "_s0", "_soff0", "_stot0"]
)
def test_reserved_column_names_fail_before_any_job(spark, name):
    df = spark.range(10).select("id", F.col("id").alias(name))
    run = {"col": "id", "acc": "decimal(20,0)", "running": "run"}
    calls = [
        {"project": ["id", name], "sums": [run]},
        {"project": ["id"], "sums": [dict(run, running=name)]},
        {"project": ["id"], "sums": [dict(run, total=name)]},
    ]
    sc = spark.sparkContext
    group = f"distrib-collision-{name}"
    sc.setJobGroup(group, group)
    try:
        for kw in calls:
            with pytest.raises(ValueError, match=name):
                two_level_order(df, ["id"], **kw)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert not sc.statusTracker().getJobIdsForGroup(group)


def test_grid_rank_matches_window_rank(spark):
    df = _synth(spark)
    grid = grid_rank_of(df, "v", "rmin", cnt_col="cnt")
    got = df.join(grid, "v").select("id", "rmin", "cnt")
    want = df.select(
        "id",
        F.rank().over(Window.orderBy("v")).cast("bigint").alias("rmin"),
        F.count(F.lit(1))
        .over(Window.partitionBy("v"))
        .cast("bigint")
        .alias("cnt"),
    )
    assert {(x.id, x.rmin, x.cnt) for x in got.collect()} == {
        (x.id, x.rmin, x.cnt) for x in want.collect()
    }


def test_rank_with_ties_is_valid_permutation(spark):
    # ties on the FULL order key: ranks must be a permutation of 1..n and
    # every tie group must own a contiguous rank range
    df = _synth(spark).select("id", "v")
    got = two_level_order(df, ["v"], rank_col="r", project=["v"]).collect()
    ranks = sorted(x.r for x in got)
    assert ranks == list(range(1, len(got) + 1))
    by_v = {}
    for x in got:
        by_v.setdefault(x.v, []).append(x.r)
    lo = 1
    for v in sorted(by_v):
        rs = sorted(by_v[v])
        assert rs == list(range(lo, lo + len(rs)))  # contiguous block
        lo += len(rs)
