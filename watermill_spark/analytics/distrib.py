"""Distributed exact global-order primitives (guide §2.5).

An unpartitioned ``Window.orderBy`` moves EVERY input row to one task
(Spark's own ``WindowExec`` "No Partition Defined" warning) — the
definitive straggler at 100 TB whenever the input is data-scaled (a fact
stream or an entity grid: per-customer/part/doc/token rollups grow with
the corpus). This module is the shared implementation of the two-level
decomposition that rounds 6's passes 13a/13f built ad hoc in
extras126 (q_goldfeld_quandt), extras148 (q_monetary_unit_sampling),
extras19/extras137 (the ABC Pareto cumsums):

1. ``repartitionByRange`` on the total order — parallel per-partition
   sorts; range partitions are ordered, so partition id IS the coarse
   rank. ``monotonically_increasing_id`` then encodes
   ``(partition << 33) | row-offset`` after ``sortWithinPartitions``.
2. A ≤nparts per-partition offset grid (row counts + exact decimal
   sums) turns offsets into exact global row numbers and running sums:
   rank = preceding-partition count + in-partition offset + 1, and
   running_sum = preceding-partition decimal sum ⊕ in-partition prefix
   (decimal addition is associative, so the two-level sum is the
   IDENTICAL exact decimal the single-task window produced, hence the
   identical double after any cast).
3. Global totals (count + per-column sums) ride the same broadcast
   offset grid — no extra 1-row cross join, no second pass.

Decimal typing rule (r6 pass 13f): adding two already-(38,s) decimals
widens past precision 38 and Spark silently drops a digit, so the
offset AND the in-partition prefix are both cast to the caller's
``narrow`` type (default precision 30 at the accumulator's scale) before
the add — lossless while |values| < 10^(30-s), which every caller
documents against its domain.

Caveats (documented contract):

- ``order_cols`` SHOULD be a unique total order (every registered query
  already tiebreaks on a key — det.py rule 4). Ties land in the same
  range partition but their relative order is unspecified; rank/running
  sums over ties are a valid-but-unspecified permutation, exactly like
  the single-task window's.
- A range partition past 2^33 rows would overflow the offset bits into
  the partition bits and silently mis-rank; the offset grid raises
  loudly instead (raise spark.sql.shuffle.partitions).
- The range-partitioned stream is ``localCheckpoint``-materialized (it
  feeds the offset aggregate and the final join) — project ``df`` down
  to the needed columns first. This is a lineage cut inside one query
  execution, not cross-run caching.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_MASK = (1 << 33) - 1


def _narrow(acc_type: str) -> str:
    """Default narrow type for offset+prefix addition: precision 30 at
    the accumulator's scale (the 13f rule: keeps the add inside 38)."""
    m = re.match(r"decimal\((\d+),(\d+)\)", acc_type.replace(" ", ""))
    if not m:
        return acc_type
    return f"decimal(30,{m.group(2)})"


def two_level_order(
    df: DataFrame,
    order_cols: list,
    rank_col: str | None = None,
    sums: list | None = None,
    total_count: str | None = None,
    nparts: int | None = None,
    project: list | None = None,
) -> DataFrame:
    """Exact global order statistics without a single-task window.

    Parameters
    ----------
    df : input (project to needed columns first; it is checkpointed).
    order_cols : columns/Columns of the (unique) global total order.
    rank_col : if set, adds this BIGINT column = exact 1-based global
        row_number over ``order_cols``.
    sums : list of dicts, each
        ``{"col": <input column name or Column>,
           "acc": "decimal(p,s)" | None,   # per-row cast / accumulator type
           "running": <out name> | None,   # running sum incl. current row
           "total": <out name> | None,     # global aggregate on every row
           "kind": "sum" (default) | "max" | "min",  # total's aggregate
           "narrow": "decimal(p,s)"}       # optional override (13f rule)
        Running/total sums are exact decimals in the ``narrow`` +
        accumulator lattice; cast them on the caller side. ``max``/``min``
        kinds are order-free (no running form; acc optional) — they ride
        the same offset grid, replacing a global MAX/MIN window.
    total_count : if set, adds this BIGINT column = global row count.
    nparts : range-partition count; defaults to
        ``spark.sql.shuffle.partitions`` (a deployment knob, not a core
        count).
    project : columns to carry through (default: all of df's). Order
        columns not listed here are dropped BEFORE the checkpoint — once
        ``_mid`` encodes the order, they are dead weight in the
        materialized stream (the in-partition windows re-order by
        ``_mid`` itself). Columns referenced by ``sums`` MUST be listed
        (they feed the per-partition aggregate after the projection).

    Returns the ``project`` columns plus the requested outputs. Raises
    ``ValueError`` (before any Spark job) when a carried column or a
    ``sums`` output is named like an internal one: ``_mid _pid _cnt
    _coff _ctot`` or ``_s{i} _soff{i} _stot{i}`` for the i-th ``sums``.
    """
    sums = list(sums or [])
    spark = df.sparkSession
    if nparts is None:
        nparts = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1)
    keep = list(project) if project is not None else list(df.columns)
    reserved = {"_mid", "_pid", "_cnt", "_coff", "_ctot"}
    for i in range(len(sums)):
        reserved |= {f"_s{i}", f"_soff{i}", f"_stot{i}"}
    names = keep + [s.get(o) for s in sums for o in ("running", "total")]
    clash = sorted(reserved.intersection(names))
    if clash:
        raise ValueError(f"two_level_order: {clash} collide with its internal columns")

    g = (
        df.repartitionByRange(nparts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .select(*keep, F.monotonically_increasing_id().alias("_mid"))
        .localCheckpoint(eager=True)
    )
    pid = F.shiftright("_mid", 33)

    aggs = [F.count(F.lit(1)).alias("_cnt")]
    for i, s in enumerate(sums):
        c = s["col"]
        c = F.col(c) if isinstance(c, str) else c
        if s.get("acc"):
            c = c.cast(s["acc"])
        kind = s.get("kind", "sum")
        fn = {"sum": F.sum, "max": F.max, "min": F.min}[kind]
        aggs.append(fn(c).alias(f"_s{i}"))
    per = g.groupBy(pid.alias("_pid")).agg(*aggs)

    wprev = Window.orderBy("_pid").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.partitionBy(F.lit(1))
    # overflow guard (see module docstring): offsets live in 33 bits
    guarded_cnt = F.when(F.col("_cnt") < F.lit(1 << 33), F.col("_cnt")).otherwise(
        F.raise_error(
            F.lit(
                "range partition exceeds 2^33 rows; raise "
                "spark.sql.shuffle.partitions"
            )
        ).cast("long")
    )
    off_cols = [
        F.col("_pid"),
        F.coalesce(F.sum(guarded_cnt).over(wprev), F.lit(0)).alias("_coff"),
        F.sum("_cnt").over(wall).alias("_ctot"),
    ]
    for i, s in enumerate(sums):
        kind = s.get("kind", "sum")
        if kind == "sum":
            narrow = s.get("narrow") or _narrow(s["acc"])
            off_cols.append(
                F.coalesce(
                    F.sum(f"_s{i}").over(wprev), F.lit(0).cast(s["acc"])
                )
                .cast(narrow)
                .alias(f"_soff{i}")
            )
            off_cols.append(F.sum(f"_s{i}").over(wall).alias(f"_stot{i}"))
        else:
            fn = F.max if kind == "max" else F.min
            off_cols.append(fn(f"_s{i}").over(wall).alias(f"_stot{i}"))
    off = per.select(*off_cols).localCheckpoint(eager=True)

    out = g.join(F.broadcast(off), pid == F.col("_pid"))
    proj = [F.col(c) for c in keep]
    if rank_col:
        proj.append(
            (F.col("_coff") + F.col("_mid").bitwiseAND(F.lit(_MASK)) + 1)
            .cast("bigint")
            .alias(rank_col)
        )
    if total_count:
        proj.append(F.col("_ctot").cast("bigint").alias(total_count))
    wrun = (
        Window.partitionBy(pid)
        .orderBy("_mid")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    for i, s in enumerate(sums):
        if s.get("running"):
            narrow = s.get("narrow") or _narrow(s["acc"])
            c = s["col"]
            c = F.col(c) if isinstance(c, str) else c
            proj.append(
                (
                    F.col(f"_soff{i}")
                    + F.sum(c.cast(s["acc"])).over(wrun).cast(narrow)
                ).alias(s["running"])
            )
        if s.get("total"):
            proj.append(F.col(f"_stot{i}").alias(s["total"]))
    return out.select(*proj)


def grid_rank_of(df: DataFrame, value_col, rank_col: str, cnt_col: str | None = None):
    """Min-rank (SQL RANK()) of every row's ``value_col`` among ALL rows,
    computed from the (value, count) grid instead of a global window:
    rank(v) = 1 + Σ_{v' < v} cnt(v'). Returns the GRID (one row per
    distinct value: value, rank_col[, cnt_col]) — join it back on the
    value. The grid's cumulative count itself uses two_level_order, so
    no stage sees more than |distinct values| / nparts rows in one task.
    """
    vc = F.col(value_col) if isinstance(value_col, str) else value_col
    grid = df.groupBy(vc.alias("_v")).agg(F.count(F.lit(1)).alias("_c"))
    ranked = two_level_order(
        grid,
        ["_v"],
        sums=[{"col": "_c", "acc": "decimal(20,0)", "running": "_cum"}],
    )
    out = [
        F.col("_v").alias(value_col if isinstance(value_col, str) else "_v"),
        (F.col("_cum").cast("bigint") - F.col("_c") + 1).alias(rank_col),
    ]
    if cnt_col:
        out.append(F.col("_c").cast("bigint").alias(cnt_col))
    return ranked.select(*out)


def ntile_of(rank: Column, n: Column, k: int) -> Column:
    """SQL NTILE(k) as a pure expression of the exact global rank and the
    total row count n: the first n % k tiles get ⌈n/k⌉ rows, the rest
    ⌊n/k⌋ — identical bucket boundaries to the window function.
    """
    q = _div(n, F.lit(k))
    m = n - q * k
    big = m * (q + 1)
    return (
        F.when(rank <= big, _div(rank - 1, q + 1) + 1)
        .otherwise(m + _div(rank - big - 1, q) + 1)
        .cast("bigint")
    )


def _div(a: Column, b: Column) -> Column:
    """Exact integer floor of a / b for nonnegative operands (SQL ``div``);
    a double quotient would round once the operands pass 2^53."""
    return F.call_function("div", a, b)
