"""Correctness checkers. Each returns the number of failures it found."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from watermill_spark.message import CORRELATION_ID


def read_topic(topic_dir: str, columns=("uuid", "metadata")) -> pa.Table:
    """A ParquetPubSub topic's committed files (Spark's ``_``-prefixed
    staging entries are skipped)."""
    if not os.path.isdir(topic_dir):
        return pa.table({c: pa.array([], pa.string()) for c in columns})
    return ds.dataset(topic_dir, format="parquet").to_table(columns=list(columns))


def correlation_ids(metadata: pa.ChunkedArray) -> pa.Array:
    return pc.map_lookup(metadata, CORRELATION_ID, "first")


def check_routing(
    sent: pa.Array, fail: pa.Array, out_uuids, out_cids, poison_uuids, poison_cids
) -> dict[str, int]:
    """Routing through ``poison_queue → correlation_id → fail_rows``.

    ``sent`` are the input uuids and ``fail`` those the seeded rule fails.
    Counts messages that were lost, duplicated, misrouted (a failing message
    in the out topic or a passing one in the poison topic), never sent, or
    missing a correlation id."""
    sent_s = set(sent.to_pylist())
    fail_s = set(fail.to_pylist())
    out_l = pa.array(out_uuids).to_pylist()
    poison_l = pa.array(poison_uuids).to_pylist()
    out_s, poison_s = set(out_l), set(poison_l)
    no_cid = sum(
        pc.sum(pc.or_kleene(pc.is_null(c), pc.equal(c, ""))).as_py() or 0
        for c in (pa.array(out_cids, pa.string()), pa.array(poison_cids, pa.string()))
    )
    return {
        "lost": len(sent_s - out_s - poison_s),
        "duplicated": (len(out_l) - len(out_s)) + (len(poison_l) - len(poison_s))
        + len(out_s & poison_s),
        "misrouted": len(out_s & fail_s) + len(poison_s - fail_s),
        "unexpected": len((out_s | poison_s) - sent_s),
        "no_correlation_id": int(no_cid),
    }


def check_counts(expected: dict[str, int], final: dict[str, int], summed: dict[str, int]) -> dict[str, int]:
    """Running counter: each key's last running count and the sum of its
    per-batch counts both equal the batch group-by count of the input."""
    keys = set(expected) | set(final) | set(summed)
    return {
        "wrong_running_count": sum(final.get(k, 0) != expected.get(k, 0) for k in keys),
        "wrong_batch_counts": sum(summed.get(k, 0) != expected.get(k, 0) for k in keys),
    }
