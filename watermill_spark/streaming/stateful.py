"""Custom stateful streaming operators via applyInPandasWithState.

The delayed-delivery hold-back (SURVEY.md §7 hard part b): a message whose
`_watermill_delayed_until` lies in the future must be *re-emitted later*,
but a stream filter evaluates once — nothing re-triggers a filtered-out row.
Solution: per-key arbitrary state + processing-time timeout. Messages not
yet deliverable are parked in the state store; the state times out on the
processing-time trigger after their delay expires and the operator releases
them downstream.

Reference semantics: `components/delay/delay.go` + the SQL subscriber
hold-back (`docs/content/advanced/delayed-messages.md:37-40`) — here honored
uniformly for any transport, with state bounded by (undelivered messages)
per key, evicted on release.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from watermill_spark.streaming.middleware import DELAYED_UNTIL

_RELEASE_SCHEMA = StructType(
    [
        StructField("uuid", StringType()),
        StructField("metadata", MapType(StringType(), StringType())),
        StructField("payload", BinaryType()),
        StructField("topic", StringType()),
        StructField("event_time", TimestampType()),
    ]
)

# state: parked messages for the key, as parallel arrays (Spark state rows
# must be a flat struct of supported types)
_STATE_SCHEMA = StructType(
    [
        StructField("uuids", ArrayType(StringType())),
        StructField("payloads", ArrayType(BinaryType())),
        StructField("untils", ArrayType(StringType())),  # ISO strings
        StructField("metas", ArrayType(StringType())),  # JSON-encoded metadata
    ]
)


def _make_release_fn(delayed_until_key: str):
    """Build the stateful kernel as a self-contained closure (shipped BY
    VALUE by cloudpickle — executors never need this package importable;
    see operators/multimodal.py for the rationale)."""

    def release_fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        """Emit deliverable messages now; park the rest with a timeout at
        the earliest pending delivery time. Deliver/park split is a
        vectorized pandas mask over each Arrow batch — no per-row loop."""
        import datetime as _dt
        import json as _json

        import pandas as _pd

        now = _dt.datetime.utcnow()
        now_ts = _pd.Timestamp(now)
        held_u, held_p, held_t, held_m = [], [], [], []
        if state.exists:
            su, sp, st_, sm = state.get
            held_u, held_p, held_t, held_m = list(su), list(sp), list(st_), list(sm)

        out_frames = []
        for pdf in pdf_iter:
            if not len(pdf):
                continue
            metas = pdf["metadata"].map(lambda m: dict(m) if m is not None else {})
            raw = metas.map(lambda m: m.get(delayed_until_key) or None)
            raw = raw.map(
                lambda v: v.replace("Z", "+00:00") if isinstance(v, str) else None
            )
            # aware → UTC → naive; unparsable/absent → NaT (deliver now)
            until = _pd.to_datetime(raw, errors="coerce", utc=True).dt.tz_localize(
                None
            )
            deliver = until.isna() | (until <= now_ts)
            if deliver.any():
                dpdf = pdf.loc[deliver, ["uuid", "payload", "topic", "event_time"]].copy()
                dpdf.insert(1, "metadata", metas.loc[deliver])
                out_frames.append(
                    dpdf[["uuid", "metadata", "payload", "topic", "event_time"]]
                )
            parked = ~deliver
            if parked.any():
                held_u += pdf.loc[parked, "uuid"].tolist()
                held_p += pdf.loc[parked, "payload"].tolist()
                held_t += [t.isoformat() for t in until.loc[parked]]
                held_m += [_json.dumps(m) for m in metas.loc[parked]]

        # timed out or new pass: release everything whose time has come
        if held_u:
            ht = _pd.to_datetime(_pd.Series(held_t), errors="coerce")
            rel = (ht <= now_ts).to_numpy()
            if rel.any():
                out_frames.append(
                    _pd.DataFrame(
                        {
                            "uuid": [u for u, r in zip(held_u, rel) if r],
                            "metadata": [
                                _json.loads(m) for m, r in zip(held_m, rel) if r
                            ],
                            "payload": [p for p, r in zip(held_p, rel) if r],
                            "topic": None,
                            "event_time": _pd.NaT,
                        }
                    )
                )
            keep = ~rel
            held_u = [u for u, k in zip(held_u, keep) if k]
            held_p = [p for p, k in zip(held_p, keep) if k]
            held_t = [t for t, k in zip(held_t, keep) if k]
            held_m = [m for m, k in zip(held_m, keep) if k]

        if held_u:
            state.update((held_u, held_p, held_t, held_m))
            earliest = min(_dt.datetime.fromisoformat(t) for t in held_t)
            ms = max(1, int((earliest - now).total_seconds() * 1000))
            state.setTimeoutDuration(ms)
        elif state.exists:
            state.remove()

        if out_frames:
            yield _pd.concat(out_frames, ignore_index=True)

    return release_fn


def delayed_release(stream: DataFrame, key_col: str = "topic") -> DataFrame:
    """Streaming delayed-delivery operator.

    Groups by `key_col` (bounded state per key), parks not-yet-deliverable
    messages in the state store, re-emits them when their
    `_watermill_delayed_until` passes — driven by processing-time timeouts,
    so a `Trigger(processingTime=...)` query delivers them without any new
    input arriving.
    """
    keyed = stream.withColumn("_k", F.coalesce(F.col(key_col), F.lit("")))
    return keyed.groupBy("_k").applyInPandasWithState(
        _make_release_fn(DELAYED_UNTIL),
        outputStructType=_RELEASE_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


_COUNTER_OUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("batch_count", LongType()),
        StructField("running_count", LongType()),
    ]
)

_COUNTER_STATE_SCHEMA = StructType([StructField("count", LongType())])


def _make_counter_fn():
    """Build the running-counter kernel as a self-contained closure (shipped
    BY VALUE by cloudpickle, like `_make_release_fn`)."""

    def counter_fn(key, pdf_iter: Iterator[pd.DataFrame], state: GroupState):
        """Per-key running counter (the reference's real-time counter /
        exactly-once delivery counter shape, consume→update-state per
        message, here per Arrow batch)."""
        import pandas as _pd

        n = 0
        for pdf in pdf_iter:
            n += len(pdf)
        (prev,) = state.get if state.exists else (0,)
        total = prev + n
        state.update((total,))
        yield _pd.DataFrame(
            {"key": [key[0]], "batch_count": [n], "running_count": [total]}
        )

    return counter_fn


def running_counter(stream: DataFrame, key_col: str) -> DataFrame:
    """Streaming per-key running counter with arbitrary state.

    Counts survive across micro-batches in the state store (checkpointed, so
    also across restarts) — the Structured Streaming translation of the
    reference's consume-and-increment handler. Emits one row per key per
    batch with that batch's count and the running total.

    Scale: state is one long per key; the shuffle is on `key_col` exactly
    once per micro-batch; Arrow-batched Python touches only (key, count)
    pairs, not payloads, because the upstream select prunes columns.
    """
    keyed = stream.select(F.coalesce(F.col(key_col), F.lit("")).alias("_k"))
    return keyed.groupBy("_k").applyInPandasWithState(
        _make_counter_fn(),
        outputStructType=_COUNTER_OUT_SCHEMA,
        stateStructType=_COUNTER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
