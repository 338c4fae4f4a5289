"""The Message data model: watermill's one fundamental type, as a Row schema.

Reference (behavioral parity target, not a code port):
`/root/reference/message/message.go:25-52` — Message{UUID, Metadata
map[string]string, Payload []byte} plus ack/nack channels and context.

Spark mapping (SURVEY.md §1.4): a message is a Row of MESSAGE_SCHEMA —
deliberately congruent with Spark's Kafka source schema
(key/value/headers/topic/timestamp) so Kafka transports are a column rename,
not a conversion. Ack/Nack do not exist per-row: delivery state is carried by
micro-batch checkpoint commits (batch-granular ack; replay = nack), which
preserves the at-least-once contract (`docs/content/docs/pub-sub.md:45-52`).

Metadata writes: this module is the one place that builds a message's
metadata map. A Set overwrites: the key is dropped from the existing map
(map_filter) before the new entry is appended (map_concat), so no map is
ever built with a repeated key. Stamps are therefore correct under Spark's
default map-key dedup policy (EXCEPTION), and no session setting is read or
written for them.
"""

from __future__ import annotations

import uuid as _uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    MapType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MESSAGE_SCHEMA = StructType(
    [
        StructField("uuid", StringType(), nullable=False),
        StructField("metadata", MapType(StringType(), StringType()), nullable=True),
        StructField("payload", BinaryType(), nullable=True),
        StructField("topic", StringType(), nullable=True),
        StructField("event_time", TimestampType(), nullable=True),
    ]
)

MESSAGE_COLUMNS = [f.name for f in MESSAGE_SCHEMA.fields]

# Well-known metadata keys — same names as the reference so consumers
# interoperate (`message/router/middleware/poison.go:14-19`,
# `components/delay/delay.go:56-59`, `components/requeuer/requeuer.go:14`,
# `middleware/correlation.go:8`). Defined here (the leaf module) so any
# transport or component can import them without touching the streaming
# package — sources ↔ streaming module-level imports would cycle on
# executor workers, whose first import is the pickled UDF's own module.
REASON_POISONED = "_watermill_reason_poisoned"
POISONED_TOPIC = "_watermill_poisoned_on_topic"
POISONED_HANDLER = "_watermill_poisoned_by_handler"
# Engine extension (no reference analog): RFC3339 dead-letter time, stamped
# by the poison middleware so the replay-dedup anti-join can be bounded to
# a retention window instead of scanning the whole DLQ.
POISONED_AT = "_watermill_poisoned_at"
DELAYED_UNTIL = "_watermill_delayed_until"
DELAYED_FOR = "_watermill_delayed_for"
REQUEUER_RETRIES = "_watermill_requeuer_retries"
CORRELATION_ID = "correlation_id"


def new_message(
    payload: bytes | str,
    metadata: dict[str, str] | None = None,
    uuid: str | None = None,
    topic: str | None = None,
    event_time=None,
) -> dict[str, Any]:
    """Build one message dict (NewMessage analog, `message/message.go:54-64`)."""
    if isinstance(payload, str):
        payload = payload.encode("utf-8")
    return {
        "uuid": uuid or str(_uuid.uuid4()),
        "metadata": dict(metadata or {}),
        "payload": payload,
        "topic": topic,
        "event_time": event_time,
    }


def messages_df(spark: SparkSession, msgs: list[dict[str, Any]]) -> DataFrame:
    """Materialize message dicts as a DataFrame with MESSAGE_SCHEMA."""
    rows = [
        (
            m["uuid"],
            m.get("metadata") or {},
            m.get("payload"),
            m.get("topic"),
            m.get("event_time"),
        )
        for m in msgs
    ]
    return spark.createDataFrame(rows, MESSAGE_SCHEMA)


def ensure_message_df(df: DataFrame) -> DataFrame:
    """Project/validate an arbitrary DataFrame into message shape.

    Missing optional columns are filled (uuid generated — `uuid.go:25-27`
    NewUUID analog, via the built-in `uuid()` SQL function so generation is
    distributed, never driver-side).
    """
    cols = set(df.columns)
    out = df
    if "uuid" not in cols:
        out = out.withColumn("uuid", F.expr("uuid()"))
    if "metadata" not in cols:
        out = out.withColumn(
            "metadata", F.create_map().cast(MapType(StringType(), StringType()))
        )
    if "payload" not in cols:
        out = out.withColumn("payload", F.lit(None).cast(BinaryType()))
    if "topic" not in cols:
        out = out.withColumn("topic", F.lit(None).cast(StringType()))
    if "event_time" not in cols:
        out = out.withColumn("event_time", F.current_timestamp())
    return out.select(*MESSAGE_COLUMNS)


_META_TYPE = MapType(StringType(), StringType())


def _metadata() -> F.Column:
    return F.coalesce(F.col("metadata"), F.create_map().cast(_META_TYPE))


def _set(meta: F.Column, entries: list[tuple[F.Column, F.Column]]) -> F.Column:
    """`meta` with each (key, value) entry set: the keys are first dropped
    with map_filter, then the entries appended."""
    keys = [k for k, _ in entries]
    kept = F.map_filter(meta, lambda k, _v: ~k.isin(*keys))
    return F.map_concat(
        kept, F.create_map(*[c for k, v in entries for c in (k, v.cast("string"))])
    )


def metadata_set(**kv: str | F.Column) -> F.Column:
    """The `metadata` column with `kv` set (Metadata.Set analog,
    `message/metadata.go:13-18`): a key already present is overwritten and
    a NULL map counts as empty. For a stamp on some rows only:
    ``F.when(cond, metadata_set(...)).otherwise(F.col("metadata"))``."""
    return _set(_metadata(), [(F.lit(k), F.lit(v)) for k, v in kv.items()])


def metadata_setdefault(key: str, value: str | F.Column) -> F.Column:
    """The `metadata` column with `key` added where it is absent; a present
    value is kept. No map_filter runs, so it is the cheaper stamp for
    every-row adds."""
    meta = _metadata()
    return F.map_concat(
        meta,
        F.when(
            F.element_at(meta, key).isNull(), F.create_map(F.lit(key), F.lit(value))
        ).otherwise(F.create_map()),
    )


def metadata_from_headers(headers: F.Column) -> F.Column:
    """Metadata map from an array of (key, value binary) structs, Kafka's
    ``headers`` column. Each header is a Set in order, so the last header
    of a repeated key wins."""
    return F.aggregate(
        F.coalesce(headers, F.array()),
        F.create_map().cast(_META_TYPE),
        lambda meta, h: _set(meta, [(h["key"], h["value"])]),
    )


def with_metadata(df: DataFrame, **kv: str | F.Column) -> DataFrame:
    """Set metadata keys on every message (Metadata.Set analog,
    `message/metadata.go:13-18`); see `metadata_set`."""
    return df.withColumn("metadata", metadata_set(**kv)) if kv else df


def metadata_get(key: str) -> F.Column:
    """Column accessor for one metadata key (Metadata.Get analog,
    `message/metadata.go:7-11` — returns '' when missing in the reference;
    here NULL, with get-or-default available via coalesce)."""
    return F.element_at(F.col("metadata"), key)
